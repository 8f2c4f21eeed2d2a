"""Hand-computed gates for Louvain local moving (operators/louvain.py)
and distributed PCA (operators/pca.py).  DuckDB parity lives in the
oracle gate — louvain_communities' unrolled 2-round twin and
embedding_covariance's range-join twin (tools/oracle_check.py); the
eigenbasis half of PCA is not SQL-expressible, so it is pinned here
against numpy directly."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from scheduler_spark.operators.louvain import louvain_local_moving
from scheduler_spark.operators.pca import covariance_matrix, pca_project
from scheduler_spark.queries import all_oracles, embedding_covariance

SF = "/root/testdata/sf0.01"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_entity long, dst_entity long")


def test_louvain_triangle_collapses(spark):
    # hand-run of the gain argmax: round 1 sends 1→2, 2→1, 3→1 (ties
    # break to the smaller id); round 2 pulls node 1 into community 1
    # (ΔQ 0.2222 vs 0 for staying) — the triangle ends as ONE community
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    out = {r["entity_id"]: r["community"] for r in louvain_local_moving(e, rounds=2).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_louvain_disconnected_triangles_stay_apart(spark):
    # two disconnected triangles: the gain of any cross-merge is never
    # scored (no edge), each collapses to its own min-id community
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)])
    out = {r["entity_id"]: r["community"] for r in louvain_local_moving(e, rounds=2).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_louvain_is_deterministic(spark):
    e = _edges(spark, [(i, (i * 7) % 23) for i in range(1, 40)])
    a = sorted(map(tuple, louvain_local_moving(e, rounds=2).collect()))
    b = sorted(map(tuple, louvain_local_moving(e, rounds=2).collect()))
    assert a == b and len(a) > 0


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>",
    )


def test_covariance_matches_numpy(spark):
    rng = np.random.RandomState(7)
    data = rng.randn(40, 5).astype(np.float32)
    got = covariance_matrix(_emb(spark, data)).collect()
    want = np.cov(data.astype(np.float64).T, bias=True)
    assert len(got) == 15
    for r in got:
        assert r["cov"] == pytest.approx(want[r["dim_i"], r["dim_j"]], abs=1e-9)


def test_pca_project_matches_numpy(spark):
    # anisotropic cloud: variance concentrated along two known axes
    rng = np.random.RandomState(11)
    base = rng.randn(60, 4).astype(np.float64)
    base[:, 0] *= 5.0
    base[:, 2] *= 2.0
    df, ratios = pca_project(_emb(spark, base), k=2)
    rows = df.orderBy("vec_id").collect()
    got = np.array([r["pca_proj"] for r in rows])
    # numpy reference with the same sign convention
    x = base - base.mean(axis=0)
    cov = np.cov(base.T, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:2]
    comps = vecs[:, order].T
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1
    want = x @ comps.T
    # float32 ingestion rounds the inputs; compare at that granularity
    assert got.shape == (60, 2)
    assert np.allclose(got, want, atol=1e-4)
    assert ratios[0] > ratios[1] > 0
    assert sum(ratios) <= 1.0 + 1e-12


def test_pca_explained_variance_orders_axes(spark):
    # axis 0 dominates: the first component must align with dim 0
    rng = np.random.RandomState(3)
    data = rng.randn(80, 3)
    data[:, 0] *= 10.0
    _, ratios = pca_project(_emb(spark, data), k=3)
    assert ratios[0] > 0.9
    assert ratios[0] >= ratios[1] >= ratios[2]


def test_embedding_covariance_has_no_negative_zero(spark):
    """A covariance that rounds to zero from below must read 0.0 on both
    engines, or the driver's row hash tells them apart (at sf0.01 the
    DuckDB twin rounds one entry to -0.0)."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from oracle_check import _duck

    duck = _duck(SF).execute(all_oracles()["embedding_covariance"]).fetchall()
    ours = [tuple(r) for r in embedding_covariance(spark, SF).collect()]
    assert len(duck) == len(ours) == 2080
    for rows in (duck, ours):
        assert not [r for r in rows if r[2] == 0 and math.copysign(1.0, r[2]) < 0]
