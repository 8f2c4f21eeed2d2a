"""Hand-computed gates for the round-5 graph adds: k-truss edge peeling
(operators/truss.py) and Newman modularity (operators/modularity.py).
DuckDB parity lives in the oracle gate — kg_ktruss_5truss's unrolled
peel twin and graph_modularity's LPA+formula twin
(tools/oracle_check.py)."""

from __future__ import annotations

import pytest

from scheduler_spark.operators.modularity import community_modularity
from scheduler_spark.operators.truss import ktruss


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_entity long, dst_entity long")


def test_ktruss_keeps_bowtie_supports(spark):
    # two triangles sharing edge (2,3): every edge is in >=1 triangle so
    # the 3-truss is the whole graph; the shared edge carries support 2
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)])
    out = {(r["node_u"], r["node_v"]): r["support"] for r in ktruss(e, k=3).collect()}
    assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 2, (2, 4): 1, (3, 4): 1}


def test_ktruss_drops_triangle_free_tail(spark):
    # triangle {1,2,3} with tail 3-4: the tail edge has support 0 and
    # peels; the triangle survives with per-edge support 1
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    out = {(r["node_u"], r["node_v"]): r["support"] for r in ktruss(e, k=3).collect()}
    assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_ktruss_4truss_peels_iteratively(spark):
    # on the bowtie the 4-truss needs support >=2: round 1 keeps only
    # the shared edge (2,3), round 2 finds it triangle-less and drops
    # it — a single degree-style filter would wrongly keep (2,3)
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)])
    assert ktruss(e, k=4).count() == 0


def test_ktruss_k5_is_its_own_5truss(spark):
    # K5: every edge is in exactly 3 triangles, so the 5-truss
    # (support >= 3) is the full clique; also pins selfloop/dup dropping
    pairs = [(i, j) for i in range(1, 6) for j in range(1, 6) if i < j]
    e = _edges(spark, pairs + [(1, 1), (2, 1)])
    rows = ktruss(e, k=5).collect()
    assert len(rows) == 10 and all(r["support"] == 3 for r in rows)


def test_ktruss_raises_when_rounds_exhausted(spark):
    # triangle strip 1..12: round 1 peels every (i,i+2) chord, round 2
    # empties the remaining path — max_rounds=1 must raise, never
    # return the half-peeled superset (the rounds.py budget rule)
    strip = [(i, i + 1) for i in range(1, 12)] + [(i, i + 2) for i in range(1, 11)]
    e = _edges(spark, strip)
    with pytest.raises(RuntimeError, match="did not converge within"):
        ktruss(e, k=4, max_rounds=1)
    assert ktruss(e, k=4, max_rounds=5).count() == 0


def _assign(spark, pairs):
    return spark.createDataFrame(pairs, "entity_id long, community long")


def test_modularity_two_cliques_bridge(spark):
    # triangles {1,2,3} and {4,5,6} bridged by (3,4), split on the
    # bridge: per-community term = 6/14 - (7/14)^2 = 0.178571 each,
    # Q = 0.357143 (hand-computed Newman formula)
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)])
    a = _assign(spark, [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)])
    rows = {r["community"]: r for r in community_modularity(e, a).collect()}
    assert set(rows) == {1, 4}
    for c in (1, 4):
        assert rows[c]["n_nodes"] == 3
        assert rows[c]["intra_edges"] == 3
        assert rows[c]["deg_sum"] == 7
        assert rows[c]["modularity_term"] == pytest.approx(0.178571, abs=1e-6)


def test_modularity_single_community_is_zero(spark):
    # everything in one community: Q = m/m - 1^2 = 0 exactly
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    a = _assign(spark, [(1, 9), (2, 9), (3, 9), (4, 9)])
    rows = community_modularity(e, a).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_nodes"], r["intra_edges"], r["deg_sum"]) == (4, 4, 8)
    assert r["modularity_term"] == 0.0


def test_modularity_normalizes_like_lpa(spark):
    # self-loops and duplicate/reversed edges collapse before counting,
    # so composing with label_propagation needs no re-normalization
    e = _edges(spark, [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3)])
    a = _assign(spark, [(1, 1), (2, 1), (3, 3)])
    rows = {r["community"]: r for r in community_modularity(e, a).collect()}
    # graph is path 1-2-3: m=2, m2=4; community {1,2}: intra 1, deg 1+2
    assert rows[1]["intra_edges"] == 1 and rows[1]["deg_sum"] == 3
    assert rows[3]["intra_edges"] == 0 and rows[3]["deg_sum"] == 1
    # Q-terms: 2/4 - (3/4)^2 = -0.0625 ; 0 - (1/4)^2 = -0.0625
    assert rows[1]["modularity_term"] == pytest.approx(-0.0625, abs=1e-6)
    assert rows[3]["modularity_term"] == pytest.approx(-0.0625, abs=1e-6)
