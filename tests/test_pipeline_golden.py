"""E2E golden pipeline test — the analog of the reference's
harvest→release e2e with exact pid→mainstem assertions
(/root/reference/userCode/defs_test.py:34-130).

The synthetic corpus is generated in closed form, so the exact expected
link set is computable independently (`expected_links`) and the
pipeline's emitted triples must hit P/R = 1.0 against it — strictly
stronger than the P/R ≥ 0.95 contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scheduler_spark.catalog import Catalog
from scheduler_spark.pipeline import TRIPLES_TABLE, run_pipeline
from scheduler_spark.synth import alias_df, expected_links, synth_files

N = 400


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg_catalog"))
    catalog = Catalog(root=root, spark=spark)
    files = synth_files(spark, n_files=N)
    res = run_pipeline(spark, files, alias_df(spark), catalog, run_id="golden1")
    return catalog, res


def test_pipeline_runs_and_writes(result):
    catalog, res = result
    assert not res.skipped
    assert res.n_triples > 0
    assert catalog.exists(TRIPLES_TABLE)


def test_links_match_closed_form_oracle_exactly(spark, result):
    catalog, _ = result
    triples = catalog.read(TRIPLES_TABLE)
    got = {
        (r.subj, r.obj)
        for r in triples.filter(F.col("pred") == "links_to").collect()
    }
    want = {(r.subj, r.entity_id) for r in expected_links(spark, n_files=N).collect()}
    missing = want - got
    extra = got - want
    assert not missing, f"recall miss: {sorted(missing)[:5]}"
    assert not extra, f"precision miss: {sorted(extra)[:5]}"


def test_identifier_clusters_unify_spellings(spark, result):
    catalog, _ = result
    triples = catalog.read(TRIPLES_TABLE).filter(F.col("pred") == "defines")
    # map raw identifier stem -> canonical obj; each stem must map to one obj
    rows = triples.select("obj").distinct().collect()
    stems = {}
    for r in rows:
        stem = (
            r.obj.removeprefix("ident:")
            .lower()
            .replace("_worker", "")
            .replace("worker", "")
        )
        stems.setdefault(stem, set()).add(r.obj)
    bad = {k: v for k, v in stems.items() if len(v) > 1}
    assert not bad, f"spelling variants not unified: {bad}"


def test_content_sha_carried_to_triples(spark, result):
    catalog, _ = result
    triples = catalog.read(TRIPLES_TABLE)
    files = synth_files(spark, n_files=N).withColumn("sha", F.sha2("content", 256))
    valid = files.select("sha").distinct()
    orphans = triples.join(valid, triples.content_sha == valid.sha, "left_anti")
    assert orphans.count() == 0


def test_kg_triples_match_committed_golden(spark):
    """The committed golden artifact (tools/make_golden.py) pins the
    driver-gate pipeline output exactly; any drift in extraction,
    linking, LSH, CC, or materialization fails here before the oracle
    gate sees it (≈ the reference's golden fixtures in testdata/,
    defs_test.py:75-130)."""
    from scheduler_spark.queries import _GOLDEN_TRIPLES_GLOB, kg_pipeline_triples

    golden_dir = _GOLDEN_TRIPLES_GLOB.rsplit("/", 1)[0]
    want = {tuple(r) for r in spark.read.parquet(golden_dir).collect()}
    got = {tuple(r) for r in kg_pipeline_triples(spark, sf_dir="unused").collect()}
    assert want, "golden artifact missing — run tools/make_golden.py"
    assert got == want, (
        f"pipeline drifted from golden: {len(got - want)} extra, "
        f"{len(want - got)} missing — regenerate with tools/make_golden.py "
        f"only if the change is intentional"
    )


def test_sync_commits_the_golden_triples(spark, tmp_path):
    """A full sync of the golden corpus commits exactly the (subj, pred,
    obj) set of the golden that the driver query produced: the sync and
    `kg_pipeline_triples` run one release graph."""
    from scheduler_spark.queries import _GOLDEN_TRIPLES_GLOB

    golden_dir = _GOLDEN_TRIPLES_GLOB.rsplit("/", 1)[0]
    want = {tuple(r) for r in spark.read.parquet(golden_dir).select("subj", "pred", "obj").collect()}
    catalog = Catalog(root=str(tmp_path), spark=spark)
    run_pipeline(spark, synth_files(spark, n_files=500), alias_df(spark), catalog, run_id="sync")
    got = {tuple(r) for r in catalog.read(TRIPLES_TABLE).select("subj", "pred", "obj").collect()}
    assert want
    assert got == want, f"{len(got - want)} extra, {len(want - got)} missing"


def test_sync_and_driver_query_route_through_pipeline_stages(spark, tmp_path, monkeypatch):
    """The sync and the driver query call each release-graph stage once,
    through `pipeline`'s module names — the names a stage tracer
    replaces (perfbench/kgload.py PIPELINE_STAGES)."""
    from scheduler_spark import pipeline
    from scheduler_spark.queries import kg_pipeline_triples

    calls: dict[str, int] = {}

    def counting(name):
        fn = getattr(pipeline, name)

        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        return wrapper

    stages = ["link_by_alias", "lsh_candidate_pairs", "canonicalize_values", "build_triples"]
    for name in stages:
        monkeypatch.setattr(pipeline, name, counting(name))
    catalog = Catalog(root=str(tmp_path), spark=spark)
    res = run_pipeline(spark, synth_files(spark, n_files=60), alias_df(spark), catalog, run_id="route")
    assert not res.skipped
    assert calls == dict.fromkeys(stages, 1)
    calls.clear()
    kg_pipeline_triples(spark, sf_dir="unused")
    assert calls == dict.fromkeys(stages, 1)


def test_triples_partitioned_by_source(result):
    catalog, _ = result
    import os

    parts = [
        d for d in os.listdir(catalog.table_path(TRIPLES_TABLE))
        if d.startswith("src_partition=")
    ]
    assert len(parts) > 1  # one dir per source (≈ graphs/latest/<source>_release)
