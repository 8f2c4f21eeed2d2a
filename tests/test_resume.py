"""Resume / idempotence — the bytesum-skip contract
(/root/reference/userCode/defs_test.py:86-98: unchanged bytesum ⇒
second pull transfers nothing; FIXTURES.md F6)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from scheduler_spark.catalog import Catalog
from scheduler_spark.pipeline import CHECKPOINT_TABLE, TRIPLES_TABLE, run_pipeline
from scheduler_spark.synth import alias_df, synth_files


def _partition_mtimes(catalog: Catalog, table: str) -> dict[str, float]:
    root = catalog.table_path(table)
    out = {}
    for d in os.listdir(root):
        if d.startswith("src_partition="):
            p = os.path.join(root, d)
            out[d] = max(os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p))
    return out


def test_unchanged_corpus_skips_everything(spark, tmp_path):
    catalog = Catalog(root=str(tmp_path), spark=spark)
    files = synth_files(spark, n_files=200)
    aliases = alias_df(spark)

    r1 = run_pipeline(spark, files, aliases, catalog, run_id="r1")
    assert not r1.skipped and r1.n_partitions_processed > 0
    mtimes_before = _partition_mtimes(catalog, TRIPLES_TABLE)

    r2 = run_pipeline(spark, files, aliases, catalog, run_id="r2")
    assert r2.skipped and r2.n_partitions_processed == 0
    assert _partition_mtimes(catalog, TRIPLES_TABLE) == mtimes_before


def test_changed_partition_recomputed_others_untouched(spark, tmp_path):
    catalog = Catalog(root=str(tmp_path), spark=spark)
    aliases = alias_df(spark)
    files = synth_files(spark, n_files=200).cache()
    run_pipeline(spark, files, aliases, catalog, run_id="r1")
    mtimes_before = _partition_mtimes(catalog, TRIPLES_TABLE)

    # mutate one repo's content → only that partition is dirty
    target = (
        files.filter(F.col("repo") != "mega/monorepo")
        .select("repo").distinct().orderBy("repo").first()["repo"]
    )
    changed = files.withColumn(
        "content",
        F.when(F.col("repo") == target, F.concat(F.col("content"), F.lit("\n# touched\n")))
        .otherwise(F.col("content")),
    )
    r2 = run_pipeline(spark, changed, aliases, catalog, run_id="r2")
    assert r2.n_partitions_processed == 1

    mtimes_after = _partition_mtimes(catalog, TRIPLES_TABLE)
    for part, before in mtimes_before.items():
        if part == f"src_partition={target.replace('/', '%2F')}" or target.split("/")[-1] in part:
            continue
        assert mtimes_after[part] == before, f"{part} was rewritten"

    # checkpoint reflects the new fingerprint → third run is a no-op
    r3 = run_pipeline(spark, changed, aliases, catalog, run_id="r3")
    assert r3.skipped


def test_new_partition_arriving_is_the_only_one_processed(spark, tmp_path):
    """A source appearing between runs (new repo registered in the
    catalog) is dirty-by-absence; everything else is skipped."""
    catalog = Catalog(root=str(tmp_path), spark=spark)
    aliases = alias_df(spark)
    files = synth_files(spark, n_files=150).cache()
    run_pipeline(spark, files, aliases, catalog, run_id="r1")
    mtimes_before = _partition_mtimes(catalog, TRIPLES_TABLE)

    newcomer = spark.createDataFrame(
        [("new/repo", "a.py", "e" * 40, "python", "import lib1\ndef alpha_worker(x):\n    return x\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    r2 = run_pipeline(spark, files.unionByName(newcomer), aliases, catalog, run_id="r2")
    assert r2.n_partitions_processed == 1
    mtimes_after = _partition_mtimes(catalog, TRIPLES_TABLE)
    assert "src_partition=new%2Frepo" in mtimes_after
    for part, before in mtimes_before.items():
        assert mtimes_after[part] == before, f"{part} was rewritten"


def test_vanished_source_partitions_are_pruned(spark, tmp_path):
    """A repo removed from the corpus must not leave its triples,
    mentions, or checkpoint row behind (≈ filter_partitions prune,
    /root/reference/userCode/lib/dagster.py:19-30)."""
    catalog = Catalog(root=str(tmp_path), spark=spark)
    aliases = alias_df(spark)
    files = synth_files(spark, n_files=200).cache()
    run_pipeline(spark, files, aliases, catalog, run_id="r1")

    victim = (
        files.filter(F.col("repo") != "mega/monorepo")
        .select("repo").distinct().orderBy("repo").first()["repo"]
    )
    remaining = files.filter(F.col("repo") != victim)
    mtimes_before = {
        k: v for k, v in _partition_mtimes(catalog, TRIPLES_TABLE).items()
        if k != f"src_partition={victim.replace('/', '%2F')}"
    }

    # removing a repo leaves every other fingerprint unchanged → the
    # run is prune-only (nothing recomputed, victim partitions dropped)
    r2 = run_pipeline(spark, remaining, aliases, catalog, run_id="r2")
    assert r2.skipped and r2.n_pruned_partitions == 1

    enc = f"src_partition={victim.replace('/', '%2F')}"
    for table in (TRIPLES_TABLE, "mentions"):
        assert enc not in _partition_mtimes(catalog, table), (table, enc)
    ckpt = catalog.read(CHECKPOINT_TABLE)
    assert ckpt.filter(F.col("partition") == victim).count() == 0
    # survivors untouched
    assert _partition_mtimes(catalog, TRIPLES_TABLE) == mtimes_before

    # and a third run over the same remaining corpus is a clean no-op
    r3 = run_pipeline(spark, remaining, aliases, catalog, run_id="r3")
    assert r3.skipped and r3.n_pruned_partitions == 0


def test_checkpoint_has_one_row_per_partition(spark, tmp_path):
    catalog = Catalog(root=str(tmp_path), spark=spark)
    files = synth_files(spark, n_files=200)
    run_pipeline(spark, files, alias_df(spark), catalog, run_id="r1")
    ckpt = catalog.read(CHECKPOINT_TABLE)
    n_repos = files.select("repo").distinct().count()
    assert ckpt.count() == n_repos
    assert ckpt.select("partition").distinct().count() == n_repos
