"""Partial-failure tolerance: malformed rows quarantined with reason,
run continues; strict mode escalates (≈ exit-3 semantics,
/root/reference/userCode/lib/utils.py:89-97; FIXTURES.md F6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scheduler_spark.catalog import Catalog
from scheduler_spark.pipeline import (
    QUARANTINE_TABLE,
    TRIPLES_TABLE,
    StrictModeError,
    run_pipeline,
)
from scheduler_spark.synth import alias_df, synth_files


def _with_bad_rows(spark, n=100, repo="bad/repo"):
    good = synth_files(spark, n_files=n)
    bad = spark.createDataFrame(
        [
            (repo, "null.py", "a" * 40, "python", None),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    return good.unionByName(bad)


def test_bad_rows_quarantined_run_continues(spark, tmp_path):
    catalog = Catalog(root=str(tmp_path), spark=spark)
    res = run_pipeline(
        spark, _with_bad_rows(spark), alias_df(spark), catalog, run_id="q1"
    )
    assert res.n_quarantined == 1
    assert res.n_triples > 0  # the good rows still flowed through
    q = catalog.read(QUARANTINE_TABLE)
    row = q.first()
    assert row.reason == "null_content" and row.repo == "bad/repo"
    # quarantined rows never reach the graph
    triples = catalog.read(TRIPLES_TABLE)
    assert triples.filter(F.col("src_partition") == "bad/repo").count() == 0


def test_strict_mode_escalates_after_recording(spark, tmp_path):
    catalog = Catalog(root=str(tmp_path), spark=spark)
    with pytest.raises(StrictModeError):
        run_pipeline(
            spark, _with_bad_rows(spark), alias_df(spark), catalog,
            run_id="q2", strict=True,
        )
    # the quarantine record was still written before the raise
    assert catalog.read(QUARANTINE_TABLE).count() == 1


def test_clean_corpus_quarantines_nothing(spark, tmp_path):
    catalog = Catalog(root=str(tmp_path), spark=spark)
    res = run_pipeline(
        spark, synth_files(spark, 50), alias_df(spark), catalog, run_id="q3", strict=True
    )
    assert res.n_quarantined == 0


def test_quarantine_count_rides_the_fingerprint_scan(spark, tmp_path):
    """Quarantine accounting must NOT cost an extra pass over the
    corpus: on an up-to-date corpus (skipped run) the pipeline performs
    exactly ONE scan of `files` — the materialized metadata pass that
    carries fingerprints AND quarantine tags.  A standalone
    `bad.count()` over `files` would make this 2 scans (and at 100 TB,
    2 full reads)."""
    n = 60
    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def probe(c):
        acc.add(1)
        return c

    files = synth_files(spark, n_files=n).withColumn("content", probe("content"))
    catalog = Catalog(root=str(tmp_path), spark=spark)
    aliases = alias_df(spark)
    run_pipeline(spark, files, aliases, catalog, run_id="s1")

    before = acc.value
    res = run_pipeline(spark, files, aliases, catalog, run_id="s2")
    assert res.skipped
    assert acc.value - before == n, (
        f"expected 1 pre-extraction scan ({n} rows), saw {(acc.value - before) / n:.1f} scans"
    )


def _bad_row_reads(spark, tmp_path, repo):
    """(times the bad row's content was read, result) across one dirty
    run over a corpus with one null-content row in `repo`."""
    bad_probes = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def probe(c):
        if c is None:
            bad_probes.add(1)
        return c

    files = _with_bad_rows(spark, n=60, repo=repo).withColumn("content", probe("content"))
    catalog = Catalog(root=str(tmp_path), spark=spark)
    res = run_pipeline(spark, files, alias_df(spark), catalog, run_id="d1")
    assert res.n_quarantined == 1 and res.n_triples > 0
    return bad_probes.value


def test_dirty_path_quarantine_write_does_not_rescan(spark, tmp_path):
    """The quarantine WRITE must reuse the metadata pass: across a
    whole dirty run a bad row in a source with NO valid rows (never
    dirty) is read exactly once — by the metadata scan.  The
    extraction-input scan is filtered to the dirty sources below the
    content read, so it never reaches that row.  A recompute-the-bad-set
    implementation adds a full pass; the old in_lang-from-corpus triples
    branch added another."""
    reads = _bad_row_reads(spark, tmp_path, "bad/repo")
    assert reads == 1, (
        f"bad row scanned {reads}x (want 1: the metadata pass) — the extraction "
        "input read a never-dirty source, or a quarantine or triples branch "
        "rescanned the corpus"
    )


def test_bad_row_in_dirty_source_is_read_twice(spark, tmp_path):
    """A bad row inside a DIRTY source is read exactly twice: by the
    metadata scan and by the extraction-input scan, whose validity
    filter must read the row to exclude it — and by nothing else."""
    reads = _bad_row_reads(spark, tmp_path, "mega/monorepo")
    assert reads == 2, (
        f"bad row scanned {reads}x (want 2: metadata + extraction input) — "
        "a quarantine or triples branch rescanned the corpus"
    )


def test_fully_quarantined_source_is_not_pruned(spark, tmp_path):
    """A source whose rows are ALL quarantined in one run (e.g.
    transiently null content) is degraded, not removed: its triples
    partitions and checkpoint row must survive — pruning is only for
    sources absent from the raw input."""
    catalog = Catalog(root=str(tmp_path), spark=spark)
    aliases = alias_df(spark)
    good = synth_files(spark, n_files=80)
    victim = good.select("repo").first().repo
    run_pipeline(spark, good, aliases, catalog, run_id="p1")
    before = (
        catalog.read(TRIPLES_TABLE)
        .filter(F.col("src_partition") == victim)
        .count()
    )
    assert before > 0

    # same corpus, but the victim repo's content goes transiently null
    degraded = good.withColumn(
        "content",
        F.when(F.col("repo") == victim, F.lit(None)).otherwise(F.col("content")),
    )
    res = run_pipeline(spark, degraded, aliases, catalog, run_id="p2")
    assert res.n_quarantined > 0
    assert res.n_pruned_partitions == 0
    # triples and checkpoint row survive the degraded run
    after = (
        catalog.read(TRIPLES_TABLE)
        .filter(F.col("src_partition") == victim)
        .count()
    )
    assert after == before
    from scheduler_spark.pipeline import CHECKPOINT_TABLE

    ckpt = catalog.read(CHECKPOINT_TABLE).filter(F.col("partition") == victim)
    assert ckpt.count() == 1
