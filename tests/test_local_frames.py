"""Frames the driver builds from Python rows are JVM LocalRelations.

A ``createDataFrame(list)`` frame plans as a ``LogicalRDD`` of pickled
rows, and every job that reads it starts Python workers to unpickle them
again (0.25-0.65 s inside the KG triples job for the union-find labels
alone).  Built through Arrow, the same rows are a ``LocalRelation`` that
the JVM holds.  Each check records the frames created while an
operator runs (``SparkSession.createDataFrame``) and asserts their plans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from scheduler_spark.catalog import Catalog
from scheduler_spark.operators.components import connected_components
from scheduler_spark.pipeline import LINEAGE_TABLE, run_pipeline
from scheduler_spark.synth import alias_df, synth_files


def _assert_jvm_local(df) -> None:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


@pytest.fixture
def created(monkeypatch):
    """Every DataFrame made by SparkSession.createDataFrame while the
    test runs, in creation order."""
    frames = []
    original = SparkSession.createDataFrame

    def recording(self, *args, **kwargs):
        df = original(self, *args, **kwargs)
        frames.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", recording)
    return frames


def test_alias_dictionary_is_jvm_local(spark):
    df = alias_df(spark)
    _assert_jvm_local(df)
    assert df.count() == 80


def test_small_path_components_are_jvm_local(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("y", "z")], "src_entity string, dst_entity string"
    )
    out = connected_components(edges)
    _assert_jvm_local(out)
    assert {(r.entity_id, r.canonical_id) for r in out.collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("y", "y"), ("z", "y"),
    }


def test_pipeline_builds_only_jvm_local_frames(spark, tmp_path, monkeypatch, created):
    """The dirty set, the union-find labels and the lineage append frame
    of a sync are all LocalRelations; the lineage frame is checked as
    the catalog receives it."""
    appended = {}
    original = Catalog.append

    def recording_append(self, df, name, properties=None):
        appended[name] = df
        return original(self, df, name, properties)

    monkeypatch.setattr(Catalog, "append", recording_append)
    files = synth_files(spark, 60)
    aliases = alias_df(spark)
    created.clear()
    catalog = Catalog(root=str(tmp_path), spark=spark)
    res = run_pipeline(spark, files, aliases, catalog, run_id="local1")
    assert res.n_triples > 0
    assert len(created) >= 2  # at least the dirty set and the lineage rows
    for df in created:
        _assert_jvm_local(df)
    _assert_jvm_local(appended[LINEAGE_TABLE])
    assert appended[LINEAGE_TABLE].count() == catalog.read(LINEAGE_TABLE).count()


def test_bitmap_verify_vocabulary_is_jvm_local(spark, created):
    from scheduler_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumped"), (3, "lorem ipsum")],
        "doc_id long, text string",
    )
    created.clear()
    minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert len(created) == 1  # the vocabulary index
    _assert_jvm_local(created[0])


def test_ngram_jaccard_query_vocabulary_is_jvm_local(spark, sf_dir, created):
    from scheduler_spark.queries import all_queries

    created.clear()
    all_queries()["dedup_ngram_jaccard"](spark, sf_dir).collect()
    assert len(created) == 1  # the vocabulary index
    _assert_jvm_local(created[0])
