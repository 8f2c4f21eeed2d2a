"""Spark job budget of one KG sync.

Each Spark job costs fixed driver-side time (scheduling, AQE stage
re-planning, task launch) whatever the data size, so the number of jobs
a sync issues is what a resync of a few sources cannot shrink by doing
less work.  This pins the counts of a full sync, a 1-source resync and a
no-op resync of a parquet corpus: a change that adds an action to
``run_pipeline`` shows up here as a count, not as a timing to argue
about.  The counts were measured on this code in ``local[8]`` (the test
session); a deliberate change to the pipeline's action shape updates
them.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from scheduler_spark.catalog import Catalog
from scheduler_spark.pipeline import run_pipeline
from scheduler_spark.synth import alias_df, synth_files

N_FILES = 200
CHANGED = "org/repo3"

# jobs per step, measured with this pipeline (see the module docstring);
# the previous action shape issued 45, 47 and 14
BUDGET = {"sync": 28, "resync": 29, "noop": 6}


def _jobs(spark, step, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    group = f"budget-{step}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, step)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_sync_resync_noop_job_counts(spark, tmp_path):
    files = synth_files(spark, N_FILES)
    edited = files.withColumn(
        "content",
        F.when(F.col("repo") == CHANGED, F.concat("content", F.lit("\n# edit\n")))
        .otherwise(F.col("content")),
    )
    a, b = str(tmp_path / "corpus_a"), str(tmp_path / "corpus_b")
    files.write.parquet(a)
    edited.write.parquet(b)
    aliases = alias_df(spark)
    catalog = Catalog(root=str(tmp_path / "catalog"), spark=spark)

    def sync(path, run_id):
        return lambda: run_pipeline(spark, spark.read.parquet(path), aliases, catalog, run_id)

    full, n_sync = _jobs(spark, "sync", sync(a, "full"))
    resync, n_resync = _jobs(spark, "resync", sync(b, "resync"))
    noop, n_noop = _jobs(spark, "noop", sync(b, "noop"))
    assert not full.skipped and full.n_partitions_processed == 37
    assert resync.n_partitions_processed == 1
    assert noop.skipped
    assert {"sync": n_sync, "resync": n_resync, "noop": n_noop} == BUDGET
