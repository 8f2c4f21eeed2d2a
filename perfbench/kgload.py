"""KG sync workload ``kg_sync``: full sync, incremental resync and no-op
resync through ``scheduler_spark.pipeline.run_pipeline``, on a parquet
corpus written by ``synth.synth_files``.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scheduler_spark import pipeline
from scheduler_spark.catalog import Catalog
from scheduler_spark.pipeline import PipelineResult, run_pipeline
from scheduler_spark.synth import ENTITY_COUNT, IDENT_WORDS, alias_df, expected_links, synth_files

from harness import Recorder, expect, log
from spans import Tracer, wrap_catalog_write, wrap_stage

N_FILES = 10_000
N_REPOS = 40
N_SOURCES = N_REPOS + 1  # 40 regular sources plus the mega-repo
N_CHANGED = 2

# (name as bound in scheduler_spark.pipeline, layer, positional inputs counted as rows_in)
PIPELINE_STAGES = [
    ("fingerprint_partitions", "checkpoint", (0,)),
    ("dirty_partitions", "checkpoint", (0,)),
    ("updated_checkpoint", "checkpoint", (1,)),
    ("extract_mentions", "extract", (0,)),
    ("link_by_alias", "link", (0,)),
    ("lsh_candidate_pairs", "lsh", (0,)),
    ("canonicalize_values", "cc", (1,)),
    ("build_triples", "triples", None),
    ("stage_counters", "lineage", ()),
]
CATALOG_WRITES = ["overwrite_partitions", "overwrite", "append", "delete_partitions"]


def pipeline_patches(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Replacements that trace the calls ``run_pipeline`` makes."""
    out: list[tuple[object, str, object]] = [
        (pipeline, name, wrap_stage(tracer, layer, name, getattr(pipeline, name), counted))
        for name, layer, counted in PIPELINE_STAGES
    ]
    out += [
        (Catalog, name, wrap_catalog_write(tracer, name, getattr(Catalog, name)))
        for name in CATALOG_WRITES
    ]
    return out


def traced_sync(tracer: Tracer | None, sync):
    """Run ``sync()`` inside a ``pipeline`` span; the metadata pass (the
    code before the first wrapped call) is timed as a ``checkpoint`` span."""
    if tracer is None:
        return sync()
    with tracer.span("pipeline", "run_pipeline"):
        tracer.open_pending("checkpoint", "metadata_pass")
        try:
            return sync()
        finally:
            tracer.close_pending()


def triples_digest(spark: SparkSession, catalog: Catalog) -> tuple:
    """Order-insensitive digest of the committed (subj, pred, obj) set."""
    t = catalog.read(pipeline.TRIPLES_TABLE).select("subj", "pred", "obj")
    row = t.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")).alias("h1"),
        F.sum(F.hash("subj", "pred", "obj").cast("decimal(38,0)")).alias("h2"),
    ).collect()[0]
    return (row["n"], str(row["h1"]), str(row["h2"]))


def links_problems(spark: SparkSession, catalog: Catalog, n_files: int) -> list[str]:
    """The committed links_to (subj, obj) set against synth.expected_links."""
    got = (
        catalog.read(pipeline.TRIPLES_TABLE)
        .filter(F.col("pred") == "links_to")
        .select("subj", F.col("obj").alias("entity_id"))
        .distinct()
    )
    want = expected_links(spark, n_files)
    missing, extra = want.subtract(got).count(), got.subtract(want).count()
    if missing or extra:
        return [f"links_to differs from expected_links: {missing} missing, {extra} extra"]
    return []


def write_corpus(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def pick_change(seed: int) -> tuple[list[str], str]:
    """The seed picks the changed sources (never the mega-repo, whose half
    of the rows would make the resync cost depend on the seed) and the
    appended edit: one comment line citing an entity URI."""
    rng = random.Random(seed)
    changed = sorted(rng.sample([f"org/repo{i}" for i in range(N_REPOS)], N_CHANGED))
    word, ent = rng.choice(IDENT_WORDS), rng.randrange(ENTITY_COUNT)
    return changed, f"edit {word}: see https://example.org/ent/lib{ent}"


def edited(files: DataFrame, changed: list[str], edit: str) -> DataFrame:
    marker = F.when(F.col("lang") == "python", F.lit("# ")).otherwise(F.lit("// "))
    line = F.concat(F.lit("\n"), marker, F.lit(edit + "\n"))
    return files.withColumn(
        "content",
        F.when(F.col("repo").isin(changed), F.concat("content", line)).otherwise(F.col("content")),
    )


class KgSync:
    """Corpus version b is version a with 2 non-mega sources edited.

    Set-up builds version a from scratch (the cold op of the fresh JVM;
    it fixes a's expected digest and is checked against
    ``synth.expected_links``), then resyncs that catalog to b and runs a
    no-op resync, which warms the incremental path and fixes b's
    expected triple count and digest.  Each op then runs on a fresh
    catalog dir: a full sync of b, a resync to a (exactly 2 sources
    changed) and a no-op resync of a."""

    name = "kg_sync"
    steps = ["sync", "resync", "noop"]
    patches = staticmethod(pipeline_patches)

    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.expected: dict[str, tuple] = {}

    def _run(self, version: str, catalog: Catalog, run_id: str, tracer: Tracer | None = None):
        files = self.versions[version]
        return lambda: traced_sync(
            tracer, lambda: run_pipeline(self.spark, files, self.aliases, catalog, run_id)
        )

    def setup(self, rec: Recorder) -> None:
        spark = self.spark
        base = synth_files(spark, N_FILES)
        self.changed, self.edit = pick_change(self.seed)
        log(f"changed sources {self.changed}, edit {self.edit!r}")
        self.versions = {
            "a": write_corpus(spark, os.path.join(self.work, "corpus_a"), base),
            "b": write_corpus(spark, os.path.join(self.work, "corpus_b"),
                              edited(base, self.changed, self.edit)),
        }
        self.aliases = alias_df(spark)
        root = os.path.join(self.work, "catalog_setup")
        catalog = Catalog(root, spark)

        def fix(version: str):
            self.expected[version] = triples_digest(spark, catalog)
            return []

        rec.step("rebuild@setup", self._run("a", catalog, "rebuild_a"),
                 lambda r: self.check_processed(r, N_SOURCES)
                 + links_problems(spark, catalog, N_FILES) + fix("a"))
        rec.step("resync@setup", self._run("b", catalog, "resync_b"),
                 lambda r: self.check_processed(r, N_CHANGED) + fix("b"))
        rec.step("noop@setup", self._run("b", catalog, "noop_b"), lambda r: self.check_noop(r, catalog, "b"))
        shutil.rmtree(root)
        if set(self.expected) != {"a", "b"}:
            raise RuntimeError("kg_sync set-up could not fix the expected triples; see the FAILED lines above")

    @staticmethod
    def check_processed(r: PipelineResult, n: int) -> list[str]:
        return expect(not r.skipped and r.n_partitions_processed == n,
                      f"sync processed {r.n_partitions_processed} sources (want {n}), skipped={r.skipped}")

    def check_digest(self, catalog: Catalog, version: str, what: str) -> list[str]:
        return expect(triples_digest(self.spark, catalog) == self.expected[version], what)

    def check_sync(self, r: PipelineResult, catalog: Catalog) -> list[str]:
        n_b = self.expected["b"][0]
        return (
            self.check_processed(r, N_SOURCES)
            + expect(r.n_triples == n_b, f"n_triples {r.n_triples} != {n_b} fixed in set-up")
            + self.check_digest(catalog, "b", "a full sync of b differs from the set-up resync to b")
        )

    def check_resync(self, r: PipelineResult, catalog: Catalog) -> list[str]:
        return self.check_processed(r, N_CHANGED) + self.check_digest(
            catalog, "a", "triples after the resync to a differ from the full rebuild of a")

    def check_noop(self, r: PipelineResult, catalog: Catalog, version: str = "a") -> list[str]:
        return expect(r.skipped, "no-op resync was not skipped") + self.check_digest(
            catalog, version, "no-op resync changed the triples")

    def op(self, i: int, rec: Recorder, tracer: Tracer | None, tag: str) -> float | None:
        root = os.path.join(self.work, f"catalog_{i}")
        catalog = Catalog(root, self.spark)
        steps = [
            ("sync", self._run("b", catalog, f"full{i}", tracer), self.check_sync),
            ("resync", self._run("a", catalog, f"resync{i}", tracer), self.check_resync),
            ("noop", self._run("a", catalog, f"noop{i}", tracer), self.check_noop),
        ]
        total = 0.0
        for kind, fn, check in steps:
            rec.step(kind + tag, fn, lambda r: check(r, catalog))
            if rec.last is None:
                total = None
                break
            total += rec.last
        shutil.rmtree(root, ignore_errors=True)
        if total is not None:
            rec.samples["op" + tag].append(total)
        return total
