"""End-to-end KG construction pipeline with resume.

The Spark recast of the reference's asset DAG (SURVEY.md §3):
catalog-refresh → harvest → release → export becomes one job:

    files ──sha256──▶ dirty-partition select (checkpoint anti-join)
          ──salted repartition──▶ mapInPandas mention extraction
          ──▶ alias broadcast-join links  +  LSH ident edges ──▶ CC
          ──▶ triples ──▶ overwrite_partitions(triples) + checkpoint

Skew: the mega-repo holds ~50% of rows (FIXTURES.md F6).  Before the
Python-worker extraction stage we repartition on (repo, salt) so no
single task owns a whole mega-repo — extraction cost is per-row, so
salting bounds task wall-clock; AQE's skew-join splitting covers the
join stages.  Per-source `max_request_concurrency` (admission control,
/root/reference/userCode/assetGroups/testdata/sitemap.xml:12 +
dagster.yaml:8-16) caps an individual source's salt fan-out.

Resume: kill the run after the triples write of some partitions and
rerun — the checkpoint anti-join selects only unfinished/changed repos,
and dynamic partition overwrite makes re-writes idempotent
(≈ bytesum skip + run_key idempotence).  Sources REMOVED from the
corpus are pruned: their triples/mentions partitions are dropped and
their checkpoint rows retired (≈ filter_partitions,
/root/reference/userCode/lib/dagster.py:19-30).

Quarantine accounting, partition fingerprints, and the vanished-source
set all derive from ONE materialized metadata pass over the corpus
(repo, path, commit, content_sha, reason — ~100 B/row, localCheckpoint
holds it at any content scale), so neither the clean nor the dirty path
ever rescans the content column before extraction.  The run's Spark
actions: that pass; one collect of one row per source (quarantine
count, vanished and dirty sets); then, on the dirty path, extraction,
LSH, CC's one bounded edge collect, one collect of the lineage counters
over the cached triples, and the commits.  Driver-built frames (dirty set,
lineage rows) are Arrow LocalRelations that no Python worker re-scans.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .operators.canonicalize import canonicalize_values
from .operators.extract import extract_mentions, with_content_sha
from .operators.linking import link_by_alias, lsh_candidate_pairs
from .operators.materialize import build_triples
from .plans.checkpoint import (
    dirty_partitions, fingerprint_partitions, sync_plan, updated_checkpoint,
)
from .plans.lineage import counters_property, stage_counters
from .schema import CHECKPOINT, local_frame

MENTIONS_TABLE = "mentions"
TRIPLES_TABLE = "triples"
CHECKPOINT_TABLE = "checkpoint"
LINEAGE_TABLE = "lineage"
QUARANTINE_TABLE = "quarantine"

# a source file beyond this is treated as malformed input (binary blob,
# generated bundle) — quarantined, not extracted
MAX_CONTENT_BYTES = 10 * 1024 * 1024


class StrictModeError(RuntimeError):
    """Raised when strict=True and any row was quarantined (the
    reference's `exit_3_is_fatal` escalation, lib/utils.py:89-97)."""


class RunTimeoutError(RuntimeError):
    """Raised when a run exceeds ``max_runtime_seconds`` — the engine
    analog of the reference's run monitor killing runs past
    max_runtime_seconds (3 days, /root/reference/dagster.yaml:18-24).

    The deadline is checked BETWEEN stages, always before the write
    block: the mentions/triples/checkpoint commits AND the
    vanished-source partition prune are all deferred to the end of the
    run, so a timed-out run leaves every data table at its previous
    snapshot (never half-pruned) and the next run's checkpoint
    anti-join simply redoes the unfinished work — the same
    idempotent-cancel semantics the reference relies on (its runs are
    resumable per-source syncs).  One exemption: quarantine rows are an
    append-only diagnostic LOG recorded before strict-mode escalation
    (the record-then-escalate contract), so a run that times out after
    the metadata stage may have appended them — they carry the run_id
    and alter no data table.
    """

    def __init__(self, stage: str, elapsed: float, limit: float) -> None:
        super().__init__(
            f"run exceeded max_runtime_seconds={limit:g} "
            f"(elapsed {elapsed:.1f}s at stage '{stage}')"
        )
        self.stage = stage
        self.elapsed = elapsed
        self.limit = limit


@dataclass
class PipelineResult:
    run_id: str
    n_partitions_processed: int
    n_triples: int
    snapshot_id: int
    skipped: bool = False
    n_quarantined: int = 0
    n_pruned_partitions: int = 0


def salted_by_source(
    files: DataFrame,
    salt: int,
    n_parts: int,
    source_widths: DataFrame | None = None,
) -> DataFrame:
    """Repartition on (repo, bounded salt) ahead of the Python-worker
    extraction stage.

    Default fan-out is `salt` keys per repo (mega-repo skew bound); a
    row in `source_widths(repo, max_concurrency)` CAPS that repo's
    fan-out at min(salt, max_concurrency) — the reference's per-source
    admission control recast as stage width.
    """
    if source_widths is not None:
        dim = F.broadcast(
            source_widths.select("repo", F.col("max_concurrency").cast("int"))
        )
        files = files.join(dim, "repo", "left")
        fanout = F.least(
            F.coalesce(F.col("max_concurrency"), F.lit(salt)), F.lit(salt)
        )
        fanout = F.greatest(fanout, F.lit(1))
    else:
        fanout = F.lit(salt)
    out = files.repartition(
        n_parts, F.col("repo"), F.pmod(F.xxhash64("path"), fanout)
    )
    return out.drop("max_concurrency") if source_widths is not None else out


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    aliases: DataFrame,
    catalog: Catalog,
    run_id: str,
    salt: int = 8,
    strict: bool = False,
    source_widths: DataFrame | None = None,
    alias_optouts: DataFrame | None = None,
    max_runtime_seconds: float | None = None,
) -> PipelineResult:
    """One incremental sync of the corpus into the triples table.

    Malformed rows (null/oversized content) are quarantined with a
    reason and the run continues — the reference's non-fatal partial
    failure (exit 3 ⇒ warn, /root/reference/userCode/lib/utils.py:89-97);
    strict=True escalates to StrictModeError after recording them.
    ``max_runtime_seconds`` bounds the run (RunTimeoutError, checked
    between stages before any table write — see the exception class).
    """
    import time

    t0 = time.monotonic()

    def _deadline(stage: str) -> None:
        if max_runtime_seconds is None:
            return
        elapsed = time.monotonic() - t0
        if elapsed > max_runtime_seconds:
            raise RunTimeoutError(stage, elapsed, max_runtime_seconds)

    # -- 0./1. single metadata pass: validation tagging + fingerprints ---
    # ONE scan of `files` materializes a slim per-row frame (repo, path,
    # commit, content_sha, _reason) — ~100 B/row regardless of content
    # size, so localCheckpoint holds it even at corpus scales where the
    # content column is TBs.  Quarantine rows, partition fingerprints,
    # AND the vanished-source set all derive from it without rescanning
    # the corpus (clean and dirty paths alike).
    reason = (
        F.when(F.col("content").isNull(), "null_content")
        .when(F.length("content") > MAX_CONTENT_BYTES, "oversized_content")
        .otherwise(F.lit(None))
    )
    slim = (
        with_content_sha(files.withColumn("_reason", reason))
        .select("repo", "path", "commit", "lang", "content_sha", "_reason")
        .localCheckpoint()
    )
    fp = fingerprint_partitions(slim.filter(F.col("_reason").isNull()))
    ckpt_path = catalog.table_path(CHECKPOINT_TABLE)  # known schema: no footer-inference job
    checkpoint = spark.read.schema(CHECKPOINT).parquet(ckpt_path) if catalog.exists(CHECKPOINT_TABLE) else None
    # ONE collect of one row per source (bounded by the source count and
    # the checkpoint's own cardinality) yields the quarantine count, the
    # vanished set and the dirty set — see plans/checkpoint.sync_plan
    dirty = dirty_partitions(fp, checkpoint)
    plan = sync_plan(slim, dirty, checkpoint).collect()
    n_quarantined = sum(r["n_bad"] or 0 for r in plan)
    # the deadline precedes even the quarantine diagnostic append, so a
    # run that times out here has written nothing at all
    _deadline("metadata")
    if n_quarantined:
        catalog.append(
            slim.filter(F.col("_reason").isNotNull()).select(
                "repo", "path", "commit",
                F.col("_reason").alias("reason"),
                F.lit(run_id).alias("run_id"),
            ),
            QUARANTINE_TABLE,
            properties={"run_id": run_id, "rows": n_quarantined},
        )
        if strict:
            raise StrictModeError(
                f"{n_quarantined} rows quarantined in strict mode (run {run_id})"
            )

    # PLAN the prune of sources that vanished from the corpus: their
    # table partitions are dropped and their checkpoint rows retired —
    # without this a removed repo's triples persist forever.  Presence
    # is judged on the RAW input (pre-validation `slim`), not on the
    # post-quarantine fingerprints: a source whose rows were all
    # quarantined this run is degraded, not removed — pruning it would
    # contradict the warn-and-continue quarantine contract.  The
    # delete_partitions EXECUTION is deferred into the terminal write
    # block (after the last deadline check), so a timed-out run never
    # half-prunes — see RunTimeoutError.
    vanished_keys = sorted(r["partition"] for r in plan if r["n_bad"] is None)
    n_pruned = len(vanished_keys)
    if vanished_keys:
        checkpoint = checkpoint.filter(~F.col("partition").isin(vanished_keys))

    def _prune_vanished() -> None:
        for table in (TRIPLES_TABLE, MENTIONS_TABLE):
            if vanished_keys and catalog.exists(table):
                catalog.delete_partitions(
                    table, "src_partition", vanished_keys,
                    properties={"run_id": run_id},
                )

    # driver-held dirty set: the checkpoint upsert reads a LocalRelation,
    # never the checkpoint parquet that the final commit overwrites
    dirty_rows = sorted((r["partition"], r["fingerprint"], r["rows"]) for r in plan if r["fingerprint"])
    dirty = local_frame(spark, dirty_rows, dirty.schema).coalesce(1)  # one checkpoint file
    n_dirty = len(dirty_rows)
    if n_dirty == 0:
        if n_pruned:
            # nothing to recompute, but the prune must still commit —
            # this IS this path's terminal write block, so the deadline
            # gates it and the deletes + checkpoint land together
            _deadline("plan")
            _prune_vanished()
            new_ckpt = updated_checkpoint(checkpoint, dirty, catalog.current_snapshot_id(TRIPLES_TABLE)).localCheckpoint()
            catalog.overwrite(new_ckpt, CHECKPOINT_TABLE, properties={"run_id": run_id})
        return PipelineResult(
            run_id, 0, 0, catalog.current_snapshot_id(TRIPLES_TABLE),
            skipped=True, n_quarantined=n_quarantined, n_pruned_partitions=n_pruned,
        )

    _deadline("plan")
    # second (and final) corpus scan: content re-read only as the
    # extraction input, restricted to the dirty sources by a filter the
    # optimizer pushes below the content read; every metadata consumer
    # (in_lang triples below) reads the checkpointed slim frame instead
    in_dirty = F.col("repo").isin([p for p, _, _ in dirty_rows])
    subset = with_content_sha(files.filter(in_dirty & reason.isNull()))
    meta_subset = slim.filter(in_dirty & F.col("_reason").isNull()).drop("_reason")

    # -- 2. salted extraction (mega-repo skew bound + per-source caps) ---
    salted = salted_by_source(subset, salt, spark.sparkContext.defaultParallelism, source_widths)
    mentions = extract_mentions(salted).cache()

    # -- 3. entity linking ----------------------------------------------
    # per-source enrichment toggle (add_associated_mainstems=false ⇒ no
    # alias links for that source; sources/sitemap.alias_enrichment_optouts)
    link_input = mentions
    if alias_optouts is not None:
        link_input = mentions.join(
            F.broadcast(alias_optouts.select("repo")), "repo", "left_anti"
        )
    linked = link_by_alias(link_input, aliases)
    ident_mentions = mentions.filter(F.col("kind") == "identifier")
    edges = lsh_candidate_pairs(ident_mentions.select("value"))
    ident_entities = canonicalize_values(ident_mentions.select("value"), edges)

    # -- 4. materialize --------------------------------------------------
    # one action over the cached triples: the per-source lineage counters,
    # from which n_triples, the snapshot properties and the lineage append
    # frame (Arrow-built) all come
    try:
        _deadline("link")
        triples = build_triples(meta_subset, linked, ident_mentions, ident_entities, run_id).cache()
        lineage = stage_counters(triples, "src_partition", run_id, "materialize")
        counters = lineage.collect()
        _deadline("materialize")
    except RunTimeoutError:
        # release cached blocks before surfacing the cancel — a
        # long-lived session must not keep a dead run's cache pinned
        mentions.unpersist()
        if "triples" in locals():
            triples.unpersist()
        raise
    props = {**counters_property(counters), "run_id": run_id}

    _prune_vanished()
    catalog.overwrite_partitions(
        mentions.withColumn("src_partition", F.col("repo")), MENTIONS_TABLE,
        ["src_partition"], properties={"run_id": run_id, "stage": "harvest"},
    )
    snapshot_id = catalog.overwrite_partitions(
        triples, TRIPLES_TABLE, ["src_partition"], properties=props
    )
    lineage = local_frame(spark, counters, lineage.schema).coalesce(1)
    catalog.append(lineage, LINEAGE_TABLE, properties={"run_id": run_id})

    # -- 5. commit checkpoint -------------------------------------------
    # materialize before overwrite: the plan reads the table being replaced
    new_ckpt = updated_checkpoint(checkpoint, dirty, snapshot_id).localCheckpoint()
    catalog.overwrite(new_ckpt, CHECKPOINT_TABLE, properties={"run_id": run_id})

    mentions.unpersist()
    triples.unpersist()
    return PipelineResult(
        run_id, n_dirty, props["total_rows"], snapshot_id,
        n_quarantined=n_quarantined, n_pruned_partitions=n_pruned,
    )
