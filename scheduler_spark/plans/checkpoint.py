"""Checkpoint / resume — the bytesum-skip semantics.

The reference writes a `.bytesum` sidecar per release artifact; an
incremental pull transfers nothing when the bytesum is unchanged
(/root/reference/userCode/defs_test.py:86-98).  Here:

- each source partition (`repo`) gets an **order-independent content
  fingerprint**: `sum(xxhash64(content_sha))` + row count, hashed.
  Commutative-sum fingerprinting is O(1) memory per partition and
  independent of row order / task layout — `collect_list`+sort would
  OOM on a mega-repo at 10^12 scale.
- `dirty_partitions` anti-joins current fingerprints against the
  checkpoint table: only changed/new partitions are recomputed
  (≈ `filter_partitions` + bytesum skip).
- `sync_plan` unions the per-source quarantine counts, the dirty set and
  the checkpoint's partitions into ONE frame of one row per source, so a
  run decides everything (quarantine count, vanished sources, dirty
  sources) from a single bounded collect.
- after a successful stage, `updated_checkpoint` upserts the processed
  partitions (the reference's idempotent per-source sync).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import CHECKPOINT, enforce


def fingerprint_partitions(files_sha: DataFrame, key: str = "repo") -> DataFrame:
    """(partition, fingerprint, rows) per source partition.

    Commutative: sum of 64-bit hashes over unordered rows, then hashed
    with the count so row additions/removals/edits all flip it.
    """
    return (
        files_sha.groupBy(F.col(key).alias("partition"))
        .agg(
            F.sum(F.xxhash64("content_sha").cast("decimal(38,0)")).alias("hsum"),
            F.count(F.lit(1)).alias("rows"),
        )
        .select(
            "partition",
            F.sha2(
                F.concat_ws("|", F.col("hsum").cast("string"), F.col("rows").cast("string")),
                256,
            ).alias("fingerprint"),
            "rows",
        )
    )


def dirty_partitions(current: DataFrame, checkpoint: DataFrame | None) -> DataFrame:
    """Partitions whose fingerprint is absent from or differs vs the
    checkpoint — the only ones a resumed run recomputes."""
    if checkpoint is None:
        return current.select("partition", "fingerprint", "rows")
    clean = checkpoint.select("partition", "fingerprint")
    return (
        current.join(clean, ["partition", "fingerprint"], "left_anti")
        .select("partition", "fingerprint", "rows")
    )


def sync_plan(
    slim: DataFrame, dirty: DataFrame, checkpoint: DataFrame | None, key: str = "repo"
) -> DataFrame:
    """One row per source in the corpus or the checkpoint:
    (partition, n_bad, fingerprint, rows).

    `slim` holds every corpus row with its `_reason` (null when the row
    is valid); `dirty` is `dirty_partitions`' output.  A source present
    in the corpus has a non-null `n_bad` (its quarantined rows, possibly
    0) — null means the source vanished and only the checkpoint knows
    it.  `fingerprint`/`rows` are non-null exactly for dirty sources.
    The three inputs are unioned and grouped once (one exchange, no
    joins), and the row count is bounded by |corpus sources ∪
    checkpoint rows|.
    """
    no_long, no_str = F.lit(None).cast("long"), F.lit(None).cast("string")
    out = slim.select(
        F.col(key).alias("partition"),
        F.col("_reason").isNotNull().cast("long").alias("bad"),
        no_str.alias("fingerprint"),
        no_long.alias("rows"),
    ).unionByName(dirty.select("partition", no_long.alias("bad"), "fingerprint", "rows"))
    if checkpoint is not None:
        out = out.unionByName(
            checkpoint.select("partition", no_long.alias("bad"), no_str.alias("fingerprint"), no_long.alias("rows"))
        )
    return out.groupBy("partition").agg(
        F.sum("bad").alias("n_bad"),
        F.max("fingerprint").alias("fingerprint"),
        F.max("rows").alias("rows"),
    )


def updated_checkpoint(
    checkpoint: DataFrame | None,
    processed: DataFrame,
    snapshot_id: int,
) -> DataFrame:
    """Upsert processed partitions into the checkpoint table."""
    fresh = processed.select(
        "partition",
        "fingerprint",
        F.lit(snapshot_id).cast("long").alias("snapshot_id"),
        F.col("rows").cast("long"),
        F.current_timestamp().alias("updated_at"),
    )
    if checkpoint is None:
        return enforce(fresh, CHECKPOINT)
    kept = checkpoint.join(fresh.select("partition"), "partition", "left_anti")
    return enforce(kept.unionByName(fresh), CHECKPOINT)
