"""Per-partition lineage counters (≈ the reference's `prov/` crawl
provenance graph, /root/reference/docs/hdt.md:13, and its structured
log-level accounting, /root/reference/userCode/lib/dagster.py:33-59).

Counters ride on every snapshot commit as summary properties and are
queryable as a DataFrame — `groupBy(partition).agg(...)`, all built-in.
The pipeline collects them in ONE action (one row per source
partition); the snapshot totals, the top-N detail and the lineage
append frame are all built from those rows on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stage_counters(df: DataFrame, partition_col: str, run_id: str, stage: str) -> DataFrame:
    """Row/byte counters per partition for one stage of one run."""
    approx_bytes = F.sum(
        sum((F.length(c[0]) for c in df.dtypes if c[1] == "string"), F.lit(0))
    ).alias("approx_bytes")
    return (
        df.groupBy(F.col(partition_col).alias("src_partition"))
        .agg(F.count(F.lit(1)).alias("rows"), approx_bytes)
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "src_partition",
            "rows",
            "approx_bytes",
        )
    )


def counters_property(rows: list, top_n: int = 50) -> dict:
    """Condense collected `stage_counters` rows into a snapshot summary
    property dict.

    Totals always; per-partition detail capped at top_n partitions by
    rows, ties by partition name (snapshot properties must stay small —
    full detail lives in the lineage table itself).
    """
    top = sorted(rows, key=lambda r: (-r["rows"], r["src_partition"]))[:top_n]
    return {
        "total_rows": sum(r["rows"] for r in rows),
        "total_approx_bytes": sum(r["approx_bytes"] or 0 for r in rows),
        "top_partitions": [{"partition": r["src_partition"], "rows": r["rows"]} for r in top],
    }
