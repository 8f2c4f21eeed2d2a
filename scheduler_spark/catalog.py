"""Partitioned-table storage layer with snapshot log.

Locally this is parquet + dynamic partition overwrite + a JSONL
snapshot log per table.  The interface is deliberately the subset of
Iceberg the KG sync relies on: `overwrite_partitions`
(`df.writeTo("cat.db.t").overwritePartitions()`), `overwrite`,
`append`, `delete_partitions` (`DELETE FROM t WHERE part IN (…)`),
`read`, `exists`, and snapshot ids with summary properties
(`current_snapshot_id`, `snapshots`).  Swapping the implementation
for Iceberg rewrites these methods and nothing outside this file
(the package does not depend on an Iceberg runtime jar).

Semantics mirrored from the reference:
- per-source artifact replace, never append-duplicate
  (run_key idempotence, /root/reference/userCode/defs.py:91-98)
- snapshot log ≈ lakeFS commits (/root/reference/userCode/lib/lakefs.py:60-111)
- summary properties carry per-partition lineage counters
  (≈ the `prov/` graph, /root/reference/docs/hdt.md:13)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Any
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Catalog:
    root: str
    spark: SparkSession

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapshot_log(self, name: str) -> str:
        return os.path.join(self.root, f"{name}._snapshots.jsonl")

    # -- writes -----------------------------------------------------------
    def overwrite_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str],
        properties: dict[str, Any] | None = None,
    ) -> int:
        """Replace exactly the partitions present in `df`
        (partitionOverwriteMode=dynamic), then commit a snapshot entry.
        Returns the new snapshot id.

        The mode is set as a per-write option, not inherited from the
        session: under the default STATIC mode this write would silently
        delete every untouched partition, destroying the resume/
        idempotence contract for any caller outside session.get_spark.
        """
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.table_path(name))
        )
        return self._commit(name, "overwrite_partitions", properties or {})

    def overwrite(self, df: DataFrame, name: str, properties: dict[str, Any] | None = None) -> int:
        df.write.mode("overwrite").parquet(self.table_path(name))
        return self._commit(name, "overwrite", properties or {})

    def append(self, df: DataFrame, name: str, properties: dict[str, Any] | None = None) -> int:
        df.write.mode("append").parquet(self.table_path(name))
        return self._commit(name, "append", properties or {})

    def delete_partitions(
        self,
        name: str,
        partition_col: str,
        keys: list[str],
        properties: dict[str, Any] | None = None,
    ) -> int:
        """Drop whole partitions by key — metadata-only, no row scan
        (≈ Iceberg `DELETE FROM t WHERE part IN (…)` / the reference's
        stale-partition prune, /root/reference/userCode/lib/dagster.py:19-30).
        Missing partitions are ignored (idempotent)."""
        root = self.table_path(name)
        wanted = {str(k) for k in keys}
        dropped = []
        # match by DECODING the on-disk directory names (Spark escapes
        # only a character subset — Hive escapePathName — so forward-
        # encoding the key can miss the directory)
        for d in os.listdir(root) if os.path.isdir(root) else []:
            if not d.startswith(f"{partition_col}="):
                continue
            val = self._decode_partition_dir(d)
            if val is not None and val in wanted:
                shutil.rmtree(os.path.join(root, d))
                dropped.append(val)
        props = dict(properties or {})
        props["dropped_partitions"] = sorted(set(dropped))
        return self._commit(name, "delete_partitions", props)

    @staticmethod
    def _decode_partition_dir(dirname: str) -> str | None:
        """`part=a%20b` → `a b`: decode a partition directory name back
        to its value string (Hive escapePathName is %-escaping of a
        character subset, so unquote inverts it for any subset)."""
        enc = dirname.split("=", 1)[1]
        if enc == "__HIVE_DEFAULT_PARTITION__":
            return None
        return unquote(enc)

    # -- reads ------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.table_path(name))

    def exists(self, name: str) -> bool:
        p = self.table_path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or "=" in f
            for f in os.listdir(p)
        )

    # -- snapshots ---------------------------------------------------------
    def _commit(self, name: str, operation: str, properties: dict[str, Any]) -> int:
        os.makedirs(self.root, exist_ok=True)
        snapshot_id = self.current_snapshot_id(name) + 1
        entry = {
            "snapshot_id": snapshot_id,
            "table": name,
            "operation": operation,
            "committed_at": time.time(),
            "properties": properties,
        }
        with open(self._snapshot_log(name), "a") as f:
            f.write(json.dumps(entry) + "\n")
        return snapshot_id

    def current_snapshot_id(self, name: str) -> int:
        snaps = self.snapshots(name)
        return snaps[-1]["snapshot_id"] if snaps else 0

    def snapshots(self, name: str) -> list[dict[str, Any]]:
        path = self._snapshot_log(name)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
