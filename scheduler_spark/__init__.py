"""scheduler_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the crawl-and-sync capabilities of
internetofwater/scheduler (reference at /root/reference, read-only).

The reference orchestrates, per source: harvest (one JSON-LD doc per
feature, keyed by content hash), release (all of a source's docs rolled
into one deduplicated graph artifact, enriched via a spatial dimension
join), incremental pull (unchanged-fingerprint partitions skipped), and
export (parquet/JDBC/object-store sinks).  See SURVEY.md for the full
operator inventory and file:line citations.

This package re-expresses those semantics Spark-first:

- ``sources``     — source catalogs (sitemap-index analog) and table readers
- ``operators``   — extraction, entity linking, connected components,
                    canonicalization, materialization, dedup, similarity,
                    text analysis, graph analytics
- ``functions``   — reusable column expressions (hashing, text metrics)
- ``plans``       — checkpoint/resume, lineage counters
- ``catalog``     — partitioned-table storage layer (parquet locally;
                    Iceberg is the drop-in production path)
"""

__version__ = "0.1.0"
