"""SparkSession factory tuned for the KG-construction workload.

Local mode is the test/bench substrate; every conf here is also the one
we would ship to a 1000-executor cluster (AQE on, Arrow on, shuffle
partition count sized to the cluster, dynamic partition overwrite for
idempotent per-source sync — the reference's ``overwritePartitions``
semantics, see /root/reference/userCode/defs.py:91-98 run-key
idempotence).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (--py-files analog).

    mapInPandas closures reference module-level helpers, which
    cloudpickle serializes *by reference* — workers must be able to
    import the module.  ``spark-submit --py-files scheduler_spark.zip``
    does this in production; locally we zip the package and addPyFile
    so the engine works from any driver cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), f"scheduler_spark_py_{os.getpid()}")
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "scheduler_spark")
    spark.sparkContext.addPyFile(zip_path)


def get_spark(
    app_name: str = "scheduler_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local[N] thread count.  shuffle_partitions defaults to
    the same N locally; on a real cluster it would be ~2-3x total cores.
    """
    n = parallelism or DEFAULT_CPUS
    shuffle = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # --- planner / runtime re-optimization -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # --- Arrow transport for every pandas UDF / toPandas ----------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan split size (guide §6) ---------------------------------
        # Parameterised, NOT a constant tuned to one host: the sf* test
        # tables are single parquet FILES (lineitem sf1.0 = 126 MB / 6
        # row groups), and the 128 MB default packs the whole file into
        # ONE scan task, serializing every scan-side stage.  16 MB
        # restores row-group-level parallelism locally; a production
        # corpus has thousands of natural file splits and would run the
        # guide's 128 MB-1 GB setting via this same env knob.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # --- idempotent partitioned overwrite (bytesum-skip analog) ---
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # --- deterministic session ------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
        # --- join strategy (guide §3.1) --------------------------------
        # Static threshold stays at the 10 MB default: it acts on size
        # ESTIMATES (file size × filter selectivity guesses), and the old
        # 64 MB override made the planner broadcast the 6M-row lineitem
        # fact (~144 MB in memory) into q3/q5's joins — a 2-3 s driver
        # hash-relation build per run that AQE can never undo.  The
        # ADAPTIVE threshold acts on exact runtime sizes, so mid-size
        # dims still convert SMJ→BHJ safely at 64 MB.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD", "10m"),
        )
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_ADAPTIVE_BROADCAST_THRESHOLD", "64m"),
        )
        # --- context-cleaner cadence (guide §5 "unpersist when done") --
        # ContextCleaner frees out-of-scope checkpoint/shuffle/broadcast
        # blocks only when the DRIVER JVM garbage-collects, and a 48 GB
        # heap may not GC for the whole life of a multi-query session —
        # measured here as monotonic degradation across a 42-query run
        # (embedding_covariance 1.0 s isolated vs 3.6 s at suite end)
        # from dead localCheckpoint blocks crowding the unified-memory
        # storage region.  The default periodicGC.interval is 30 MIN —
        # never inside a query's lifetime.  Two levers, both measured:
        # a 20 GB heap (vs 48) makes young-gen GCs frequent-and-cheap so
        # the cleaner drains continuously, and a 2 min forced GC is the
        # safety net (30 s was tried: full GCs on a large heap landed
        # inside trials and cost more than the leak).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "2min"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark

