"""SparkSession factory tuned for the test/bench harness.

Local mode is a stand-in for a real cluster: keep shuffle partitioning,
AQE, and Arrow settings the way a 1000-executor deployment would want
them, sized down to the local core count.

``forget_zip_importers`` is the worker-side counterpart: it removes a
per-task import cost from the functions Spark runs in Python workers.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pg2kinesis_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or reuse) the session.

    Settings chosen for scale-out behavior, not just local speed:
    - AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy switch — the knobs that keep a 100 TB shuffle healthy.
    - shuffle.partitions sized to cores locally; on a real cluster this
      would be ~2-3x total cores (AQE coalesces the excess).
    - Arrow on for any pandas-UDF path (vectorized Python boundary).
    - UTC session timezone so timestamp semantics match the DuckDB oracle.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Python-worker connect-back window: the 15 s default fires
        # spuriously ("Python worker failed to connect back") when a
        # full 32-core test suite saturates the box while a streaming
        # query forks its first workers — the round-10 suite flake.
        # 120 s costs nothing when healthy (the socket accept returns
        # as soon as the worker is up).
        .config("spark.python.authenticate.socketTimeout", "120s")
        # openCostInBytes stays at Spark's 4 MB default DELIBERATELY:
        # lowering it (tried at 128 KB, round 8) also lowers the
        # maxSplitBytes floor, which shredded the streaming-ingest
        # index's many-small-file reads into 128 KB tasks (~1.6x on
        # ingest_batch) — while buying nothing for the single-ROW-GROUP
        # testdata files, whose splits can't cross row groups anyway.
        # Small unsplittable inputs get parallelism from the explicit
        # knobs instead (gopher_filter(parallelism=), bench
        # _table_parallel).
        # saveAsTable target for bucketed tables (in-memory catalog, no Hive);
        # out of the repo tree so tests never litter the working copy.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pg2kinesis_spark_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def forget_zip_importers() -> None:
    """Drop the cached zip-archive finders from ``sys.path_importer_cache``.

    Every Python worker task starts with ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
    each cached ``zipimporter`` re-read its whole archive directory in pure
    Python: pyspark.zip, the py4j zip and Spark's jars sit on the worker's
    ``sys.path``, so a reused worker spends ~0.15-0.2 s of every task there.
    Dropping an entry only drops the cache: the next import that needs the
    archive rebuilds it from zipimport's own directory cache without
    reading the file, and the next task's invalidation has nothing to
    re-read. Called at the top of each function that runs once per task in
    a Python worker on the CDC path.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)
