"""Table loading helpers for the driver-generated parquet testdata."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# prefetch_checkpoint opt-out (plan-capture tooling, debugging): any
# non-empty value disables the background materialization threads.
_NO_PREFETCH_ENV = "SPARK_GRAFT_NO_PREFETCH"


def prefetch_checkpoint(df: DataFrame) -> DataFrame:
    """Start materializing a lazily-checkpointed stage on a background
    driver thread; returns ``df`` unchanged.

    The multi-reference pipelines (curate, DSIR, BM25, MinHash) pay a
    SEQUENCE of checkpoint-materialization barriers: the driver builds
    plan N+1 (py4j + eager analysis, single-threaded) only AFTER stage
    N's materialization job finishes inside the consuming action.
    Spark's scheduler happily runs jobs submitted from driver threads
    concurrently (guide §2.6) — so the moment a checkpoint exists,
    a thread submits a noop write of it and the CLUSTER materializes
    stage N while the DRIVER constructs stage N+1. Everything
    prefetched is an ancestor of the pipeline's final action, so the
    action performs the same total work, minus the serialization:
    cached partitions are reused, in-flight ones are awaited via the
    block manager's single-flight locks — never computed twice
    concurrently.

    This is job OVERLAP within one plan instance, not caching across
    runs: a rebuilt pipeline re-materializes everything, exactly as
    the lazy checkpoints always have.

    Failure handling: the thread swallows its exception — the
    consuming action recomputes the same lineage and surfaces the
    identical error to the caller (nothing is masked, nothing leaks).
    """
    if os.environ.get(_NO_PREFETCH_ENV):
        return df

    import threading

    def _force() -> None:
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # the consuming action re-raises the real error

    threading.Thread(target=_force, daemon=True, name="ckpt-prefetch").start()
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The DuckDB oracle renders timestamps in UTC; pin the session tz so
    # results are oracle-comparable even when the harness built the
    # session with different defaults.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.parquet has shipped ts as TIMESTAMP(NANOS) (which Spark's
        # parquet reader rejects unless read as long), or TIMESTAMP(MICROS)
        # without a timezone (read as TIMESTAMP_NTZ, which watermarks
        # reject). Normalize both to TIMESTAMP: nanos→micros truncation is
        # what DuckDB applies casting TIMESTAMP_NS → TIMESTAMP, and with the
        # session tz pinned to UTC the NTZ→LTZ cast is wall-clock-identical
        # to DuckDB's naive read.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)
