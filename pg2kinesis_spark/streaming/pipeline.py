"""Structured Streaming CDC pipeline.

Wires the batch operators (operators/*) into a streaming dataflow:

    cdc_replay corpus or live pgcdc slot (LSN offsets)  S1/S2/S3/T5
      → plugin decode supplies begin_xid                 P1 / pgoutput kernel
      → in-batch xid stamp (coalesce(1) + mapInArrow)    W1 streaming form
      → parse/enrich/format (shared with batch)          P1-P11, F5-F8, J3
      → operation filter (null-out)                      P6/§8.6
      → foreachBatch KinesisLikeWriter                   S5-S8/T2-T4

There is one stamp (``stamp_xid``): it forward-fills the ``begin_xid``
column each plugin supplies — ``begin_xid()`` for test_decoding lines,
the shared ``decode_pgoutput`` kernel for pgoutput. wal2json needs none:
each message carries its xid.

Scale shape: every micro-batch is whole transactions, so the stamp runs
inside the source's one ordered partition (a replication slot is one
ordered log — the reference's single connection, slot.py:129) with no
shuffle and no state store; the sink is the single ordered writer the
Kinesis 1-shard contract requires (T2).

Per-task cost: a Python worker task starts by re-reading every zip archive
cached on its ``sys.path`` (~0.15-0.2 s on CPython 3.11), so the stamp body,
like the source ``read`` and the pgoutput kernels, first calls
``session.forget_zip_importers`` and the next task has nothing to re-read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg2kinesis_spark.operators.formatters import filter_operations, format_csv, format_csvpayload
from pg2kinesis_spark.operators.test_decoding import begin_xid, parse_test_decoding
from pg2kinesis_spark.operators.wal2json import parse_wal2json
from pg2kinesis_spark.session import forget_zip_importers
from pg2kinesis_spark.sinks.kinesis import SINK_ROW
from pg2kinesis_spark.sources.replay import register as register_replay


def _stamp_batches(batches):
    """``stamp_xid``'s body. Arrow chunks carry no cross-chunk order, so
    they are concatenated and stably sorted ONCE by lsn before the
    forward fill ('' before the first BEGIN; an empty-string BEGIN xid is
    a real value, as in the batch carry ``last(..., ignorenulls=True)``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    forget_zip_importers()
    chunks = [b for b in batches if b.num_rows]
    if not chunks:
        return
    t = pa.Table.from_batches(chunks)
    t = t.take(pc.sort_indices(t, sort_keys=[("lsn", "ascending")]))
    xid = pc.fill_null(pc.fill_null_forward(t.column("begin_xid")), "")
    yield from t.drop_columns(["begin_xid"]).append_column("xid", xid).combine_chunks().to_batches()


def stamp_xid(df: DataFrame) -> DataFrame:
    """W1 in streaming form: replaces ``begin_xid`` (the xid on BEGIN
    rows, NULL elsewhere) with ``xid``, the last BEGIN's xid at or before
    each row of the micro-batch. Stateless, because every batch is whole
    transactions (the replay source rounds up to one, Postgres's peek
    returns them)."""
    fields = [f for f in df.schema.fields if f.name != "begin_xid"]
    return df.coalesce(1).mapInArrow(
        _stamp_batches, T.StructType(fields + [T.StructField("xid", T.StringType())])
    )


def read_replay_stream(spark: SparkSession, corpus_path: str, rows_per_batch: int = 1000, ack_log: str | None = None) -> DataFrame:
    register_replay(spark)
    reader = (
        spark.readStream.format("cdc_replay")
        .option("path", corpus_path)
        .option("rowsperbatch", str(rows_per_batch))
    )
    if ack_log:
        reader = reader.option("acklog", ack_log)
    return reader.load()


def read_pgcdc_stream(
    spark: SparkSession,
    dsn: str,
    slot: str = "pg2kinesis",
    plugin: str = "test_decoding",
    rows_per_batch: int = 1000,
) -> DataFrame:
    """Live source (S1): registers the pgcdc Python DataSource and builds
    the stream DataFrame. Schema resolution needs no Postgres connection —
    psycopg2 is only required once the query starts consuming the slot."""
    from pg2kinesis_spark.sources.pgcdc import PgCdcDataSource

    spark.dataSource.register(PgCdcDataSource)
    return (
        spark.readStream.format("pgcdc")
        .option("dsn", dsn)
        .option("slot", slot)
        .option("plugin", plugin)
        .option("rowsperbatch", str(rows_per_batch))
        .load()
    )


def _raw_stream(spark, source, rows_per_batch, ack_log) -> DataFrame:
    """Source dispatch: a pre-built streaming DataFrame (pgcdc or any
    other registered source) passes through; a string is a replay corpus
    path. Never constructs the replay reader with path=None."""
    if isinstance(source, DataFrame):
        return source
    if not source:
        raise ValueError(
            "source must be a streaming DataFrame (e.g. read_pgcdc_stream) "
            "or a replay corpus path"
        )
    return read_replay_stream(spark, source, rows_per_batch, ack_log)


def _sink_rows(parsed: DataFrame, formatter: str, operations, full_change: bool = False) -> DataFrame:
    """The stream tail every builder shares: format, null out frames,
    filter operations, project the sink row (``SINK_ROW``).

    Frame rows stay: ``wire_size`` rides every row of a wire message and
    the sink counts the first row per lsn once by it, so a table_pat that
    drops a message's change rows can never drop the message from the
    counters (the reference counts every wal message before the
    formatter, __main__.py:86-91). Full-change messages skip validation
    (P10) and carry a NULL ``error``."""
    if full_change:
        msgs = format_csvpayload(parsed, full_change=True).withColumn("error", F.lit(None).cast("string"))
    else:
        msgs = format_csv(parsed) if formatter == "CSV" else format_csvpayload(parsed)
    msgs = filter_operations(msgs.withColumn("fmt_msg", F.when(~F.col("is_frame"), F.col("fmt_msg"))), operations)
    return msgs.withColumn("wire_size", F.coalesce(F.col("data_size"), F.lit(0)).cast("long")).select(*SINK_ROW)


def build_test_decoding_stream(
    spark: SparkSession,
    source,
    pk_map: DataFrame,
    formatter: str = "CSV",
    operations: tuple[str, ...] = ("all",),
    table_pat: str | None = None,
    rows_per_batch: int = 1000,
    ack_log: str | None = None,
) -> DataFrame:
    """Snapshot-once pipeline: the parse of
    ``build_test_decoding_stream_refreshing`` applied to the whole stream
    with one ``pk_map``."""
    stamped, parse_fn = build_test_decoding_stream_refreshing(
        spark, source, formatter, operations, table_pat, rows_per_batch, ack_log
    )
    return parse_fn(stamped, pk_map)


def build_wal2json_stream(
    spark: SparkSession,
    source,
    pk_map: DataFrame | None,
    formatter: str = "CSVPayload",
    operations: tuple[str, ...] = ("all",),
    table_pat: str | None = None,
    full_change: bool = False,
    rows_per_batch: int = 1000,
    ack_log: str | None = None,
) -> DataFrame:
    """Snapshot-once twin of ``build_test_decoding_stream`` for wal2json."""
    raw, parse_fn = build_wal2json_stream_refreshing(
        spark, source, formatter, operations, table_pat, full_change, rows_per_batch, ack_log
    )
    return parse_fn(raw, pk_map)


class RefreshingWriter:
    """Opt-in PK-cache refresh for the text plugins (the reference's
    own future-work item, README.rst:133-138: "the primary key cache
    ... does not ever refresh"). The pgoutput path already tracks
    schema live via Relation messages; test_decoding/wal2json carry no
    relation metadata on the wire, so their catalog snapshot can only
    be re-taken BETWEEN micro-batches — which is exactly what this
    wrapper does.

    Wraps a sink writer: every ``refresh_every`` batches, re-runs
    ``load_pk_map`` (an information_schema re-snapshot for live slots,
    a parquet re-read for replay) and parses the batch against the
    fresh map — a table added mid-stream starts parsing at the next
    refresh instead of fail-stopping the query. The DEFAULT pipelines
    (build_*_stream) keep the reference-faithful snapshot-once
    fail-stop; this is strictly opt-in (CLI: --pk-refresh-batches).

    Scale: the pk_map snapshot is catalog-sized (rows per table
    column), eagerly checkpointed once per refresh and broadcast into
    the batch join — refresh cost is one catalog query per interval,
    never per row."""

    def __init__(self, inner, parse_fn, load_pk_map, refresh_every: int = 1):
        if refresh_every < 1:
            raise ValueError(f"refresh_every must be >= 1, got {refresh_every}")
        self.inner = inner
        self.parse_fn = parse_fn
        self.load_pk_map = load_pk_map
        self.refresh_every = refresh_every
        self._pk: DataFrame | None = None
        self._batches_seen = 0

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._pk is None or self._batches_seen % self.refresh_every == 0:
            # eager snapshot: the catalog query runs once per refresh,
            # not once per downstream reference to the map
            self._pk = self.load_pk_map().localCheckpoint(eager=True)
        self._batches_seen += 1
        self.inner.process_batch(self.parse_fn(batch_df, self._pk), batch_id)

    def __getattr__(self, name):  # telemetry rides through to the sink
        return getattr(self.inner, name)


def build_test_decoding_stream_refreshing(
    spark: SparkSession,
    source,
    formatter: str = "CSV",
    operations: tuple[str, ...] = ("all",),
    table_pat: str | None = None,
    rows_per_batch: int = 1000,
    ack_log: str | None = None,
) -> tuple[DataFrame, "callable"]:
    """(stamped_stream, parse_fn). ``source``: replay corpus path (str)
    or a pre-built raw streaming DataFrame (read_pgcdc_stream).

    The xid stamp stays in the streaming plan; ``parse_fn(df, pk_map)``
    is the parse/format/filter tail.
    ``build_test_decoding_stream`` applies it once to the whole stream,
    RefreshingWriter once per batch so the pk_map can be swapped between
    batches. The ``error`` column rides to the sink, where
    KinesisLikeWriter fail-stops on the earliest error LSN — the
    reference's _log_and_raise (formatter.py:134-137, §8.5)."""
    raw = _raw_stream(spark, source, rows_per_batch, ack_log)
    stamped = stamp_xid(raw.withColumn("begin_xid", begin_xid()))

    def parse_fn(df: DataFrame, pk_map: DataFrame) -> DataFrame:
        parsed = parse_test_decoding(
            df, pk_map, table_pat, xid_precomputed=True, keep_frames=True
        )
        return _sink_rows(parsed, formatter, operations)

    return stamped, parse_fn


def build_wal2json_stream_refreshing(
    spark: SparkSession,
    source,
    formatter: str = "CSVPayload",
    operations: tuple[str, ...] = ("all",),
    table_pat: str | None = None,
    full_change: bool = False,
    rows_per_batch: int = 1000,
    ack_log: str | None = None,
) -> tuple[DataFrame, "callable"]:
    """wal2json twin of build_test_decoding_stream_refreshing: (raw_stream,
    parse_fn). No xid stamp at all — each message carries its
    xid (reference formatter.py:110)."""
    raw = _raw_stream(spark, source, rows_per_batch, ack_log)

    def parse_fn(df: DataFrame, pk_map: DataFrame | None) -> DataFrame:
        parsed = parse_wal2json(df, pk_map, table_pat, full_change=full_change, keep_empty=True)
        return _sink_rows(parsed, formatter, operations, full_change)

    return raw, parse_fn


def build_pgoutput_stream(
    spark: SparkSession,
    source,
    registry: DataFrame,
    formatter: str = "CSVPayload",
    operations: tuple[str, ...] = ("all",),
    table_pat: str | None = None,
    rows_per_batch: int = 1000,
    ack_log: str | None = None,
) -> DataFrame:
    """Streaming pgoutput: the batch decode kernel (``decode_pgoutput``)
    over the unbase64'd payloads -> in-batch xid stamp -> the batch
    change rules (``enrich_changes``) -> the sink-row tail.

    ``registry`` is the STATIC relation catalog (rel_id, namespace,
    relname, col_names, key_cols) — from ``relation_registry`` over a
    replay corpus, or a catalog snapshot for live slots. Mid-stream
    schema changes need the batch path; a rel_id absent from the
    registry surfaces the fail-stop ``error`` channel like an unknown
    table (§8.5). A Truncate puts one message per truncated relation
    (operation ``truncate``, no pkey) and counts once as a wire message;
    Relation messages emit no row."""
    from pg2kinesis_spark.operators.pgoutput import decode_pgoutput, enrich_changes

    raw = _raw_stream(spark, source, rows_per_batch, ack_log)
    decoded = decode_pgoutput(
        raw.withColumn("payload", F.unbase64("payload")), data_size=True
    )
    changes = enrich_changes(stamp_xid(decoded), registry, table_pat, keep_frames=True)
    return _sink_rows(changes, formatter, operations)


def run_to_sink(stream_df: DataFrame, writer, checkpoint: str, available_now: bool = True):
    """Attach the Kinesis-like sink and run (availableNow drains what the
    FIRST latestOffset() covers — i.e. one rate-limited batch;
    processingTime='13 seconds' mirrors the reference's send_window in
    production, X4)."""
    w = (
        stream_df.writeStream.foreachBatch(writer.process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime="13 seconds")
    return w.start()


def run_until(
    stream_df: DataFrame,
    writer,
    checkpoint: str,
    done,
    timeout: float = 120.0,
):
    """Run with the ASAP micro-batch trigger until ``done()`` is truthy,
    then stop.

    This exercises REAL multi-batch progression (rate-limited offsets,
    per-batch commit) — unlike availableNow, which
    snapshots one offset range. Note the source commit (ack) for the
    final batch intentionally lags one trigger — the same ack-lag the
    reference exhibits (SURVEY §3.2 step 5): at-least-once, never
    ack-before-put. Raises the query's exception if the sink failed
    (fail-stop parity, §8.5)."""
    import time as _time

    q = (
        stream_df.writeStream.foreachBatch(writer.process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = _time.time() + timeout
    while _time.time() < deadline:
        if q.exception() is not None or done():
            break
        _time.sleep(0.2)
    exc = q.exception()
    q.stop()
    try:
        q.awaitTermination(30)
    except Exception:  # noqa: BLE001 — surfaced via exc below
        pass
    if exc is not None:
        raise exc
    return q
