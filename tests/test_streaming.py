"""Streaming pipeline tests: replay source offsets/acks, whole-transaction
batches, in-batch xid stamp, ordered packing sink, retry/backoff, restart
at-least-once.

(SURVEY §5 rebuild test plan item 3.)
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.catalog import primary_key_map
from pg2kinesis_spark.operators.formatters import format_csv
from pg2kinesis_spark.operators.test_decoding import parse_test_decoding
from pg2kinesis_spark.sinks.kinesis import (
    AggRecord,
    InMemoryTransport,
    KinesisLikeWriter,
    ProvisionedThroughputExceeded,
)
from pg2kinesis_spark.streaming.pipeline import build_test_decoding_stream, run_until

UUID = "00079f3e-0479-4475-acff-4f225cc5188a"
N_TXNS = 4
MSGS_PER_TXN = 3
TOTAL_LINES = N_TXNS * (MSGS_PER_TXN + 2)


@pytest.fixture(scope="module")
def few_shuffles(spark):
    """Shuffle stages inside a micro-batch (the sink's ordering, the
    batch-parse comparisons) pay per-partition task overhead; 4 is
    plenty for a 20-row corpus and keeps each trigger fast."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(scope="module")
def pk_map(spark):
    catalog = spark.createDataFrame(
        [("public.test_table", "uuid", "uuid", 0)],
        "table_name string, col_name string, col_type string, col_ord_pos int",
    )
    return primary_key_map(catalog)


def _corpus_rows() -> list[tuple[int, int, str]]:
    """(lsn, data_size, payload) wire lines of N_TXNS framed transactions."""
    lines = []
    lsn = 10
    for xid in range(7, 7 + N_TXNS):
        lines.append((lsn, f"BEGIN {xid}")); lsn += 2
        for i in range(MSGS_PER_TXN):
            lines.append((lsn, f"table public.test_table: UPDATE: uuid[uuid]:'{UUID[:-1]}{i}'")); lsn += 2
        lines.append((lsn, "COMMIT")); lsn += 2
    return [(l, len(p.encode()), p) for l, p in lines]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """5-line transactions: rows_per_batch=7 is a soft limit the source
    rounds up to a transaction end, so the 20 lines come in two batches of
    10 and every batch starts at a BEGIN."""
    path = str(tmp_path_factory.mktemp("corpus") / "corpus.parquet")
    spark.createDataFrame(
        _corpus_rows(), "lsn long, data_size int, payload string"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def shuffled_corpora(spark, tmp_path_factory):
    """The ``corpus`` rows shuffled and written by Spark as three part
    files in no LSN order: once with ``data_size int`` and once with the
    ``bigint`` that createDataFrame infers from Python ints when no schema
    is given."""
    import random

    rows = _corpus_rows()
    random.Random(5).shuffle(rows)
    base = tmp_path_factory.mktemp("shuffled")
    paths = {}
    for name, schema in (
        ("int", "lsn long, data_size int, payload string"),
        ("bigint", ["lsn", "data_size", "payload"]),
    ):
        paths[name] = str(base / name)
        spark.createDataFrame(rows, schema).repartition(3).write.parquet(paths[name])
    return paths


def _msgs(transport):
    from pg2kinesis_spark.sinks.kpl import deaggregate_kpl

    return [m.decode() for _, data in transport.records for _, m in deaggregate_kpl(data)]


@pytest.fixture(scope="module")
def drained(spark, corpus, pk_map, tmp_path_factory, few_shuffles):
    """One full multi-batch run shared by the assertion tests below."""
    tmp = str(tmp_path_factory.mktemp("run"))
    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    ack_log = os.path.join(tmp, "acks.jsonl")
    stream = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
        rows_per_batch=7, ack_log=ack_log,
    )
    run_until(
        stream,
        writer,
        os.path.join(tmp, "ckpt"),
        done=lambda: writer.put_message_calls >= N_TXNS * MSGS_PER_TXN
        and writer._agg.messages == 0,
    )
    writer.flush_tail()
    return transport, writer, ack_log


def test_streaming_matches_batch_content_and_order(spark, corpus, pk_map, drained):
    transport, writer, _ = drained
    streamed = _msgs(transport)
    batch = format_csv(parse_test_decoding(spark.read.parquet(corpus), pk_map)).orderBy("lsn").collect()
    expected = [r.fmt_msg for r in batch]
    assert streamed == expected  # content AND order (T2/O2)
    # xid state crossed micro-batch boundaries (W1 streaming form)
    xids = [m.split(",")[2] for m in streamed]
    assert xids == [str(x) for x in range(7, 7 + N_TXNS) for _ in range(MSGS_PER_TXN)]


def test_acks_monotone_and_never_exceed_puts(spark, corpus, drained):
    transport, writer, ack_log = drained
    acks = [json.loads(l)["acked_lsn"] for l in open(ack_log)]
    assert acks, "source commit log must receive acks"
    assert acks == sorted(acks)  # monotone ack watermark (S8/T5)
    max_lsn = spark.read.parquet(corpus).agg(F.max("lsn")).collect()[0][0]
    # ack ≤ put: the last batch's ack may lag one trigger (reference
    # ack-lag, SURVEY §3.2 step 5) but never overtakes delivered data.
    assert acks[-1] <= max_lsn


def test_operation_filter_nulls_still_counted(spark, corpus, pk_map, tmp_path, few_shuffles):
    """operations=('all',) → lowercase set → uppercase UPDATE never
    matches (§8.4): zero published records, but every change row still
    drove a put_message call (§8.6 flush-clock parity)."""
    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    stream = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("all",),
        rows_per_batch=7, ack_log=str(tmp_path / "acks.jsonl"),
    )
    run_until(
        stream, writer, str(tmp_path / "ckpt"),
        done=lambda: writer.put_message_calls >= N_TXNS * MSGS_PER_TXN,
    )
    assert _msgs(transport) == []
    assert writer.put_message_calls >= N_TXNS * MSGS_PER_TXN
    assert writer.physical_puts == 0


def test_restart_is_at_least_once(spark, corpus, pk_map, tmp_path, few_shuffles):
    """Transport dies permanently mid-run → query fails after backoff;
    restart with a healthy transport must deliver every message at least
    once (duplicates allowed — reference README.rst:14-18)."""

    class DyingTransport(InMemoryTransport):
        def __init__(self, die_after):
            super().__init__()
            self.die_after = die_after

        def put_record(self, data, partition_key):
            if len(self.records) >= self.die_after:
                raise ProvisionedThroughputExceeded()
            super().put_record(data, partition_key)

    t1 = DyingTransport(die_after=1)
    # tiny aggregate size → one record per message → mid-batch failure
    w1 = KinesisLikeWriter(t1, back_off_limit=0.1, sleep=lambda s: None, max_agg_bytes=10)
    ack_log = str(tmp_path / "acks.jsonl")
    stream = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
        rows_per_batch=7, ack_log=ack_log,
    )
    with pytest.raises(Exception):
        run_until(stream, w1, str(tmp_path / "ckpt"), done=lambda: False, timeout=60)

    t2 = InMemoryTransport()
    w2 = KinesisLikeWriter(t2)
    stream2 = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
        rows_per_batch=7, ack_log=ack_log,
    )
    # same checkpoint → resume from last committed batch
    run_until(
        stream2, w2, str(tmp_path / "ckpt"),
        done=lambda: len(_msgs(t2)) >= N_TXNS * MSGS_PER_TXN and w2._agg.messages == 0,
    )
    w2.flush_tail()

    batch = format_csv(parse_test_decoding(spark.read.parquet(corpus), pk_map)).collect()
    expected = {r.fmt_msg for r in batch}
    delivered = _msgs(t1) + _msgs(t2)
    assert set(delivered) == expected            # nothing lost
    assert len(delivered) >= len(expected)       # dups allowed, loss not


# ---------- sink unit behavior (reference test_stream.py shape) ----------

def test_backoff_schedule_and_exhaustion():
    sleeps = []
    t = InMemoryTransport(fail_times=3)
    w = KinesisLikeWriter(t, back_off_limit=60, sleep=sleeps.append)
    w.put_message("x", "1")
    w.flush_tail()
    assert sleeps == [0.05, 0.1, 0.2]  # 0.05 × 2ⁿ (reference stream.py:54-66)
    assert len(t.records) == 1

    t2 = InMemoryTransport(fail_times=100)
    w2 = KinesisLikeWriter(t2, back_off_limit=0.2, sleep=lambda s: None)
    w2.put_message("x", "1")
    with pytest.raises(ProvisionedThroughputExceeded):
        w2.flush_tail()  # cap exceeded → re-raise (stream.py:73-74)


def test_agg_record_size_flush():
    from pg2kinesis_spark.sinks.kpl import deaggregate_kpl

    # Sizes are *serialized* KPL bytes: 20-byte envelope + 3-byte key
    # table ("1") + 10 bytes per framed 4-byte record → 33, 43, 53...
    t = InMemoryTransport()
    w = KinesisLikeWriter(t, max_agg_bytes=50)
    assert w.put_message("aaaa", "1") is False   # buffered (33 ≤ 50)
    assert w.put_message("bbbb", "1") is False   # still fits (43 ≤ 50)
    assert w.put_message("cccc", "1") is True    # 53 > 50 → flush previous
    w.flush_tail()
    assert [deaggregate_kpl(d) for _, d in t.records] == [
        [("1", b"aaaa"), ("1", b"bbbb")],
        [("1", b"cccc")],
    ]


def test_agg_sizing_is_exact_and_respects_kinesis_limit():
    """The fill check must bound the *serialized* aggregate at 1 MiB —
    raw-user-byte accounting overflows the Kinesis PutRecord limit by
    ~25 % with small CDC records (ValidationException, which escapes
    the throughput-exceeded backoff loop and kills the stream)."""
    rec = AggRecord()
    msg = b"0,CDC,1337,public.blue,Update,123456"  # realistic small CDC line
    xid = 100000
    while rec.add(msg, str(xid), 1 << 20):
        xid += 1  # distinct keys grow the partition-key table too
    blob = rec.serialize()
    assert len(blob) == rec.est_size            # accounting is exact
    assert len(blob) <= 1 << 20                 # full agg fits a Kinesis record
    assert len(blob) > (1 << 20) - 100          # and is packed ~to the brim
    assert rec.messages * len(msg) > (1 << 20) * 0.7  # mostly payload, not framing


def test_send_window_flush():
    now = [1000.0]
    t = InMemoryTransport()
    w = KinesisLikeWriter(t, send_window=13, clock=lambda: now[0], sleep=lambda s: None)
    w.put_message("a", "1")
    assert t.records == []
    now[0] += 14  # window expires; next put triggers the time flush (T3)
    assert w.put_message(None, None) is True  # even a filtered message flushes (§8.6)
    assert _msgs(t) == ["a"]


def test_agg_partition_key_is_first_message_xid():
    rec = AggRecord()
    rec.add(b"m1", "42", 1 << 20)
    rec.add(b"m2", "43", 1 << 20)
    assert rec.partition_key == "42"  # key of a contained record (stream.py:36)


def test_unknown_table_fails_stream(spark, pk_map, tmp_path, few_shuffles):
    """Fail-stop error channel (§8.5): a change for a table missing from
    the PK catalog must kill the stream with the reference's
    _log_and_raise message — never be silently published truncated."""
    lines = [
        (1, "BEGIN 7"),
        (3, "table public.test_table: UPDATE: uuid[uuid]:'a-1'"),
        (5, "table public.never_seen: UPDATE: id[integer]:'5'"),
        (7, "COMMIT"),
    ]
    corpus = str(tmp_path / "bad.parquet")
    spark.createDataFrame(
        [(l, len(p.encode()), p) for l, p in lines], "lsn long, data_size int, payload string"
    ).coalesce(1).write.parquet(corpus)
    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    stream = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",), rows_per_batch=10,
    )
    with pytest.raises(Exception, match="Unable to locate table"):
        run_until(stream, writer, str(tmp_path / "ckpt"), done=lambda: False, timeout=90)


def test_counters_use_reference_units(spark, corpus, pk_map, drained):
    """Progress counters match the reference's Consume loop units
    (reference __main__.py:86-91): every wire line — BEGIN/COMMIT frames
    included — counts once by its wire data_size, while put_message is
    only driven by formatted (change) rows."""
    transport, writer, _ = drained
    total_size, total_lines = (
        spark.read.parquet(corpus).agg(F.sum("data_size"), F.count("*")).first()
    )
    assert writer.cum_msg_count == total_lines == TOTAL_LINES
    assert writer.cum_msg_size == total_size
    assert writer.put_message_calls == N_TXNS * MSGS_PER_TXN


def test_wal2json_table_pat_counts_filtered_messages(spark, pk_map, tmp_path, few_shuffles):
    """Pre-filter counter parity (reference __main__.py:86-91): a
    --table-pat that filters out change 0 — or EVERY change — of a wire
    message must not drop that message from the counters. The reference
    counts every wire message before the formatter's table filter runs;
    the rebuild tags wire_size on every row (skeleton rows survive for
    fully-filtered messages) and the sink counts the first row per lsn."""
    import json

    from pg2kinesis_spark.streaming.pipeline import build_wal2json_stream

    def chg(table, val):
        return {
            "kind": "insert",
            "schema": "public",
            "table": table,
            "columnnames": ["uuid"],
            "columntypes": ["uuid"],
            "columnvalues": [val],
        }

    msgs = [
        # change 0 filtered, change 1 survives → counted via change 1
        (10, {"xid": 1, "change": [chg("skipme", "a"), chg("test_table", "b")]}),
        # every change filtered → counted via the skeleton row
        (20, {"xid": 2, "change": [chg("skipme", "c")]}),
        # empty change array → counted via the empty-message row
        (30, {"xid": 3, "change": []}),
        # nothing filtered → counted normally
        (40, {"xid": 4, "change": [chg("test_table", "d")]}),
    ]
    payloads = [(lsn, json.dumps(m)) for lsn, m in msgs]
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(l, len(p.encode()), p) for l, p in payloads],
        "lsn long, data_size int, payload string",
    ).coalesce(1).write.mode("overwrite").parquet(corpus)

    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    stream = build_wal2json_stream(
        spark, corpus, pk_map, formatter="CSV", table_pat="test_table", rows_per_batch=10,
    )
    run_until(
        stream, writer, str(tmp_path / "ckpt"), done=lambda: writer.cum_msg_count >= 4
    )
    writer.flush_tail()

    total_size = sum(len(p.encode()) for _, p in payloads)
    assert writer.cum_msg_count == 4          # every wire message counted once
    assert writer.cum_msg_size == total_size  # by its full wire data_size
    # only the two surviving changes format and put
    assert writer.put_message_calls == 2
    assert sorted(_msgs(transport)) == ["0,CDC,1,public.test_table,insert,b",
                                        "0,CDC,4,public.test_table,insert,d"]


def test_fresh_checkpoint_recovers_cursor_from_ack_log(spark, corpus, pk_map, tmp_path, few_shuffles):
    """Restart-cursor recovery (confirmed_flush_lsn semantics): a fresh
    checkpoint that reuses a fully-committed ack log must re-serve ZERO
    rows and never append a regressing ack; a partially-committed log
    resumes exactly after the watermark with batch 0 bounded relative to
    it (not the corpus start)."""
    from pg2kinesis_spark.streaming.pipeline import run_to_sink

    max_lsn, mid_lsn = (
        spark.read.parquet(corpus).agg(F.max("lsn"), F.expr("percentile(lsn, 0.5)")).first()
    )

    # --- fully-committed log → nothing re-served
    ack_log = str(tmp_path / "acks_full.jsonl")
    with open(ack_log, "w") as f:
        f.write(json.dumps({"acked_lsn": int(max_lsn)}) + "\n")
    t = InMemoryTransport()
    w = KinesisLikeWriter(t)
    stream = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
        rows_per_batch=7, ack_log=ack_log,
    )
    q = run_to_sink(stream, w, str(tmp_path / "ckpt_full"), available_now=True)
    q.awaitTermination(60)
    w.flush_tail()
    assert _msgs(t) == []
    assert w.put_message_calls == 0
    acks = [json.loads(l)["acked_lsn"] for l in open(ack_log) if l.strip()]
    assert acks == sorted(acks) and min(acks) >= int(max_lsn)  # monotone, no regress

    # --- partially-committed log → resume strictly after the watermark
    ack_log2 = str(tmp_path / "acks_mid.jsonl")
    with open(ack_log2, "w") as f:
        f.write(json.dumps({"acked_lsn": int(mid_lsn)}) + "\n")
    t2 = InMemoryTransport()
    w2 = KinesisLikeWriter(t2)
    stream2 = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
        rows_per_batch=1000, ack_log=ack_log2,
    )
    q2 = run_to_sink(stream2, w2, str(tmp_path / "ckpt_mid"), available_now=True)
    q2.awaitTermination(60)
    w2.flush_tail()
    tail = (
        spark.read.parquet(corpus)
        .filter(F.col("lsn") > int(mid_lsn))
        .count()
    )
    # every wire line after the watermark was served once, none before
    assert w2.put_message_calls + sum(
        1 for r in spark.read.parquet(corpus).filter(F.col("lsn") > int(mid_lsn)).collect()
        if not r.payload.startswith("table ")
    ) == tail


def _drain_to_list(stream, ckpt, n_puts):
    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    run_until(stream, writer, ckpt, done=lambda: writer.put_message_calls >= n_puts)
    writer.flush_tail()
    return _msgs(transport)


def test_xid_stamp_across_many_arrow_chunks(spark, corpus, pk_map, tmp_path, few_shuffles):
    """The stamp receives a micro-batch as MULTIPLE Arrow chunks once the
    batch exceeds arrow.maxRecordsPerBatch; it must concatenate and sort
    them ONCE by lsn before attributing xids (a per-chunk sort would
    misattribute rows when a BEGIN lands in a later chunk than its DML
    rows). Forcing 4-row chunks over a whole-corpus batch pins this for
    both plugins that feed the one stamp: test_decoding lines and
    decoded pgoutput messages, each compared with its batch parse."""
    import base64

    from pg2kinesis_spark.fixtures import gen_pgoutput
    from pg2kinesis_spark.operators.pgoutput import (
        pgoutput_cdc_changes,
        relation_registry_from_replay,
    )
    from pg2kinesis_spark.streaming.pipeline import build_pgoutput_stream

    rows = gen_pgoutput(n_txns=12, seed=44)
    pgout = str(tmp_path / "pgout.parquet")
    spark.createDataFrame(rows, "lsn long, data_size int, payload string").coalesce(
        1
    ).write.parquet(pgout)
    n_changes = sum(
        base64.b64decode(p)[:1] in (b"I", b"U", b"D") for _, _, p in rows
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        # rows_per_batch=1000: the whole corpus in ONE batch → many chunks
        td = _drain_to_list(
            build_test_decoding_stream(
                spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
                rows_per_batch=1000,
            ),
            str(tmp_path / "ckpt"),
            N_TXNS * MSGS_PER_TXN,
        )
        po = _drain_to_list(
            build_pgoutput_stream(
                spark, pgout, relation_registry_from_replay(spark, pgout),
                formatter="CSV", rows_per_batch=1000,
            ),
            str(tmp_path / "ckpt_pgout"),
            n_changes,
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    batch = format_csv(parse_test_decoding(spark.read.parquet(corpus), pk_map)).orderBy("lsn").collect()
    assert td == [r.fmt_msg for r in batch]  # same xids, same order
    raw = spark.read.parquet(pgout).select("lsn", F.unbase64("payload").alias("payload"))
    batch = format_csv(pgoutput_cdc_changes(raw)).orderBy("lsn").collect()
    assert len(po) == n_changes
    assert po == [r.fmt_msg for r in batch]


def test_stamp_batches_forward_fills_in_lsn_order():
    """The one stamp's Arrow body without the streaming engine: chunks
    arrive unordered (the BEGIN for lsn 4/6 sits in the LATER chunk),
    begin_xid is forward-filled into xid in lsn order, rows before the
    first BEGIN get '', an empty-string BEGIN xid is a real value (as in
    the batch carry ``last(..., ignorenulls=True)``), begin_xid is
    dropped, and empty input yields nothing."""
    import pyarrow as pa

    from pg2kinesis_spark.streaming.pipeline import _stamp_batches

    schema = pa.schema([("lsn", pa.int64()), ("payload", pa.string()), ("begin_xid", pa.string())])

    def chunk(*rows):
        return pa.RecordBatch.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        )

    def run(*chunks):
        out = list(_stamp_batches(iter(chunks)))
        assert all(b.schema.names == ["lsn", "payload", "xid"] for b in out)
        return [tuple(r.values()) for b in out for r in b.to_pylist()]

    c1 = chunk((4, "table t: UPDATE: x", None), (6, "COMMIT", None))
    c2 = chunk((2, "BEGIN 99", "99"))
    assert run(c1, c2) == [(2, "BEGIN 99", "99"), (4, "table t: UPDATE: x", "99"), (6, "COMMIT", "99")]
    # rows before the first BEGIN: ''; then an empty-string xid is kept
    c3 = chunk((8, "table t: UPDATE: y", None), (10, "BEGIN ", ""))
    c4 = chunk((12, "table t: UPDATE: z", None), (14, "BEGIN 5", "5"), (16, "COMMIT", None))
    assert run(c4, c3) == [
        (8, "table t: UPDATE: y", ""), (10, "BEGIN ", ""), (12, "table t: UPDATE: z", ""),
        (14, "BEGIN 5", "5"), (16, "COMMIT", "5"),
    ]
    assert run() == []
    assert run(chunk()) == []


def _latest_ends(path, rows_per_batch):
    """The end offsets ``latestOffset`` serves one after another until
    the corpus is drained."""
    from pg2kinesis_spark.sources.replay import CdcReplayStreamReader

    reader = CdcReplayStreamReader({"path": path, "rowsperbatch": str(rows_per_batch)})
    start, ends = reader.initialOffset()["lsn"], []
    while True:
        end = reader.latestOffset()["lsn"]
        if end == start:
            return ends
        reader.partitions({"lsn": start}, {"lsn": end})
        ends.append(end)
        start = end


@pytest.mark.parametrize("rows_per_batch", [2, 7])
def test_replay_batches_end_on_transaction_ends(spark, tmp_path, rows_per_batch):
    """``rows_per_batch`` is a soft limit rounded up to a transaction end:
    every end offset is a COMMIT's LSN (or the corpus end), and a
    transaction longer than ``rows_per_batch`` is served whole, not
    stalled on."""
    import random

    rows = _corpus_rows()
    # a corpus that does not start on a BEGIN still drains
    rows = [(1, 6, "COMMIT")] + rows
    shuffled = rows[:]
    random.Random(3).shuffle(shuffled)
    path = str(tmp_path / "corpus")
    spark.createDataFrame(shuffled, "lsn long, data_size int, payload string").repartition(2).write.parquet(path)

    ends = _latest_ends(path, rows_per_batch)
    commits = {lsn for lsn, _, p in rows if p == "COMMIT"}
    assert set(ends) <= commits | {rows[-1][0]}
    assert ends[-1] == rows[-1][0] and ends == sorted(ends)
    # each batch is whole transactions holding at least rows_per_batch rows
    # (the last one may be short): the soft limit rounds up, never down
    lsns = [lsn for lsn, _, _ in rows]
    sizes = [sum(a < l <= b for l in lsns) for a, b in zip([0] + ends, ends)]
    assert all(n >= rows_per_batch for n in sizes[:-1]), sizes
    assert sum(sizes) == len(rows)


def test_replay_batches_stay_exact_without_transaction_starts(spark, tmp_path):
    """wal2json messages are whole transactions each: with no BEGIN in the
    corpus every row is a boundary, so batches hold exactly
    ``rows_per_batch`` rows."""
    rows = [(10 + 2 * i, 20, json.dumps({"xid": 100 + i, "change": []})) for i in range(11)]
    path = str(tmp_path / "w2j.parquet")
    spark.createDataFrame(rows, "lsn long, data_size int, payload string").coalesce(1).write.parquet(path)
    lsns = [r[0] for r in rows]
    assert _latest_ends(path, 3) == [lsns[2], lsns[5], lsns[8], lsns[10]]


def test_resume_from_ack_log_keeps_xids(spark, corpus, pk_map, tmp_path, few_shuffles):
    """A fresh checkpoint resuming from an ack log starts after the last
    ack. Acks are transaction ends, so the resumed batch starts at a BEGIN
    and every message after the ack carries its own transaction's xid,
    as in the batch parse (with acks mid-transaction and nothing carried
    over, the continuation rows would be put with xid '')."""
    ack_log = str(tmp_path / "acks.jsonl")

    def acks():
        return [l for l in open(ack_log) if l.strip()] if os.path.exists(ack_log) else []

    stream = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
        rows_per_batch=7, ack_log=ack_log,
    )
    run_until(stream, KinesisLikeWriter(InMemoryTransport()), str(tmp_path / "ckpt1"), done=acks)
    # stop as if the process died right after the first ack
    first = acks()[0]
    with open(ack_log, "w") as f:
        f.write(first)
    acked = json.loads(first)["acked_lsn"]

    batch = format_csv(parse_test_decoding(spark.read.parquet(corpus), pk_map)).collect()
    want = sorted((r for r in batch if r.lsn > acked), key=lambda r: r.lsn)
    assert want, "the first ack must leave messages to resume"
    t2 = InMemoryTransport()
    w2 = KinesisLikeWriter(t2)
    stream2 = build_test_decoding_stream(
        spark, corpus, pk_map, formatter="CSV", operations=("UPDATE",),
        rows_per_batch=7, ack_log=ack_log,
    )
    run_until(
        stream2, w2, str(tmp_path / "ckpt2"),
        done=lambda: w2.put_message_calls >= len(want) and w2._agg.messages == 0,
    )
    w2.flush_tail()
    puts = _msgs(t2)
    assert [m.split(",")[2] for m in puts] == [r.xid for r in want]
    assert puts == [r.fmt_msg for r in want]


@pytest.mark.parametrize("data_size_type", ["int", "bigint"])
def test_replay_read_serves_exactly_its_range_as_arrow(shuffled_corpora, data_size_type):
    """The read contract: ``read`` yields Arrow record batches of exactly
    the declared schema, holding the corpus rows in (start, end] in
    (lsn, data_size, payload) order — whatever the part-file layout and
    whatever integer width the corpus stores data_size in."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg2kinesis_spark.sources.replay import CdcReplayStreamReader, _Batch

    path = shuffled_corpora[data_size_type]
    files = [pq.read_table(f) for f in sorted(glob.glob(os.path.join(path, "part-*.parquet")))]
    assert len(files) >= 3
    on_disk = [lsn for t in files for lsn in t.column("lsn").to_pylist()]
    assert on_disk != sorted(on_disk)
    assert files[0].schema.field("data_size").type == {"int": pa.int32(), "bigint": pa.int64()}[data_size_type]
    corpus = sorted(
        row
        for t in files
        for row in zip(*(t.column(c).to_pylist() for c in ("lsn", "data_size", "payload")))
    )
    lsns = [r[0] for r in corpus]
    spanned = {i for i, t in enumerate(files) for lsn in t.column("lsn").to_pylist() if lsns[2] < lsn <= lsns[14]}
    assert len(spanned) >= 2
    schema = pa.schema([("lsn", pa.int64()), ("data_size", pa.int32()), ("payload", pa.string())])
    reader = CdcReplayStreamReader({"path": path})
    for start, end in [
        (lsns[5], lsns[5]),      # empty
        (lsns[4], lsns[5]),      # a single row
        (lsns[2], lsns[14]),     # spans part files
        (lsns[0] - 1, lsns[-1]), # the whole corpus
    ]:
        batches = list(reader.read(_Batch(path, start, end)))
        assert all(isinstance(b, pa.RecordBatch) and b.schema == schema for b in batches)
        served = [
            row
            for b in batches
            for row in zip(*(b.column(c).to_pylist() for c in ("lsn", "data_size", "payload")))
        ]
        assert served == [r for r in corpus if start < r[0] <= end], (start, end)


def test_bigint_data_size_corpus_drains_like_int(spark, corpus, shuffled_corpora, pk_map, tmp_path, few_shuffles):
    """A corpus whose data_size is bigint (the CLI's --replay-path takes
    any such parquet) streams to the same puts as the int corpus, and both
    match the batch parse of the same wire lines."""
    streamed = {}
    for name, path in shuffled_corpora.items():
        transport = InMemoryTransport()
        writer = KinesisLikeWriter(transport)
        stream = build_test_decoding_stream(
            spark, path, pk_map, formatter="CSV", operations=("UPDATE",), rows_per_batch=7,
        )
        run_until(
            stream, writer, str(tmp_path / name),
            done=lambda: writer.put_message_calls >= N_TXNS * MSGS_PER_TXN,
        )
        writer.flush_tail()
        streamed[name] = (writer.put_message_calls, _msgs(transport))
    batch = format_csv(parse_test_decoding(spark.read.parquet(corpus), pk_map)).orderBy("lsn").collect()
    assert streamed["int"] == (N_TXNS * MSGS_PER_TXN, [r.fmt_msg for r in batch])
    assert streamed["bigint"] == streamed["int"]
