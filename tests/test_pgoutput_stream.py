"""Streaming pgoutput: base64 replay corpus -> parse kernel -> in-batch
xid stamp -> registry join -> format -> in-memory Kinesis sink, with
``rows_per_batch`` smaller than a transaction: the source rounds every
batch up to a transaction end."""

from __future__ import annotations

import base64
import os

import pytest

from pg2kinesis_spark.fixtures import gen_pgoutput
from pg2kinesis_spark.operators.pgoutput import (
    decode_message,
    relation_registry_from_replay,
)
from pg2kinesis_spark.sinks.kinesis import InMemoryTransport, KinesisLikeWriter
from pg2kinesis_spark.streaming.pipeline import build_pgoutput_stream, run_until


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rows = gen_pgoutput(n_txns=12, seed=44)
    path = str(tmp_path_factory.mktemp("pgout") / "corpus.parquet")
    spark.createDataFrame(
        rows, "lsn long, data_size int, payload string"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path, rows


def _expected_csv(rows):
    """Python oracle: decode the corpus in lsn order, carry xid, emit
    the reference CSV line per DML row."""
    rels, out, cur = {}, [], ""
    for lsn, _size, payload in sorted(rows):
        d = decode_message(base64.b64decode(payload))
        if d["op"] == "relation":
            rels[d["rel_id"]] = d
        elif d["op"] == "begin":
            cur = str(d["xid"])
        elif d["op"] in ("insert", "update", "delete"):
            rel = rels[d["rel_id"]]
            vals = d["old"] if d["op"] == "delete" else d["new"]
            key = rel["key_cols"][0]
            pk = vals[rel["col_names"].index(key)]
            table = f"{rel['namespace']}.{rel['relname']}"
            out.append(f"0,CDC,{cur},{table},{d['op']},{pk}")
    return out


def _msgs(transport):
    from pg2kinesis_spark.sinks.kpl import deaggregate_kpl

    return [m.decode() for _, data in transport.records for _, m in deaggregate_kpl(data)]


def test_pgoutput_stream_end_to_end(spark, corpus, tmp_path):
    path, rows = corpus
    want = _expected_csv(rows)
    registry = relation_registry_from_replay(spark, path)
    assert registry.count() == 3

    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    stream = build_pgoutput_stream(
        spark, path, registry, formatter="CSV", rows_per_batch=7
    )
    run_until(
        stream,
        writer,
        str(tmp_path / "ckpt"),
        done=lambda: writer.put_message_calls >= len(want)
        and writer._agg.messages == 0,
    )
    writer.flush_tail()
    got = _msgs(transport)
    # content AND commit order, xids correct across batch boundaries
    assert got == want


@pytest.mark.parametrize("rows_per_batch", [2, 7])
def test_pgoutput_replay_batches_end_on_commits(corpus, rows_per_batch):
    """The replay source recognises a base64 Begin (first byte ``B``) as a
    transaction start: every end offset is a Commit's LSN, the corpus end
    or the last of the Relation messages that precede the first Begin,
    and transactions longer than ``rows_per_batch`` are served whole."""
    from pg2kinesis_spark.sources.replay import CdcReplayStreamReader

    path, rows = corpus
    reader = CdcReplayStreamReader({"path": path, "rowsperbatch": str(rows_per_batch)})
    start, ends = reader.initialOffset()["lsn"], []
    while (end := reader.latestOffset()["lsn"]) != start:
        reader.partitions({"lsn": start}, {"lsn": end})
        ends.append(end)
        start = end
    ops = [(lsn, base64.b64decode(p)[:1]) for lsn, _, p in sorted(rows)]
    commits = {lsn for lsn, op in ops if op == b"C"}
    preamble = ops[[op for _, op in ops].index(b"B") - 1][0]
    lsns = [lsn for lsn, _ in ops]
    assert ends[-1] == lsns[-1] and ends == sorted(ends)
    assert set(ends) <= commits | {preamble, lsns[-1]}
    sizes = [sum(a < l <= b for l in lsns) for a, b in zip([lsns[0] - 1] + ends, ends)]
    assert all(n >= rows_per_batch for n in sizes[:-1]), sizes


def test_pgoutput_stream_table_pat_and_ops(spark, corpus, tmp_path):
    path, rows = corpus
    registry = relation_registry_from_replay(spark, path)
    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    stream = build_pgoutput_stream(
        spark, path, registry, formatter="CSV",
        operations=("insert",), table_pat="users", rows_per_batch=50,
    )
    want = [
        m for m in _expected_csv(rows)
        if ",public.users,insert," in m
    ]
    # put_message is called for EVERY surviving users DML row (filtered
    # ops call with None — reference counter parity), so completion is
    # the full users row count, not just the inserts
    n_users_rows = sum(1 for m in _expected_csv(rows) if ",public.users," in m)
    run_until(
        stream,
        writer,
        str(tmp_path / "ckpt2"),
        done=lambda: writer.put_message_calls >= n_users_rows
        and writer._agg.messages == 0,
    )
    writer.flush_tail()
    assert _msgs(transport) == want


def test_pgoutput_stream_truncate_puts_per_relation_and_counts_once(spark, tmp_path):
    """TRUNCATE in the stream, decided: the shared decode kernel emits
    one row per truncated relation (as ``pgoutput_cdc_changes`` does), so a
    Truncate of two tables puts two ``truncate`` messages (no pkey,
    the Truncate's xid) and counts ONCE as a wire message by its
    data_size. Relation messages put nothing and are not counted."""
    from pyspark.sql import functions as F

    from pg2kinesis_spark.operators.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
        encode_truncate,
        pgoutput_cdc_changes,
    )

    msgs = [
        encode_relation(101, "public", "users", ["id", "name"], key_cols=("id",)),
        encode_relation(102, "public", "orders", ["order_id", "total"], key_cols=("order_id",)),
        encode_begin(0, 500), encode_insert(101, ["1", "a"]), encode_commit(0, 0),
        encode_begin(0, 501), encode_truncate([101, 102]), encode_commit(0, 0),
        encode_begin(0, 502), encode_insert(102, ["7", "x"]), encode_commit(0, 0),
    ]
    rows = [
        (10 * (i + 1), len(m), base64.b64encode(m).decode()) for i, m in enumerate(msgs)
    ]
    path = str(tmp_path / "trunc.parquet")
    spark.createDataFrame(rows, "lsn long, data_size int, payload string").coalesce(
        1
    ).write.parquet(path)
    want = [
        "0,CDC,500,public.users,insert,1",
        "0,CDC,501,public.users,truncate",
        "0,CDC,501,public.orders,truncate",
        "0,CDC,502,public.orders,insert,7",
    ]

    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    stream = build_pgoutput_stream(
        spark, path, relation_registry_from_replay(spark, path),
        formatter="CSV", rows_per_batch=4,  # a soft limit: rounds up to whole txns
    )
    run_until(
        stream,
        writer,
        str(tmp_path / "ckpt"),
        done=lambda: writer.cum_msg_count >= len(msgs) - 2
        and writer._agg.messages == 0,
    )
    writer.flush_tail()
    assert _msgs(transport) == want
    assert writer.put_message_calls == len(want)
    counted = [size for _, size, _ in rows[2:]]  # every non-Relation message
    assert writer.cum_msg_count == len(counted) == 9
    assert writer.cum_msg_size == sum(counted)

    # the batch parse makes the same decision: one row per relation
    raw = spark.read.parquet(path).select("lsn", F.unbase64("payload").alias("payload"))
    trunc = pgoutput_cdc_changes(raw).filter("operation = 'truncate'").orderBy("table")
    assert [(r.lsn, r.xid, r.table) for r in trunc.collect()] == [
        (70, "501", "public.orders"),
        (70, "501", "public.users"),
    ]


def test_pgoutput_stream_unknown_relation_fail_stops(spark, tmp_path):
    """An Insert naming a rel_id that no Relation message registered
    fail-stops the query with ``CdcParseError``, carrying the same text
    the batch parse writes to its ``error`` column."""
    from pg2kinesis_spark.operators.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )

    msgs = [
        encode_relation(101, "public", "users", ["id", "name"], key_cols=("id",)),
        encode_begin(0, 500), encode_insert(101, ["1", "a"]), encode_commit(0, 0),
        encode_begin(0, 501), encode_insert(999, ["2", "ghost"]), encode_commit(0, 0),
    ]
    rows = [
        (10 * (i + 1), len(m), base64.b64encode(m).decode()) for i, m in enumerate(msgs)
    ]
    path = str(tmp_path / "ghost.parquet")
    spark.createDataFrame(rows, "lsn long, data_size int, payload string").coalesce(
        1
    ).write.parquet(path)
    stream = build_pgoutput_stream(
        spark, path, relation_registry_from_replay(spark, path), formatter="CSV"
    )
    writer = KinesisLikeWriter(InMemoryTransport())
    with pytest.raises(Exception, match="CdcParseError") as info:
        run_until(stream, writer, str(tmp_path / "ckpt"), done=lambda: False, timeout=60)
    # the text test_pgoutput.py pins for pgoutput_cdc_changes
    assert "no Relation message for rel_id 999" in str(info.value)
