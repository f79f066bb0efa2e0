"""Opt-in PK-cache refresh on the text plugins (reference
README.rst:133-138 future work): a table added mid-stream starts
parsing after the between-batch catalog re-snapshot, while the DEFAULT
pipeline stays reference-faithful and fail-stops on the unknown table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.catalog import primary_key_map
from pg2kinesis_spark.sinks.kinesis import InMemoryTransport, KinesisLikeWriter
from pg2kinesis_spark.streaming.pipeline import (
    RefreshingWriter,
    build_test_decoding_stream,
    build_test_decoding_stream_refreshing,
    build_wal2json_stream_refreshing,
    run_until,
)

UUID = "00079f3e-0479-4475-acff-4f225cc51880"


@pytest.fixture(scope="module")
def few_shuffles(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _catalog(spark, tables):
    return spark.createDataFrame(
        [(t, "uuid", "uuid", 0) for t in tables],
        "table_name string, col_name string, col_type string, col_ord_pos int",
    )


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """Batch 1 (rows_per_batch=10): only table_a traffic. Batch 2: a
    transaction on table_b — the table 'created mid-stream'."""
    lines, lsn = [], 10

    def txn(xid, table, n):
        nonlocal lsn
        lines.append((lsn, f"BEGIN {xid}")); lsn += 2
        for i in range(n):
            lines.append(
                (lsn, f"table public.{table}: UPDATE: uuid[uuid]:'{UUID[:-1]}{i}'")
            ); lsn += 2
        lines.append((lsn, "COMMIT")); lsn += 2

    txn(7, "table_a", 3)   # 5 lines
    txn(8, "table_a", 3)   # 5 lines -> exactly batch 1 at rows_per_batch=10
    txn(9, "table_b", 2)   # batch 2: the new table
    path = str(tmp_path_factory.mktemp("refresh_corpus") / "corpus.parquet")
    spark.createDataFrame(
        [(l, len(p.encode()), p) for l, p in lines],
        "lsn long, data_size int, payload string",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def w2j_corpus(spark, tmp_path_factory):
    """wal2json twin of ``corpus``: one message per transaction, so
    rows_per_batch=2 puts the two table_a messages in batch 1 and the
    table_b message in batch 2."""
    import json

    def msg(xid, table, n):
        return {"xid": xid, "change": [
            {
                "kind": "update",
                "schema": "public",
                "table": table,
                "columnnames": ["uuid"],
                "columntypes": ["uuid"],
                "columnvalues": [f"{UUID[:-1]}{i}"],
            }
            for i in range(n)
        ]}

    payloads = [
        (10, json.dumps(msg(7, "table_a", 3))),
        (20, json.dumps(msg(8, "table_a", 3))),
        (30, json.dumps(msg(9, "table_b", 2))),
    ]
    path = str(tmp_path_factory.mktemp("refresh_w2j") / "corpus.parquet")
    spark.createDataFrame(
        [(l, len(p.encode()), p) for l, p in payloads],
        "lsn long, data_size int, payload string",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_default_pipeline_fail_stops_on_midstream_table(
    spark, corpus, tmp_path_factory, few_shuffles
):
    """Reference-faithful default: the snapshot-once catalog never sees
    table_b, so the sink fail-stops with the byte-identical error."""
    pk_map = primary_key_map(_catalog(spark, ["public.table_a"]))
    stream = build_test_decoding_stream(
        spark, corpus, pk_map, rows_per_batch=10
    )
    transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    ck = str(tmp_path_factory.mktemp("ck_default"))
    # the raw wire token keeps its trailing colon — byte-identical
    # reference error text (formatter.py golden parity)
    with pytest.raises(Exception, match="Unable to locate table"):
        try:
            run_until(stream, writer, ck, done=lambda: False, timeout=60)
        except Exception as e:
            assert 'public.table_b:' in str(e)
            raise


def test_refresh_picks_up_midstream_table(
    spark, corpus, w2j_corpus, tmp_path_factory, few_shuffles
):
    """Opt-in mode: the catalog re-snapshot between batches returns the
    grown table set, so batch 2's table_b rows parse and flow to the
    sink instead of fail-stopping. Both text plugins: test_decoding
    (the stamped stream) and wal2json (the raw stream)."""
    from pg2kinesis_spark.sinks.kpl import deaggregate_kpl

    # test_decoding's operations must name UPPERCASE ops explicitly:
    # 'all' expands to the lowercase set which never matches its UPDATE
    # (§8.4 reference quirk, pinned in test_streaming.py); wal2json
    # kinds are lowercase
    for build, path, rows_per_batch, ops in (
        (build_test_decoding_stream_refreshing, corpus, 10, ("UPDATE",)),
        (build_wal2json_stream_refreshing, w2j_corpus, 2, ("all",)),
    ):
        calls = {"n": 0}

        def load_pk_map():
            # first snapshot: pre-DDL catalog; later snapshots see table_b —
            # the information_schema state after the mid-stream CREATE TABLE
            calls["n"] += 1
            tables = ["public.table_a"] if calls["n"] == 1 else [
                "public.table_a", "public.table_b",
            ]
            return primary_key_map(_catalog(spark, tables))

        stream, parse_fn = build(
            spark, path, rows_per_batch=rows_per_batch, operations=ops
        )
        transport = InMemoryTransport()
        writer = RefreshingWriter(
            KinesisLikeWriter(transport), parse_fn, load_pk_map, refresh_every=1
        )
        ck = str(tmp_path_factory.mktemp("ck_refresh"))
        run_until(
            stream_df=stream,
            writer=writer,
            checkpoint=ck,
            done=lambda: writer.put_message_calls >= 8,  # 6 table_a + 2 table_b
            timeout=90,
        )
        writer.flush_tail()  # delegation check doubles as the KPL drain
        msgs = [
            m.decode()
            for _, data in transport.records
            for _, m in deaggregate_kpl(data)
        ]
        assert sum("public.table_a" in m for m in msgs) == 6, build.__name__
        assert sum("public.table_b" in m for m in msgs) == 2, build.__name__
        assert calls["n"] >= 2  # the catalog really was re-snapshot
        # telemetry delegation: counters ride through the wrapper
        assert writer.put_message_calls == 8


def test_refresh_every_n_batches_and_validation(spark):
    from pg2kinesis_spark.sinks.kinesis import InMemoryTransport

    with pytest.raises(ValueError, match="refresh_every"):
        RefreshingWriter(
            KinesisLikeWriter(InMemoryTransport()), None, None, refresh_every=0
        )
