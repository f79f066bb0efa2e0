"""CLI driver tests (D1/D2 — reference __main__.py:14-47)."""

from __future__ import annotations

import os

import pytest

from pg2kinesis_spark.__main__ import build_parser, main, validate


def test_defaults_match_reference():
    args = build_parser().parse_args([])
    assert args.pg_port == "5432"
    assert args.pg_sslmode == "prefer"
    assert args.pg_slot_name == "pg2kinesis"
    assert args.pg_slot_output_plugin == "test_decoding"
    assert args.stream_name == "pg2kinesis"
    assert args.message_formatter == "CSVPayload"
    assert not args.full_change


def test_full_change_requires_csvpayload():
    args = build_parser().parse_args(["--full-change", "--message-formatter", "CSV"])
    with pytest.raises(AssertionError, match="Full changes must be formatted as JSON."):
        validate(args)


def test_full_change_requires_wal2json():
    args = build_parser().parse_args(["--full-change"])  # plugin defaults to test_decoding
    with pytest.raises(AssertionError, match="Full changes must use wal2json."):
        validate(args)


def test_cli_drain_replay(spark, pk_fixture_dir, tmp_path, capsys):
    """End-to-end through the real CLI entry point on a tiny corpus. The
    one INSERT reaches the writer as a message, and the case-sensitive
    operation filter (§8.4: 'insert' never matches 'INSERT') nulls it,
    so nothing is put."""
    corpus = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        [
            (1, 9, "BEGIN 42"),
            (2, 60, "table public.test_table: INSERT: uuid[uuid]:'a-1'"),
            (3, 6, "COMMIT"),
        ],
        "lsn long, data_size int, payload string",
    ).coalesce(1).write.parquet(corpus)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        rc = main(
            [
                "--source", "replay",
                "--replay-path", corpus,
                "--pk-catalog", os.path.join(pk_fixture_dir, "pk_catalog.parquet"),
                "--transport", "memory",
                "--operations", "INSERT".lower(),  # lowercase list (§8.4)
                "--checkpoint", str(tmp_path / "ckpt"),
                "--drain",
            ]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rc == 0
    drained = [l for l in capsys.readouterr().out.splitlines() if l.startswith("drained:")]
    assert drained == ["drained: put_message_calls=1 physical_puts=0 records=0"]


def test_pgcdc_stream_builds_without_pg(spark):
    """--source pgcdc wiring (D3 live branch): the source registers and
    the stream DataFrame resolves its schema with no live Postgres —
    psycopg2 is only needed once the query starts polling the slot."""
    from pg2kinesis_spark.streaming.pipeline import read_pgcdc_stream

    df = read_pgcdc_stream(spark, "dbname=x host=y port=5432 user=u", "slot1", "wal2json", 500)
    assert df.isStreaming
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("lsn", "bigint"),
        ("data_size", "int"),
        ("payload", "string"),
    ]


def test_pgcdc_stream_feeds_builders(spark):
    """The live raw stream plugs into the same parse/format builders the
    replay path uses (no path=None replay construction)."""
    from pg2kinesis_spark.catalog import primary_key_map
    from pg2kinesis_spark.streaming.pipeline import build_test_decoding_stream, read_pgcdc_stream

    catalog = spark.createDataFrame(
        [("public.t", "id", "integer", 0)],
        "table_name string, col_name string, col_type string, col_ord_pos int",
    )
    raw = read_pgcdc_stream(spark, "dbname=x", "slot1", "test_decoding", 100)
    stream = build_test_decoding_stream(spark, raw, primary_key_map(catalog))
    assert stream.isStreaming
    assert {"lsn", "xid", "fmt_msg", "error"} <= set(stream.columns)


def test_replay_builder_rejects_missing_path(spark):
    from pg2kinesis_spark.catalog import primary_key_map
    from pg2kinesis_spark.streaming.pipeline import build_test_decoding_stream

    catalog = spark.createDataFrame(
        [("public.t", "id", "integer", 0)],
        "table_name string, col_name string, col_type string, col_ord_pos int",
    )
    with pytest.raises(ValueError, match="streaming DataFrame .* or a replay corpus path"):
        build_test_decoding_stream(spark, None, primary_key_map(catalog))


def test_cli_drain_pgoutput_replay(spark, tmp_path):
    """The pgoutput plugin through the real CLI entry point: registry
    self-derived from the replay corpus, no --pk-catalog needed."""
    from pg2kinesis_spark.fixtures import gen_pgoutput

    corpus = str(tmp_path / "pgout.parquet")
    spark.createDataFrame(
        gen_pgoutput(n_txns=4, seed=44), "lsn long, data_size int, payload string"
    ).coalesce(1).write.parquet(corpus)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        rc = main(
            [
                "--source", "replay",
                "--replay-path", corpus,
                "--pg-slot-output-plugin", "pgoutput",
                "--message-formatter", "CSV",
                "--transport", "memory",
                "--checkpoint", str(tmp_path / "ckpt_pgout"),
                "--drain",
            ]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rc == 0
