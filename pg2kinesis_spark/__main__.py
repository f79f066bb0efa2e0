"""CLI driver — the rebuild of the reference's console entry point
(reference __main__.py:14-69, D1-D3).

Same options, Spark wiring: builds a SparkSession, snapshots the PK
catalog, assembles source → parse → format → filter → sink, and blocks
on awaitTermination (the reference's consume loop).

    python -m pg2kinesis_spark --source replay --replay-path fixtures/cdc_test_decoding.parquet \
        --pk-catalog fixtures/pk_catalog.parquet --transport memory --drain

Live deployment swaps --source pgcdc (psycopg2) and --transport kinesis
(boto3); both are import-gated, so this environment runs replay+memory.
"""

from __future__ import annotations

import argparse
import sys

SUPPORTED_OPERATIONS = ["update", "insert", "delete", "truncate"]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("pg2kinesis_spark")
    # -- reference CLI surface (D1, __main__.py:14-39)
    p.add_argument("--pg-dbname", "-d", help="Database to connect to.")
    p.add_argument("--pg-host", default="", help="Postgres server location.")
    p.add_argument("--pg-port", "-p", default="5432", help="Postgres port.")
    p.add_argument("--pg-user", "-u", help="Postgres user.")
    p.add_argument("--pg-sslmode", default="prefer", help="Postgres SSL mode.")
    p.add_argument("--pg-slot-name", "-s", default="pg2kinesis")
    p.add_argument(
        "--pg-slot-output-plugin",
        default="test_decoding",
        # pgoutput is beyond-reference: the built-in binary protocol
        # (replay corpora carry its messages base64-encoded)
        choices=["test_decoding", "wal2json", "pgoutput"],
    )
    p.add_argument("--stream-name", "-k", default="pg2kinesis")
    p.add_argument("--message-formatter", "-f", default="CSVPayload", choices=["CSVPayload", "CSV"])
    p.add_argument("--table-pat", help="Optional regular expression for table names.")
    p.add_argument("--full-change", action="store_true", help="Emit all columns of a changed row.")
    p.add_argument("--create-slot", action="store_true")
    p.add_argument("--recreate-slot", action="store_true")
    p.add_argument(
        "--operations",
        action="append",
        choices=["all"] + SUPPORTED_OPERATIONS,
        help="Which operations to replicate. Default: all",
    )
    # -- rebuild-specific wiring
    p.add_argument("--source", default="pgcdc", choices=["pgcdc", "replay"])
    p.add_argument("--replay-path", help="Parquet wire corpus for --source replay.")
    p.add_argument("--pk-catalog", help="Parquet pk_catalog for --source replay.")
    p.add_argument(
        "--pk-refresh-batches", type=int, default=None, metavar="N",
        help="Opt-in PK-cache refresh for test_decoding/wal2json: "
        "re-snapshot the catalog every N micro-batches so mid-stream "
        "DDL starts parsing instead of fail-stopping (reference "
        "README.rst future work; default keeps snapshot-once).",
    )
    p.add_argument("--transport", default="kinesis", choices=["kinesis", "memory"])
    p.add_argument("--checkpoint", default="/tmp/pg2kinesis_spark_ckpt")
    p.add_argument("--ack-log", default=None)
    p.add_argument("--rows-per-batch", type=int, default=1000, help="Soft limit, rounded up to whole transactions.")
    p.add_argument("--drain", action="store_true", help="Stop once the replay corpus is consumed.")
    return p


def validate(args) -> None:
    """D2 (reference __main__.py:45-47) — same asserts."""
    if args.full_change:
        assert args.message_formatter == "CSVPayload", "Full changes must be formatted as JSON."
        assert args.pg_slot_output_plugin == "wal2json", "Full changes must use wal2json."


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    validate(args)
    operations = tuple(args.operations or ("all",))

    from pg2kinesis_spark.catalog import primary_key_map
    from pg2kinesis_spark.session import get_spark
    from pg2kinesis_spark.sinks.kinesis import InMemoryTransport, KinesisLikeWriter
    from pg2kinesis_spark.streaming.pipeline import (
        RefreshingWriter,
        build_pgoutput_stream,
        build_test_decoding_stream_refreshing,
        build_wal2json_stream_refreshing,
        read_pgcdc_stream,
        run_to_sink,
        run_until,
    )

    spark = get_spark("pg2kinesis_spark")
    plugin = args.pg_slot_output_plugin

    if args.source == "pgcdc":
        from pg2kinesis_spark.sources.pgcdc import PgSlotManager

        dsn = (
            f"dbname={args.pg_dbname} host={args.pg_host} port={args.pg_port} "
            f"user={args.pg_user} sslmode={args.pg_sslmode}"
        )
        mgr = PgSlotManager(dsn, args.pg_slot_name, plugin)
        if args.recreate_slot:
            mgr.delete_slot()
            mgr.create_slot()
        elif args.create_slot:
            mgr.create_slot()

        def load_pk_map():
            # live: a fresh information_schema snapshot per call
            return primary_key_map(spark.createDataFrame(
                mgr.fetch_pk_catalog(),
                "table_name string, col_name string, col_type string, col_ord_pos int",
            ))

        # Live source (S1): the raw stream DataFrame itself is the source
        # handle the builders consume (reference __main__.py:49-69 wiring).
        corpus = read_pgcdc_stream(spark, dsn, args.pg_slot_name, plugin, args.rows_per_batch)
    else:
        assert args.replay_path, "--source replay needs --replay-path"
        if plugin != "pgoutput":
            assert args.pk_catalog, "--source replay needs --pk-catalog"

        def load_pk_map():
            # replay: re-read the catalog parquet (the test twin of a
            # live re-snapshot — update the file to simulate DDL)
            return primary_key_map(spark.read.parquet(args.pk_catalog))

        corpus = args.replay_path

    fmt = "CSV" if args.message_formatter == "CSV" else "CSVPayload"
    common = dict(
        formatter=fmt, operations=operations, table_pat=args.table_pat,
        rows_per_batch=args.rows_per_batch, ack_log=args.ack_log,
    )
    parse_fn = None
    if plugin == "pgoutput":
        # pgoutput carries its own keys (Relation replica identity) —
        # no pk catalog; the registry comes from the corpus itself for
        # replay, or a catalog snapshot for live slots.
        from pg2kinesis_spark.operators.pgoutput import relation_registry_from_replay

        assert args.source == "replay", (
            "live pgoutput needs the binary peek path — provide a replay "
            "corpus (base64 payloads) or use test_decoding/wal2json live"
        )
        registry = relation_registry_from_replay(spark, args.replay_path)
        stream = build_pgoutput_stream(spark, corpus, registry, **common)
    elif plugin == "test_decoding":
        stream, parse_fn = build_test_decoding_stream_refreshing(spark, corpus, **common)
    else:
        stream, parse_fn = build_wal2json_stream_refreshing(
            spark, corpus, full_change=args.full_change, **common
        )

    if args.transport == "kinesis":
        from pg2kinesis_spark.sinks.kinesis_boto import BotoKinesisTransport

        transport = BotoKinesisTransport(args.stream_name)
    else:
        transport = InMemoryTransport()
    writer = KinesisLikeWriter(transport)
    writer.log = lambda line: print(line, file=sys.stderr)
    if parse_fn is not None:
        if args.pk_refresh_batches:
            writer = RefreshingWriter(
                writer, parse_fn, load_pk_map, refresh_every=args.pk_refresh_batches
            )
        else:
            stream = parse_fn(stream, load_pk_map())

    if args.drain:
        # Drain = stop once the sink has gone quiet: no new put_message
        # calls for a few seconds after at least one batch ran.
        import time as _time

        state = {"last_n": -1, "last_t": _time.time()}

        def _quiet() -> bool:
            n = writer.put_message_calls
            now = _time.time()
            if n != state["last_n"]:
                state["last_n"], state["last_t"] = n, now
                return False
            return n > 0 and now - state["last_t"] > 5.0

        run_until(stream, writer, args.checkpoint, done=_quiet)
        writer.flush_tail()
        print(
            f"drained: put_message_calls={writer.put_message_calls} "
            f"physical_puts={writer.physical_puts} records={len(getattr(transport, 'records', []))}"
        )
    else:
        q = run_to_sink(stream, writer, args.checkpoint, available_now=False)
        q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
