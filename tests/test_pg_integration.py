"""OPTIONAL live-Postgres integration tests (reference slot.py contract).

These exercise the `pragma: no cover` surfaces of sources/pgcdc.py —
the real psycopg2 slot lifecycle, catalog fetch, and the peek/advance
stream reader — against an actual wal_level=logical Postgres.

They are skipped unless BOTH hold:
  * psycopg2 is importable
  * PG2KINESIS_TEST_DSN is set (e.g. "dbname=postgres user=postgres
    password=postgres host=localhost port=5433")

Bring one up with the snippet in docker/docker-compose.pg.yml:

    docker compose -f docker/docker-compose.pg.yml up -d
    PG2KINESIS_TEST_DSN="dbname=postgres user=postgres password=postgres \
      host=localhost port=5433" python -m pytest tests/test_pg_integration.py -v

Uses the built-in test_decoding output plugin (present in every stock
Postgres); wal2json paths additionally need its extension installed.
"""

from __future__ import annotations

import os
import uuid

import pytest

psycopg2 = pytest.importorskip("psycopg2")

DSN = os.environ.get("PG2KINESIS_TEST_DSN")
pytestmark = [
    pytest.mark.pg_integration,
    pytest.mark.skipif(not DSN, reason="PG2KINESIS_TEST_DSN not set"),
]


@pytest.fixture()
def slot_name():
    return f"pg2k_it_{uuid.uuid4().hex[:10]}"


@pytest.fixture()
def manager(slot_name):
    from pg2kinesis_spark.sources.pgcdc import PgSlotManager

    mgr = PgSlotManager(DSN, slot_name, "test_decoding")
    yield mgr
    mgr.delete_slot()  # idempotent cleanup


@pytest.fixture()
def table(manager):
    name = f"it_{uuid.uuid4().hex[:10]}"
    with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
        cur.execute(f"CREATE TABLE {name} (id int PRIMARY KEY, v text)")
    yield name
    with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
        cur.execute(f"DROP TABLE IF EXISTS {name}")


def test_slot_create_and_drop_are_idempotent_live(manager):
    manager.create_slot()
    manager.create_slot()  # DUPLICATE_OBJECT swallowed (S2)
    manager.delete_slot()
    manager.delete_slot()  # UNDEFINED_OBJECT swallowed (S3)


def test_fetch_pk_catalog_live(manager, table):
    rows = manager.fetch_pk_catalog()
    mine = [r for r in rows if r[0] == table]
    assert mine == [(table, "id", "integer", 1)]


def test_peek_reader_round_trip_and_advance_live(manager, table, slot_name):
    from pg2kinesis_spark.sources.pgcdc import PgCdcStreamReader

    manager.create_slot()
    with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
        for i in range(5):
            cur.execute(f"INSERT INTO {table} VALUES (%s, %s)", (i, f"v{i}"))

    reader = PgCdcStreamReader({"dsn": DSN, "slot": slot_name})
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end["lsn"] > start["lsn"]
    msgs = [m for p in reader.partitions(start, end) for m in reader.read(p)]
    payloads = [m[2] for m in msgs]
    inserts = [p for p in payloads if f"table public.{table}" in p and "INSERT" in p]
    assert len(inserts) == 5
    assert f"id[integer]:0" in inserts[0]
    # LSNs strictly increase and data_size matches payload bytes
    lsns = [m[0] for m in msgs]
    assert lsns == sorted(lsns)
    assert all(m[1] == len(m[2].encode()) for m in msgs)

    # commit() = pg_replication_slot_advance: the acked WAL is gone,
    # fresh inserts are still served (at-least-once S8/T5 contract)
    reader.commit(end)
    with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
        cur.execute(f"INSERT INTO {table} VALUES (100, 'after')")
    reader2 = PgCdcStreamReader({"dsn": DSN, "slot": slot_name})
    end2 = reader2.latestOffset()
    msgs2 = [m for p in reader2.partitions(reader.initialOffset(), end2) for m in reader2.read(p)]
    texts = [m[2] for m in msgs2]
    assert any("after" in t for t in texts)
    assert not any(f"id[integer]:0" in t and "INSERT" in t for t in texts)


def test_pgoutput_binary_peek_parses_live(manager, table, slot_name):
    """Real pgoutput bytes: create a publication + pgoutput slot, insert,
    peek the BINARY change stream, and run the repo's decoder over it —
    the wire-format twin of tests/test_pgoutput.py's hand-packed bytes."""
    from pg2kinesis_spark.operators.pgoutput import decode_message

    from pg2kinesis_spark.sources.pgcdc import PgSlotManager

    pub = f"pub_{slot_name}"
    mgr = PgSlotManager(DSN, slot_name, "pgoutput")
    with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
        cur.execute(f"CREATE PUBLICATION {pub} FOR TABLE {table}")
    try:
        mgr.create_slot()
        with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
            cur.execute(f"INSERT INTO {table} VALUES (1, 'x'), (2, 'y')")
        with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT lsn, data FROM pg_logical_slot_peek_binary_changes("
                "%s, NULL, NULL, 'proto_version', '1', 'publication_names', %s)",
                (slot_name, pub),
            )
            msgs = [decode_message(bytes(d)) for _, d in cur.fetchall()]
        ops = [m["op"] for m in msgs]
        assert "begin" in ops and "relation" in ops and "commit" in ops
        inserts = [m for m in msgs if m["op"] == "insert"]
        assert [m["new"] for m in inserts] == [["1", "x"], ["2", "y"]]
        rel = next(m for m in msgs if m["op"] == "relation")
        assert rel["relname"] == table and rel["key_cols"] == ["id"]
    finally:
        mgr.delete_slot()
        with psycopg2.connect(DSN) as conn, conn.cursor() as cur:
            cur.execute(f"DROP PUBLICATION IF EXISTS {pub}")
