"""S2/S3 slot-lifecycle idempotency (reference slot.py:96-120).

Mirror of the reference's mocked-cursor tests (test_slot.py:51-140):
DUPLICATE_OBJECT on create and UNDEFINED_OBJECT on drop are swallowed
(idempotent re-run); every other error — pgcode or not — re-raises.
No Postgres needed: a fake connection factory stands in for
psycopg2.connect, its cursor records the slot SQL, and ProgrammingError
carries the pgcode.
"""

from __future__ import annotations

import pytest

from pg2kinesis_spark.sources.pgcdc import (
    PG_DUPLICATE_OBJECT,
    PG_UNDEFINED_OBJECT,
    PgSlotManager,
    ProgrammingError,
)


class FakeCursor:
    """Records the slot SQL; raises the configured error for the
    create or the drop statement."""

    def __init__(self, create_raises=None, drop_raises=None):
        self.create_raises = create_raises
        self.drop_raises = drop_raises
        self.create_calls: list[tuple[str, str]] = []
        self.drop_calls: list[str] = []

    def execute(self, sql, params):
        if sql == "SELECT pg_create_logical_replication_slot(%s, %s)":
            self.create_calls.append(params)
            raises = self.create_raises
        else:
            assert sql == "SELECT pg_drop_replication_slot(%s)", sql
            (slot_name,) = params
            self.drop_calls.append(slot_name)
            raises = self.drop_raises
        if raises is not None:
            raise raises

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class FakeConn:
    def __init__(self, cursor):
        self._cursor = cursor

    def cursor(self):
        return self._cursor

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _mgr(cursor):
    conn = FakeConn(cursor)
    return PgSlotManager("dbname=x", "slot1", "wal2json", connection_factory=lambda: conn)


def test_create_slot_passes_name_and_plugin():
    cur = FakeCursor()
    mgr = _mgr(cur)
    mgr.create_slot()
    assert cur.create_calls == [("slot1", "wal2json")]


def test_create_slot_swallows_duplicate_object():
    cur = FakeCursor(create_raises=ProgrammingError(pgcode=PG_DUPLICATE_OBJECT))
    mgr = _mgr(cur)
    mgr.create_slot()  # no raise — idempotent re-create (slot.py:102-108)
    assert len(cur.create_calls) == 1


def test_create_slot_reraises_other_pgcodes():
    # e.g. OBJECT_IN_USE — anything that isn't "already exists" must surface
    cur = FakeCursor(create_raises=ProgrammingError(pgcode="55006"))
    mgr = _mgr(cur)
    with pytest.raises(ProgrammingError):
        mgr.create_slot()


def test_create_slot_reraises_non_programming_errors():
    cur = FakeCursor(create_raises=RuntimeError("connection lost"))
    mgr = _mgr(cur)
    with pytest.raises(RuntimeError):
        mgr.create_slot()


def test_delete_slot_swallows_undefined_object():
    cur = FakeCursor(drop_raises=ProgrammingError(pgcode=PG_UNDEFINED_OBJECT))
    mgr = _mgr(cur)
    mgr.delete_slot()  # no raise — idempotent drop of an absent slot (slot.py:114-120)
    assert cur.drop_calls == ["slot1"]


def test_delete_slot_reraises_other_pgcodes():
    cur = FakeCursor(drop_raises=ProgrammingError(pgcode="55006"))  # OBJECT_IN_USE
    mgr = _mgr(cur)
    with pytest.raises(ProgrammingError):
        mgr.delete_slot()


def test_delete_slot_reraises_non_programming_errors():
    cur = FakeCursor(drop_raises=RuntimeError("connection lost"))
    mgr = _mgr(cur)
    with pytest.raises(RuntimeError):
        mgr.delete_slot()


def test_recreate_cycle_is_idempotent_end_to_end():
    """--recreate-slot path: drop (absent ok) then create (dup ok) —
    the reference CLI sequence (__main__.py:56-60) never fails on
    either pre-existing state."""
    cur = FakeCursor(
        create_raises=ProgrammingError(pgcode=PG_DUPLICATE_OBJECT),
        drop_raises=ProgrammingError(pgcode=PG_UNDEFINED_OBJECT),
    )
    mgr = _mgr(cur)
    mgr.delete_slot()
    mgr.create_slot()
    assert cur.drop_calls and cur.create_calls



def test_live_reader_empty_peek_keeps_last_end(monkeypatch):
    """An empty peek (nothing new in the slot) must not move the offset
    back to 0: Spark would see the end behind the last one, and the next
    commit could ask pg_replication_slot_advance for 0/0. The reader keeps
    the last end it served."""
    from pg2kinesis_spark.sources import pgcdc

    monkeypatch.setattr(pgcdc, "HAVE_PSYCOPG2", True)
    reader = pgcdc.PgCdcStreamReader({"dsn": "unused", "rowsperbatch": "2"})
    peeks = iter([[(10, 7, "BEGIN 5"), (12, 20, "table t: INSERT: id[integer]:1"), (14, 6, "COMMIT")], []])
    reader._peek = lambda: next(peeks)
    assert reader.initialOffset() == {"lsn": 0}
    assert reader.latestOffset() == {"lsn": 14}
    assert [len(p.messages) for p in reader.partitions({"lsn": 0}, {"lsn": 14})] == [3]
    assert reader.latestOffset() == {"lsn": 14}
    assert reader.partitions({"lsn": 14}, {"lsn": 14})[0].messages == []
