"""Live Postgres logical-decoding streaming source (production path).

The deployment twin of sources/replay.py: same offset model (LSN), same
single-ordered-partition shape, but reading from a real replication slot
via psycopg2 — the rebuild of the reference's SlotReader
(reference slot.py:36-129):

- slot create/drop are SQL calls on a plain connection
  (pg_create_logical_replication_slot / pg_drop_replication_slot) that
  tolerate duplicate/absent slots (reference slot.py:96-120, S2/S3
  idempotency)
- the PK catalog snapshot ships the same information_schema SQL the
  reference sends (reference slot.py:18-33) and feeds
  catalog.primary_key_map
- one stream reader, ``PgCdcStreamReader``: each trigger peeks up to
  rows_per_batch changes (pg_logical_slot_peek_changes) and
  ``commit(offset)`` advances the slot (pg_replication_slot_advance) —
  the ack that lets Postgres reclaim WAL, sent only after the sink's
  batch succeeded (reference __main__.py:101-104, S8/X7). A Structured
  Streaming source is pull-based, so the reference's START_REPLICATION
  push loop (slot.py:122-129) has no counterpart here; un-acked WAL is
  re-served by the slot itself after a crash (at-least-once).

psycopg2 is not installed in this environment; everything here degrades
to ImportError at construction, and the class is excluded from CI. The
replay source exercises the identical engine-facing contract.
"""

from __future__ import annotations

try:
    import psycopg2

    HAVE_PSYCOPG2 = True
except ImportError:
    HAVE_PSYCOPG2 = False

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from pg2kinesis_spark.session import forget_zip_importers

# SQLSTATE codes (public PostgreSQL standard; the values behind
# psycopg2.errorcodes.DUPLICATE_OBJECT / UNDEFINED_OBJECT that the
# reference's tolerance branches compare against, slot.py:102-118).
PG_DUPLICATE_OBJECT = "42710"
PG_UNDEFINED_OBJECT = "42704"

if HAVE_PSYCOPG2:
    ProgrammingError = psycopg2.ProgrammingError
else:
    class ProgrammingError(Exception):
        """Stand-in carrying ``pgcode`` so the slot-lifecycle tolerance
        branches are testable without psycopg2 installed; replaced by
        the real psycopg2.ProgrammingError when it is."""

        def __init__(self, pgcode: str | None = None):
            super().__init__(pgcode)
            self.pgcode = pgcode

# The reference's catalog query, reproduced verbatim in spirit
# (slot.py:18-33): every table, its PK columns where they exist.
PK_SQL = """
SELECT CONCAT(table_schema, '.', table_name) AS table_name,
       column_name, data_type, ordinal_position
FROM information_schema.tables
LEFT JOIN (
    SELECT table_catalog, table_schema, table_name,
           column_name, data_type, ordinal_position
    FROM information_schema.table_constraints
    JOIN information_schema.key_column_usage
      USING (constraint_catalog, constraint_schema, constraint_name,
             table_catalog, table_schema, table_name)
    JOIN information_schema.columns
      USING (table_catalog, table_schema, table_name, column_name)
    WHERE constraint_type = 'PRIMARY KEY'
) pk USING (table_catalog, table_schema, table_name)
WHERE table_type = 'BASE TABLE'
ORDER BY ordinal_position
"""


def _require_psycopg2():
    if not HAVE_PSYCOPG2:  # pragma: no cover
        raise ImportError(
            "psycopg2 is required for the live pgcdc source; use the "
            "cdc_replay source (sources/replay.py) in environments without it"
        )


class PgSlotManager:
    """Connection + slot lifecycle (reference slot.py:36-120).

    ``connection_factory`` (tests): a ``() -> conn`` callable injected
    in place of psycopg2.connect, so the S2/S3 idempotency branches run
    without a Postgres (the reference mocks the cursor the same way,
    test_slot.py:51-140).
    """

    def __init__(
        self,
        dsn: str,
        slot_name: str = "pg2kinesis",
        plugin: str = "test_decoding",
        connection_factory=None,
    ):
        if connection_factory is None:
            _require_psycopg2()
        self.dsn = dsn
        self.slot_name = slot_name
        self.plugin = plugin
        self._connection_factory = connection_factory

    def _conn(self):
        if self._connection_factory is not None:
            return self._connection_factory()
        c = psycopg2.connect(self.dsn)  # pragma: no cover - needs PG
        c.autocommit = True  # pragma: no cover
        return c  # pragma: no cover

    def create_slot(self) -> None:
        """Idempotent create (tolerates DUPLICATE_OBJECT, slot.py:96-108)."""
        with self._conn() as conn, conn.cursor() as cur:
            try:
                cur.execute(
                    "SELECT pg_create_logical_replication_slot(%s, %s)",
                    (self.slot_name, self.plugin),
                )
            except ProgrammingError as e:
                if e.pgcode != PG_DUPLICATE_OBJECT:
                    raise

    def delete_slot(self) -> None:
        """Idempotent drop (tolerates UNDEFINED_OBJECT, slot.py:110-120)."""
        with self._conn() as conn, conn.cursor() as cur:
            try:
                cur.execute("SELECT pg_drop_replication_slot(%s)", (self.slot_name,))
            except ProgrammingError as e:
                if e.pgcode != PG_UNDEFINED_OBJECT:
                    raise

    def fetch_pk_catalog(self) -> list[tuple]:  # pragma: no cover - needs PG
        """One catalog round trip (S4/X6); rows feed
        spark.createDataFrame(..., 'table_name string, col_name string,
        col_type string, col_ord_pos int') → catalog.primary_key_map."""
        with self._conn() as conn, conn.cursor() as cur:
            cur.execute(PK_SQL)
            return cur.fetchall()


class _PgBatch(InputPartition):
    def __init__(self, messages: list[tuple[int, int, str]]):
        self.messages = messages


class PgCdcStreamReader(DataSourceStreamReader):  # pragma: no cover - needs PG
    """Polls the slot with peek semantics; commit() advances the slot.

    Offsets are LSNs; each trigger drains about rows_per_batch messages
    via pg_logical_slot_peek_changes (non-destructive read; it returns
    whole transactions, which the stateless in-batch xid stamp relies
    on), and commit() calls pg_replication_slot_advance — so un-acked WAL
    is re-served after a crash: the same at-least-once contract as the
    reference's ack-after-put feedback loop. An empty peek keeps the last
    end offset.
    """

    def __init__(self, options: dict):
        _require_psycopg2()
        self.mgr = PgSlotManager(
            options["dsn"], options.get("slot", "pg2kinesis"), options.get("plugin", "test_decoding")
        )
        self.rows_per_batch = int(options.get("rowsperbatch", 1000))
        self._pending: list[tuple[int, int, str]] = []
        self._end = 0

    def _peek(self) -> list[tuple[int, int, str]]:
        opts = "('include-xids', '1')" if self.mgr.plugin == "wal2json" else ""
        with self.mgr._conn() as conn, conn.cursor() as cur:
            cur.execute(
                f"SELECT lsn, xid, data FROM pg_logical_slot_peek_changes(%s, NULL, %s{',' if opts else ''} {opts})",
                (self.mgr.slot_name, self.rows_per_batch),
            )
            rows = cur.fetchall()
        return [(self._lsn_to_int(l), len(d.encode()), d) for l, _, d in rows]

    @staticmethod
    def _lsn_to_int(lsn: str) -> int:
        hi, lo = lsn.split("/")
        return (int(hi, 16) << 32) | int(lo, 16)

    @staticmethod
    def _int_to_lsn(v: int) -> str:
        return f"{v >> 32:X}/{v & 0xFFFFFFFF:X}"

    def initialOffset(self) -> dict:
        return {"lsn": 0}

    def latestOffset(self) -> dict:
        self._pending = self._peek()
        if self._pending:
            self._end = max(self._end, self._pending[-1][0])
        return {"lsn": self._end}

    def partitions(self, start: dict, end: dict):
        self._end = max(self._end, end["lsn"])
        msgs = [m for m in self._pending if start["lsn"] < m[0] <= end["lsn"]]
        return [_PgBatch(msgs)]

    def read(self, partition: _PgBatch):
        forget_zip_importers()
        yield from partition.messages

    def commit(self, end: dict) -> None:
        # The ack (S8): Postgres may now reclaim WAL up to this LSN.
        with self.mgr._conn() as conn, conn.cursor() as cur:
            cur.execute(
                "SELECT pg_replication_slot_advance(%s, %s)",
                (self.mgr.slot_name, self._int_to_lsn(end["lsn"])),
            )


class PgCdcDataSource(DataSource):  # pragma: no cover - needs PG
    """spark.readStream.format("pgcdc").option("dsn", ...).load()"""

    @classmethod
    def name(cls) -> str:
        return "pgcdc"

    def schema(self) -> str:
        return "lsn bigint, data_size int, payload string"

    def streamReader(self, schema):
        return PgCdcStreamReader(self.options)
