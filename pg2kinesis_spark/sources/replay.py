"""CDC replay streaming source (PySpark Python DataSource API).

The Spark-native rebuild of the reference's replication-slot reader
(reference slot.py:122-129): a streaming source whose **offset is the
LSN** and whose **commit() is the ack** (the reference's
``send_feedback(flush_lsn=...)``, __main__.py:101-104).

In production the read path would speak the Postgres replication
protocol (see sources/pgcdc.py); here it replays a parquet-backed wire
corpus so the full pipeline — source offsets, micro-batches, xid stamp,
parse, ordered sink, commit log — runs end to end in tests exactly as
it would against a live slot.

Offset model: ``{"lsn": <last-served-lsn>}``; each micro-batch serves
whole transactions in strictly increasing LSN order from a single
partition (a replication slot IS one ordered partition — same shape as
the reference's single connection). ``rows_per_batch`` is a soft limit
rounded up to the row before the next transaction start (a ``BEGIN ``
line, or a base64 pgoutput Begin), as Postgres's peek rounds
``upto_nchanges``; a corpus without starts (wal2json) keeps exact batches.
``commit(offset)`` appends the acked LSN — always a transaction end — to
``ack_log``, the analogue of WAL-truncation feedback.

Read path: ``read`` serves exactly the batch's range (start, end] and does
work in proportion to it, not to the corpus. The parquet read is filtered
on ``lsn``, so row-group statistics skip every row group outside the
range (a corpus written sorted in 64k-row groups costs one or two groups
per batch). The rows are then sorted in Arrow on (lsn, data_size,
payload): a corpus written by Spark is a directory of part files in no
LSN order, so the sort has to stay. The result is cast to the declared
schema and yielded as Arrow record batches, which PySpark hands to the
JVM without a per-row conversion. ``read`` runs once per micro-batch in a
Python worker, whose task start re-reads every cached zip archive on its
``sys.path`` (~0.15-0.2 s on CPython 3.11) unless the previous task
dropped those finders, so it first calls ``forget_zip_importers``.
"""

from __future__ import annotations

import bisect
import json
import os

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from pg2kinesis_spark.session import forget_zip_importers


class _Batch(InputPartition):
    def __init__(self, path: str, start_lsn: int, end_lsn: int):
        self.path = path
        self.start_lsn = start_lsn
        self.end_lsn = end_lsn


class CdcReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.rows_per_batch = int(options.get("rowsperbatch", 1000))
        self.ack_log = options.get("acklog")
        self._lsns: list[int] | None = None
        self._starts: list[int] | None = None
        self._cursor: int | None = None

    def _all_lsns(self) -> list[int]:
        if self._lsns is None:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            t = pq.read_table(self.path, columns=["lsn"])
            self._lsns = sorted(t.column("lsn").to_pylist())
            # transaction starts, matched inside the scan (no payload is
            # kept): a BEGIN line, or a base64 pgoutput Begin (0x42 -> Q[g-v])
            begins = pc.match_substring_regex(pc.field("payload"), pattern="^(BEGIN |Q[g-v])")
            t = pq.read_table(self.path, columns=["lsn"], filters=begins)
            self._starts = sorted(t.column("lsn").to_pylist())
        return self._lsns

    def initialOffset(self) -> dict:
        # A fresh checkpoint that reuses an existing ack log starts at
        # the ack watermark, not the corpus start — otherwise batch 0
        # would span [corpus start, recovered + rows_per_batch]: one
        # unbounded batch re-serving the whole previously-acked range,
        # defeating the rows_per_batch backpressure knob. This is the
        # slot's confirmed_flush_lsn semantics: acked WAL is reclaimed.
        recovered = self._recovered_cursor()
        if recovered is not None:
            self._cursor = recovered
            return {"lsn": recovered}
        lsns = self._all_lsns()
        return {"lsn": (lsns[0] - 1) if lsns else 0}

    def _recovered_cursor(self) -> int | None:
        """After a restart the in-memory cursor is gone; the last acked
        LSN in the ack log is the durable low-water mark (the analogue of
        the slot's confirmed_flush_lsn). Without it, a restart whose
        every batch was committed would re-serve the whole corpus and
        append regressing acks."""
        if not self.ack_log or not os.path.exists(self.ack_log):
            return None
        last = None
        with open(self.ack_log) as f:
            for line in f:
                if line.strip():
                    last = json.loads(line)["acked_lsn"]
        return last

    def latestOffset(self) -> dict:
        # Advance by about rows_per_batch messages per trigger — the
        # backpressure knob (maxOffsetsPerTrigger analogue, T4). The
        # cursor lives on the driver for the lifetime of the query; after
        # a restart it is recovered from the ack log (commit watermark),
        # and partitions() re-syncs it from the checkpointed start.
        lsns = self._all_lsns()
        if not lsns:
            return {"lsn": 0}
        if self._cursor is None:
            self._cursor = self._recovered_cursor()
        cur = self._cursor if self._cursor is not None else lsns[0] - 1
        i = bisect.bisect_right(lsns, cur)
        j = min(i + self.rows_per_batch, len(lsns))
        starts = self._starts
        if i < j < len(lsns) and starts:
            # end before the first transaction start past the soft limit
            k = bisect.bisect_right(starts, lsns[j - 1])
            j = bisect.bisect_left(lsns, starts[k]) if k < len(starts) else len(lsns)
        new = lsns[j - 1] if j > i else cur
        self._cursor = new
        return {"lsn": new}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # ONE partition: a replication slot is an ordered log; parallelism
        # belongs downstream of the parse (SURVEY §4, T2).
        self._cursor = max(self._cursor or 0, end["lsn"])
        return [_Batch(self.path, start["lsn"], end["lsn"])]

    def read(self, partition: _Batch):
        import pyarrow as pa
        import pyarrow.parquet as pq

        forget_zip_importers()
        t = pq.read_table(
            partition.path,
            columns=["lsn", "data_size", "payload"],
            filters=[("lsn", ">", partition.start_lsn), ("lsn", "<=", partition.end_lsn)],
        )
        # All three columns in the key: rows sharing an LSN come out in one
        # fixed order whatever the part-file layout.
        t = t.sort_by([("lsn", "ascending"), ("data_size", "ascending"), ("payload", "ascending")])
        # Arrow batches pass straight through to the JVM, so they must carry
        # the declared schema exactly: a corpus written from Python ints
        # without a schema stores data_size as int64.
        schema = pa.schema([("lsn", pa.int64()), ("data_size", pa.int32()), ("payload", pa.string())])
        yield from t.cast(schema).to_batches()

    def commit(self, end: dict) -> None:
        # The ack point (S8): progress is durable from the source's point
        # of view only once the sink batch holding these LSNs succeeded.
        if self.ack_log:
            with open(self.ack_log, "a") as f:
                f.write(json.dumps({"acked_lsn": end["lsn"], "pid": os.getpid()}) + "\n")


class CdcReplayDataSource(DataSource):
    """spark.readStream.format("cdc_replay").option("path", ...).load()"""

    @classmethod
    def name(cls) -> str:
        return "cdc_replay"

    def schema(self) -> str:
        return "lsn bigint, data_size int, payload string"

    def streamReader(self, schema) -> CdcReplayStreamReader:
        return CdcReplayStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(CdcReplayDataSource)
