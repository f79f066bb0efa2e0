"""Ordered, packing, retrying Kinesis-style sink (foreachBatch).

Rebuilds the reference's StreamWriter (reference stream.py) on
Structured Streaming micro-batches:

- **Record aggregation (S6/A3/X3)**: user messages pack into ≤1 MB
  aggregate records keyed by the xid of a contained record
  (reference stream.py:16,36) — amortizes per-record transport cost.
- **Flush policy (T3/X4)**: aggregate-full OR send-window expiry. The
  reference only evaluates the clock when a message arrives
  (stream.py:39-42, fidelity §8.9); the micro-batch trigger is the
  rebuild's clock, and every batch flushes its tail — a strict
  improvement documented there.
- **Retry (S7/X5)**: exponential backoff 0.05 s × 2ⁿ capped at
  ``back_off_limit``, then the batch fails (reference stream.py:54-74)
  → Structured Streaming retries the batch from the checkpoint, giving
  the same at-least-once contract end to end.
- **Ordering (T2/O2)**: one logical writer sending in LSN order — the
  structural invariant behind "commit order, 1 shard"
  (reference stream.py:20, README.rst:39). Width upstream is
  unconstrained; only this final stage is serial, same as the reference.
- **Null messages (§8.6)**: operation-filtered rows arrive with
  fmt_msg=NULL and are counted (put_message(None) parity) but never
  packed — the counts drive the reference's flush accounting tests.

Transport is pluggable: tests use InMemoryTransport; a boto3-backed
transport ships in sinks/kinesis_boto.py behind an import guard (no AWS
in this environment).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pg2kinesis_spark.operators.errors import CdcParseError
from pg2kinesis_spark.sinks.kpl import (
    KPL_MAGIC,
    _TAG_DATA,
    _TAG_PK_INDEX,
    _TAG_PK_TABLE,
    _TAG_RECORD,
    _varint,
)


class ProvisionedThroughputExceeded(Exception):
    """Transport signals backpressure — triggers the backoff loop."""


# Fixed serialized overhead of an aggregate: 4-byte magic + 16-byte MD5.
_KPL_FIXED_OVERHEAD = 20

# The sink row: every producer hands process_batch exactly these columns
# (the stream tail in streaming/pipeline.py builds them). Rows drain in
# (lsn, change_idx) order; ``is_frame`` rows (BEGIN/COMMIT, empty wal2json
# messages) are counted but never put; ``wire_size`` is the data_size of
# the row's wire message, counted once per lsn.
SINK_ROW = ("lsn", "change_idx", "xid", "fmt_msg", "error", "is_frame", "wire_size")


@dataclass
class AggRecord:
    """A KPL aggregate: many user records, one transport record.

    The aggregate's partition key is the key of the first contained
    record (reference stream.py:36); serialize() emits the public KPL
    aggregated-record wire format (magic + protobuf + md5) that standard
    Kinesis consumer deaggregators read — the same format the
    reference's aws_kinesis_agg dependency produces (stream.py:16).

    Size accounting mirrors aws_kinesis_agg's get_estimated_size: the
    fill check compares the aggregate's *serialized* size — user bytes
    plus per-record protobuf framing plus the partition-key-table delta
    for first-seen keys plus the magic/md5 envelope — against max_bytes,
    so a full aggregate can never exceed the Kinesis 1 MiB record limit
    (a raw-bytes check would: small CDC messages carry ~7-9 framing
    bytes each, ~25 % over on 33-byte records). ``est_size`` is exact,
    not an estimate: serialize() produces exactly this many bytes.
    ``messages`` counts the contained records.
    """

    partition_key: str | None = None
    messages: int = 0
    est_size: int = _KPL_FIXED_OVERHEAD
    _key_idx: dict[str, int] = field(default_factory=dict)
    # Incrementally framed protobuf fragments (r13 opt round): add()
    # already walks every message to price it, so it frames the record
    # bytes in the same walk — serialize() then just concatenates
    # key-table + records + md5 instead of re-walking the whole
    # aggregate through serialize_kpl (the drain's second per-message
    # loop, ~40% of the measured Python sink time). Byte-identical to
    # serialize_kpl by construction (same framing arithmetic, same
    # first-seen key-table order) — parity-pinned in tests/test_kpl.py.
    _table: bytearray = field(default_factory=bytearray)
    _buf: bytearray = field(default_factory=bytearray)

    def add(self, msg: bytes, partition_key: str, max_bytes: int) -> bool:
        if self.partition_key is None:
            self.partition_key = partition_key
        idx = self._key_idx.get(partition_key)
        new_key = idx is None
        msg_len = len(msg)
        buf = self._buf
        if not new_key and idx < 0x80 and msg_len < 0x7C:
            # fast path (typical CDC messages, seen key): every varint is
            # one byte, rec_len = 4 + msg_len < 0x80 — same arithmetic as
            # below, no function calls
            delta = 6 + msg_len
            if self.messages and self.est_size + delta > max_bytes:
                return False
            buf.append(_TAG_RECORD)
            buf.append(4 + msg_len)
            buf.append(_TAG_PK_INDEX)
            buf.append(idx)
            buf.append(_TAG_DATA)
            buf.append(msg_len)
            buf.extend(msg)
        elif not new_key and idx < 0x4000 and msg_len < 0x7B:
            # two-byte-idx fast path (r13 opt round): CDC partition keys
            # are xids, so an aggregate's key table routinely passes 128
            # entries and every add was taking the general path below —
            # 3 _varint calls + bytes temporaries per message (profiled
            # 840k calls per 250k-message drain). idx < 0x4000 is a
            # two-byte varint (low 7 bits | 0x80, then high bits) and
            # rec_len = 5 + msg_len stays single-byte while
            # msg_len < 0x7B — same arithmetic as the general path,
            # no function calls. Byte-parity pinned by
            # tests/test_kpl.py::test_agg_incremental_framing_matches_serialize_kpl.
            delta = 7 + msg_len
            if self.messages and self.est_size + delta > max_bytes:
                return False
            buf.append(_TAG_RECORD)
            buf.append(5 + msg_len)
            buf.append(_TAG_PK_INDEX)
            buf.append(idx & 0x7F | 0x80)
            buf.append(idx >> 7)
            buf.append(_TAG_DATA)
            buf.append(msg_len)
            buf.extend(msg)
        else:
            if new_key:
                idx = len(self._key_idx)
                kb = partition_key.encode()
                key_entry = b"%c%s%s" % (_TAG_PK_TABLE, _varint(len(kb)), kb)
                delta = len(key_entry)  # key-table entry
            else:
                delta = 0
            # framed Record message: tag+len envelope around pk-index + data
            vi = _varint(idx)
            vl = _varint(msg_len)
            rec_len = 2 + len(vi) + len(vl) + msg_len
            vr = _varint(rec_len)
            delta += 1 + len(vr) + rec_len
            if self.messages and self.est_size + delta > max_bytes:
                return False
            if new_key:
                self._key_idx[partition_key] = idx
                self._table += key_entry
            buf.append(_TAG_RECORD)
            buf.extend(vr)
            buf.append(_TAG_PK_INDEX)
            buf.extend(vi)
            buf.append(_TAG_DATA)
            buf.extend(vl)
            buf.extend(msg)
        self.messages += 1
        self.est_size += delta
        return True

    def serialize(self) -> bytes:
        import hashlib

        payload = bytes(self._table) + bytes(self._buf)
        return KPL_MAGIC + payload + hashlib.md5(payload).digest()


class InMemoryTransport:
    """Test transport: records every put; can fail N times to exercise
    the backoff schedule (reference test_stream.py:37-98 shape)."""

    def __init__(self, fail_times: int = 0):
        self.records: list[tuple[str, bytes]] = []
        self.fail_times = fail_times
        self.attempts = 0

    def put_record(self, data: bytes, partition_key: str) -> None:
        self.attempts += 1
        if self.fail_times > 0:
            self.fail_times -= 1
            raise ProvisionedThroughputExceeded()
        self.records.append((partition_key, data))


class KinesisLikeWriter:
    """put_message / flush engine, one instance per streaming query."""

    def __init__(
        self,
        transport,
        send_window: int = 13,
        back_off_limit: int = 60,
        max_agg_bytes: int = 1 << 20,
        sleep=time.sleep,
        clock=time.time,
    ):
        self.transport = transport
        self.send_window = send_window
        self.back_off_limit = back_off_limit
        self.max_agg_bytes = max_agg_bytes
        self._sleep = sleep
        self._clock = clock
        self._agg = AggRecord()
        self.last_send = self._clock()
        self.put_message_calls = 0
        self.physical_puts = 0
        # progress metrics (reference Consume counters, __main__.py:72-77)
        self.cum_msg_count = 0
        self.cum_msg_size = 0
        self.msg_window_count = 0
        self.msg_window_size = 0
        self._cur_window = 0
        self.log = None  # set to a callable to receive progress lines (T7)

    # -- reference stream.py:32-44 ------------------------------------
    def put_message(self, fmt_msg: str | None, partition_key: str | None) -> bool:
        """Add a message; flush on aggregate-full or window expiry.
        Returns True iff a physical put happened (ack gate, S8)."""
        return self._put_encoded(
            fmt_msg.encode() if fmt_msg is not None else None, partition_key
        )

    def _put_encoded(self, data: bytes | None, partition_key: str | None) -> bool:
        """put_message with the bytes already encoded — the batch drain
        needs the encoded length for its counters anyway, so encoding
        once there instead of once per counter + once per put halves
        the per-message string work (r13 opt round). Semantics are
        put_message's, verbatim."""
        self.put_message_calls += 1
        did_put = False
        if data is not None:
            if not self._agg.add(data, partition_key or "", self.max_agg_bytes):
                self._flush()
                did_put = True
                self._agg.add(data, partition_key or "", self.max_agg_bytes)
        if self._clock() - self.last_send > self.send_window and self._agg.messages:
            self._flush()
            did_put = True
        return did_put

    def flush_tail(self) -> bool:
        """End-of-batch flush (the trigger-based improvement over §8.9)."""
        if self._agg.messages:
            self._flush()
            return True
        return False

    # -- reference stream.py:46-74 ------------------------------------
    def _flush(self) -> None:
        agg, self._agg = self._agg, AggRecord()
        backoff = 0.05
        while True:
            try:
                self.transport.put_record(agg.serialize(), agg.partition_key or "")
                self.physical_puts += 1
                self.last_send = self._clock()
                return
            except ProvisionedThroughputExceeded:
                if backoff > self.back_off_limit:
                    raise
                self._sleep(backoff)
                backoff *= 2

    def process_batch(self, batch_df, batch_id: int) -> None:
        """foreachBatch entry: send in (lsn, change_idx) order, flush the tail.

        ``batch_df`` carries the sink row (``SINK_ROW``). The iteration is
        the single ordered writer (T2). ``batch_df`` may be arbitrarily
        wide upstream — only this drain is serial, and it is bounded by
        the source's rows_per_batch backpressure knob, so the Arrow
        transfer holds one micro-batch, never the stream. toPandas +
        plain-list iteration instead of toLocalIterator: the per-Row
        RPC/object overhead of the latter was the measured driver-loop
        bottleneck. Every non-frame row drives put_message (§8.6); each
        wire message is counted once, by the ``wire_size`` of its first
        row (reference __main__.py:86-91).
        """
        from pyspark.sql import functions as F

        # xid cast to string Spark-side: a nullable long column would be
        # coerced to float by the Arrow→pandas transfer ('500' → '500.0').
        # fmt_msg encoded to UTF-8 bytes Spark-side (r13 opt round): the
        # JVM encodes the column vectorized and Arrow delivers bytes
        # objects, so the drain loop below stops paying a per-message
        # str.encode — byte count and put payload identical (UTF-8 both
        # ways), wire bytes A/B-pinned.
        cast = {"xid": F.col("xid").cast("string"), "fmt_msg": F.encode(F.col("fmt_msg"), "UTF-8")}
        pdf = batch_df.select(*(cast.get(c, F.col(c)).alias(c) for c in SINK_ROW)).toPandas()
        # Order DRIVER-side, not with batch_df.sort(): a global Spark
        # sort range-partitions, and the range partitioner's SAMPLING
        # pass executes the whole upstream plan a second time — every
        # micro-batch paid the parse twice (measured ~2x the plan's
        # execution cost on the 450k-row e2e bench). The batch lands in
        # one pandas frame here regardless (bounded by rows_per_batch),
        # so the ordered-writer contract is one stable C-speed sort.
        pdf = pdf.sort_values(["lsn", "change_idx"], kind="stable", ignore_index=True)
        put_encoded = self._put_encoded
        count = self._count_message
        prev_lsn = None
        for lsn, xid, data, err, frame, wire in zip(
            *(pdf[c].tolist() for c in ("lsn", "xid", "fmt_msg", "error", "is_frame", "wire_size"))
        ):
            if err is not None:
                # Fail-stop (§8.5): the reference's _log_and_raise kills
                # the stream on the first bad message (formatter.py:134-137).
                # Rows are drained in LSN order, so this is the earliest
                # error; messages before it were already put — same as the
                # reference's sequential loop, still at-least-once.
                if self.log is not None:
                    self.log(err)
                raise CdcParseError(err)
            # data is already UTF-8 bytes (encoded Spark-side above) or None
            if not frame:
                put_encoded(data, xid)
            if lsn != prev_lsn:
                count(wire, xid)
                prev_lsn = lsn
        self.flush_tail()

    # -- reference __main__.py:86-91,106-115 (A1/A2/T7) -----------------
    def _count_message(self, size: int, xid) -> None:
        """Cumulative + 10-second-window progress counters; logs and
        resets the window on each 10 s wall-clock boundary, like the
        reference's Consume loop."""
        self.cum_msg_count += 1
        self.cum_msg_size += size
        self.msg_window_count += 1
        self.msg_window_size += size
        int_time = int(self._clock())
        if not int_time % 10 and int_time != self._cur_window:
            if self.log is not None:
                self.log(
                    "xid: {:12} win_count:{:>10} win_size:{:>10}mb "
                    "cum_count:{:>10} cum_size:{:>10}mb".format(
                        xid,
                        self.msg_window_count,
                        self.msg_window_size / 1048576,
                        self.cum_msg_count,
                        self.cum_msg_size / 1048576,
                    )
                )
            self._cur_window = int_time
            self.msg_window_count = 0
            self.msg_window_size = 0
