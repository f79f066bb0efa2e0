"""The two workloads: ``td_backfill`` (closed loop) and ``w2j_live``
(open loop).

Both run the package's ``build_*_stream`` functions over the benchmark's replay
source (``source.TimedReplayReader``) into ``KinesisLikeWriter`` with an
in-memory transport, then decode every put with ``kpl.decode`` and
compare the messages with the generator's expected list.

The traced run first measures exactly like the untraced one, then runs
a second query over the same corpus in which each micro-batch is split
into its layers (``LayerTracer``).
"""

from __future__ import annotations

import bisect
import json
import os
import time
from datetime import datetime

from . import gen, kpl
from .harness import SETUP_REPS, Context, median, pct, start_session

# td_backfill: ~450k wire lines (100k transactions of 1-4 DML lines),
# served 20k lines per micro-batch.
TD_TXNS = 100_000
TD_ROWS_PER_BATCH = 20_000
# explicit: the default ("all",) is lowercase and nulls every
# test_decoding message, whose operations are uppercase
TD_OPS = gen.TD_OPS
# w2j_live: the first W2J_WARM_MSGS messages are due at once and drained
# as the warm-up; then messages are due at W2J_RATE per second, about
# half the ~9k msg/s a 4-core drain sustains. The window opens W2J_WARM_S
# after that schedule starts, and messages due inside it get up to
# W2J_TAIL_S after it to be put and acked.
W2J_RATE = 4000.0
W2J_WARM_MSGS = 2000
W2J_WARM_S = 2.0
W2J_TAIL_S = 20.0
W2J_ROWS_PER_BATCH = 100_000  # never binding: the schedule caps each batch
START_TIMEOUT_S = 90.0


class RecordingTransport:
    """``InMemoryTransport`` that also records when each put returned and
    the time spent in puts."""

    def __init__(self):
        from pg2kinesis_spark.sinks.kinesis import InMemoryTransport

        self.inner = InMemoryTransport()
        self.returned: list[float] = []
        self.put_s = 0.0

    def put_record(self, data: bytes, partition_key: str) -> None:
        t = time.perf_counter()
        try:
            self.inner.put_record(data, partition_key)
        finally:
            self.put_s += time.perf_counter() - t
        self.returned.append(time.time())

    @property
    def records(self) -> list[tuple[str, bytes]]:
        return self.inner.records

    @property
    def attempts(self) -> int:
        return self.inner.attempts


class BatchMarks:
    """foreachBatch function of the measured query: the writer's
    ``process_batch``, recording per micro-batch its id, start and end
    time and the number of puts made so far."""

    def __init__(self):
        from pg2kinesis_spark.sinks.kinesis import KinesisLikeWriter

        self.writer = KinesisLikeWriter(RecordingTransport())
        self.marks: list[tuple[int, float, float, int]] = []

    def __call__(self, df, batch_id: int) -> None:
        t = time.time()
        self.writer.process_batch(df, batch_id)
        self.marks.append((batch_id, t, time.time(), len(self.writer.transport.records)))


def _events(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _stop(q) -> None:
    exc = q.exception()
    q.stop()
    q.awaitTermination(60)
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")


def _wait(q, until, timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline and not until():
        if q.exception() is not None:
            _stop(q)
        time.sleep(0.05)


class Workload:
    """A corpus, the streams built over it and the output it must give."""

    def __init__(self, ctx: Context, kind: str):
        self.ctx, self.kind = ctx, kind
        self.td = kind == "td_backfill"
        self.catalog = gen.write_catalog(ctx.work)
        self.corpus = ctx.path(f"{kind}.parquet")
        if self.td:
            self.lsns, self.expected = gen.test_decoding_corpus(ctx.seed, TD_TXNS, self.corpus)
        else:
            # the schedule runs about this long: warm-up, window, drain
            n = W2J_WARM_MSGS + int(W2J_RATE * (W2J_WARM_S + ctx.seconds + 5))
            self.lsns, self.expected = gen.wal2json_corpus(ctx.seed, n, self.corpus)
        self.expected_lsns = [e[0] for e in self.expected]
        self.queries = 0
        self.attempted = self.failed = 0

    def snapshot_catalog(self, spark):
        """(pk map, seconds): the information_schema snapshot collapsed by
        ``catalog.primary_key_map``, checkpointed once."""
        from pg2kinesis_spark.catalog import build_pk_catalog, primary_key_map

        t = time.perf_counter()
        info = {name: spark.read.parquet(path) for name, path in self.catalog.items()}
        pk_map = primary_key_map(
            build_pk_catalog(info["tables"], info["table_constraints"], info["key_column_usage"], info["columns"])
        ).localCheckpoint(eager=True)
        return pk_map, time.perf_counter() - t

    def source(self, spark, idle: bool = False):
        """(raw stream, event log, checkpoint dir) of a new query. An idle
        source is paced with nothing due."""
        from .source import TimedReplayDataSource

        self.queries += 1
        log, ckpt = self.ctx.path(f"q{self.queries}.events"), self.ctx.path(f"q{self.queries}.ckpt")
        spark.dataSource.register(TimedReplayDataSource)
        reader = (
            spark.readStream.format("timed_replay")
            .option("path", self.corpus)
            .option("eventlog", log)
            .option("stopfile", log + ".stop")
            .option("rowsperbatch", str(TD_ROWS_PER_BATCH if self.td else W2J_ROWS_PER_BATCH))
        )
        if idle or not self.td:
            reader = reader.option("rate", repr(W2J_RATE)).option("gofile", log + ".go")
            reader = reader.option("warm", "0" if idle else str(W2J_WARM_MSGS))
        return reader.load(), log, ckpt

    def stream(self, spark, pk_map, raw):
        """The stream as the package builds it for a deployment."""
        from pg2kinesis_spark.streaming.pipeline import build_test_decoding_stream, build_wal2json_stream

        if self.td:
            return build_test_decoding_stream(spark, raw, pk_map, "CSV", TD_OPS)
        return build_wal2json_stream(spark, raw, pk_map, "CSVPayload")

    def wire_index(self, lsn: int) -> int:
        return bisect.bisect_left(self.lsns, lsn)

    def check(self, transport) -> list[tuple[int, int]]:
        """Decode every put with the benchmark's own decoder and compare
        the ordered messages with the expected list; wrong, extra and
        undecodable ones count as failed. Returns per put the number of
        messages put so far and the wire index of the last one."""
        got, ends = [], []
        for _, blob in transport.records:
            try:
                got.extend(kpl.decode(blob))
            except kpl.KplError:
                self.failed += 1
            k = min(len(got), len(self.expected))
            ends.append((len(got), self.wire_index(self.expected[k - 1][0]) if k else -1))
        want = [(pk, data) for _, pk, data in self.expected[: len(got)]]
        self.attempted += len(got)
        self.failed += sum(1 for a, b in zip(got, want) if a != b) + len(got) - len(want)
        return ends

    def require(self, must: int, done: int) -> None:
        """``must`` messages had to be put (they were acked, or due inside
        the window) and ``done`` were: each missing one is a failure."""
        if must > done:
            self.attempted += must - done
            self.failed += must - done


def _start(stream, fn, ckpt: str):
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )


def _finish(q, log: str) -> list:
    """Stop serving, let the batch in flight complete, then stop the
    query between micro-batches. Returns its progress reports."""
    t = time.time()
    open(log + ".stop", "w").close()

    def idle() -> bool:
        # a latestOffset call after the signal that served nothing new
        latest = [e for e in _events(log) if e["ev"] == "latest"]
        return any(b["t"] > t and b["lsn"] == a["lsn"] for a, b in zip(latest, latest[1:]))

    _wait(q, idle, START_TIMEOUT_S)
    progress = q.recentProgress
    _stop(q)
    return progress


def _go(log: str) -> float:
    """Start the paced schedule now; returns its t0."""
    t0 = time.time()
    with open(log + ".go.tmp", "w") as f:
        f.write(repr(t0))
    os.replace(log + ".go.tmp", log + ".go")
    return t0


def _setup(wl: Workload):
    """SETUP_REPS x (session, catalog snapshot, stream build, query
    start). All but the last query read an idle source and are stopped
    at once; the last one is the measured query."""
    spark, timings = None, []
    for rep in range(SETUP_REPS):
        last = rep == SETUP_REPS - 1
        t = time.perf_counter()
        spark, session_s = start_session(spark)
        pk_map, catalog_s = wl.snapshot_catalog(spark)
        raw, log, ckpt = wl.source(spark, idle=not last)
        sink = BatchMarks()
        q = _start(wl.stream(spark, pk_map, raw), sink, ckpt)
        timings.append((time.perf_counter() - t, session_s, catalog_s))
        if not last:
            _stop(q)
    return spark, pk_map, q, sink, log, timings


def _commits(events) -> list[tuple[float, int]]:
    return [(e["t"], e["lsn"]) for e in events if e["ev"] == "commit"]


def _served(events, initial: int) -> list[tuple[float, int, float]]:
    """(time, end LSN, seconds in latestOffset) of every offset that
    advanced: the i-th one is the end offset of batch i."""
    out, last = [], initial
    for e in events:
        if e["ev"] == "latest" and e["lsn"] != last:
            out.append((e["t"], e["lsn"], e["s"]))
            last = e["lsn"]
    return out


def _engine(ps, window_s: float) -> dict:
    """Engine metrics from the progress reports of the measured batches."""
    dur = lambda key: [p.durationMs.get(key, 0) / 1000 for p in ps]  # noqa: E731
    state = ps[-1].stateOperators if ps else []
    busy = sum(dur("triggerExecution"))
    return {
        "streaming.batches": len(ps),
        "streaming.batch_rows_p50": median(p.numInputRows for p in ps),
        "streaming.trigger_s_p50": median(dur("triggerExecution")),
        "streaming.query_planning_s": median(dur("queryPlanning")),
        "streaming.add_batch_s": median(dur("addBatch")),
        "streaming.wal_commit_s": median(dur("walCommit")),
        "streaming.commit_offsets_s": median(dur("commitOffsets")),
        "streaming.idle_s": max(0.0, window_s - busy),
        "streaming.state_rows": sum(s.numRowsTotal for s in state),
        "streaming.state_bytes": sum(s.memoryUsedBytes for s in state),
    }


def _cost_per_row(ps) -> float:
    """Engine seconds per input row over the given batches."""
    rows = sum(p.numInputRows for p in ps)
    return sum(p.durationMs.get("triggerExecution", 0) for p in ps) / 1000 / max(1, rows)


def _measure(wl: Workload, q, sink: BatchMarks, log: str) -> tuple[dict, dict]:
    """Run the measured query through its warm-up and for ``seconds``
    more, stop it and check what it put. Returns (end-to-end metrics,
    source and engine metrics)."""
    seconds = wl.ctx.seconds
    if wl.td:
        # closed loop: the window opens at the first ack, once the cold
        # first batch has been put and the second one served
        _wait(q, lambda: _commits(_events(log)), START_TIMEOUT_S)
        if not _commits(_events(log)):
            _stop(q)
            raise RuntimeError("no batch was acked before the start timeout")
        ws = _commits(_events(log))[0][0]
        we = ws + seconds
        _wait(q, lambda: time.time() >= we, seconds + 1)
    else:
        # open loop: drain the warm-up messages, then release the rest
        # on schedule
        _wait(q, lambda: sink.marks, START_TIMEOUT_S)
        if not sink.marks:
            _stop(q)
            raise RuntimeError("the warm-up batch did not finish before the start timeout")
        t0 = _go(log)
        ws = t0 + W2J_WARM_S
        we = ws + seconds
        due = lambda i: t0 + (i - W2J_WARM_MSGS) / W2J_RATE  # noqa: E731
        i_lo = W2J_WARM_MSGS + int(W2J_WARM_S * W2J_RATE)
        i_hi = min(len(wl.lsns), W2J_WARM_MSGS + int((W2J_WARM_S + seconds) * W2J_RATE))
        last_due = wl.lsns[i_hi - 1]
        acked = lambda: any(lsn >= last_due for _, lsn in _commits(_events(log)))  # noqa: E731
        _wait(q, acked, W2J_WARM_S + seconds + W2J_TAIL_S)
    progress = _finish(q, log)
    events = _events(log)
    commits, served = _commits(events), _served(events, wl.lsns[0] - 1)
    ends = wl.check(sink.writer.transport)
    n_put = ends[-1][0] if ends else 0
    acked_n = lambda lsn: bisect.bisect_right(wl.lsns, lsn)  # noqa: E731

    ps = [p for p in progress if p.numInputRows and _epoch(p.timestamp) < we]
    # td_backfill: every batch after the cold first one; w2j_live: the
    # batches started inside the window
    ps = [p for p in ps if p.batchId >= 1] if wl.td else [p for p in ps if _epoch(p.timestamp) >= ws]
    layers = _engine(ps, we - ws)
    layers["_cost_s_per_row"] = _cost_per_row(ps)
    in_win = [c for c in commits if ws <= c[0] <= we]
    layers["sources.replay.latest_offset_s"] = median(s for t, _, s in served if ws <= t <= we)
    lags = []
    for t, lsn in in_win:
        before = [s_lsn for s_t, s_lsn, _ in served if s_t <= t]
        lags.append(acked_n(before[-1]) - acked_n(lsn) if before else 0)
    layers["sources.replay.ack_lag_msgs"] = median(lags)

    if wl.td:
        # at-least-once: everything acked must have been put
        last_ack = commits[-1][1] if commits else -1
        wl.require(bisect.bisect_right(wl.expected_lsns, last_ack), n_put)
        if len(in_win) < 2:
            raise RuntimeError(f"only {len(in_win)} acks inside the {seconds} s window")
        # the median over the ack intervals, each one batch long, so a
        # short stall of the host moves it less than a window mean
        rates = [(acked_n(lb) - acked_n(la)) / (tb - ta) for (ta, la), (tb, lb) in zip(in_win, in_win[1:])]
        # per batch: from its end offset being served to its last put,
        # and to the commit that acks it
        commit_l = [lsn for _, lsn in commits]
        put_lat, ack_lat = [], []
        for bid, _, end, _ in sink.marks:
            if 1 <= bid < len(served) and ws <= end <= we:
                put_lat.append(end - served[bid][0])
                j = bisect.bisect_left(commit_l, served[bid][1])
                if j < len(commits):
                    ack_lat.append(commits[j][0] - served[bid][0])
        return {
            "msgs_per_s": median(rates),
            "put_latency_p50_s": median(put_lat),
            "ack_latency_p50_s": median(ack_lat),
            "latency_samples_batches": len(put_lat),
        }, layers

    # w2j_live: per wire message due inside the window, the put carrying
    # its last change and the first commit covering its LSN
    put_at = {}
    for (_, wire), t in zip(ends, sink.writer.transport.returned):
        put_at.setdefault(wire, t)
    put_wires = sorted(put_at)
    commit_t, commit_l = [t for t, _ in commits], [lsn for _, lsn in commits]
    has_change = {wl.wire_index(lsn) for lsn in wl.expected_lsns}
    put_lat, ack_lat = [], []
    for i in range(i_lo, i_hi):
        if i in has_change:
            j = bisect.bisect_left(put_wires, i)
            if j < len(put_wires):
                put_lat.append(put_at[put_wires[j]] - due(i))
        j = bisect.bisect_left(commit_l, wl.lsns[i])
        if j < len(commit_l):
            ack_lat.append(commit_t[j] - due(i))
    wl.require(sum(1 for i in range(i_lo, i_hi) if i in has_change), len(put_lat))
    wl.require(i_hi - i_lo, len(ack_lat))
    # delivery over whole batches: how far the put frontier advanced
    # between the first and the last batch ending inside the window
    fronts = [(end, ends[n - 1][1] + 1) for _, _, end, n in sink.marks if n and ws <= end <= we]
    if len(fronts) < 2:
        raise RuntimeError(f"only {len(fronts)} batches ended inside the {seconds} s window")
    (ta, fa), (tb, fb) = fronts[0], fronts[-1]
    rate = (fb - fa) / (tb - ta)
    return {
        "msgs_per_s": rate,
        "delivered_frac": rate / W2J_RATE,
        "put_latency_p50_s": median(put_lat),
        "put_latency_p90_s": pct(put_lat, 90),
        "ack_latency_p50_s": median(ack_lat),
        "ack_latency_p90_s": pct(ack_lat, 90),
        "latency_samples_batches": len(fronts),
        "latency_samples_msgs": len(put_lat),
    }, layers


class LayerTracer:
    """foreachBatch function of the traced query: materialises each layer
    of a micro-batch in turn and times it, then hands the formatted batch
    to the sink. The input is the stamped (test_decoding) or raw
    (wal2json) stream of ``build_*_stream_refreshing``; the layers are
    ``parse_*``, ``format_*`` + ``filter_operations`` and
    ``process_batch``, and ``CdcReplayStreamReader.read`` is called
    directly on the range the batch was served."""

    def __init__(self, wl: Workload, spark, pk_map):
        from pg2kinesis_spark.sources.replay import CdcReplayStreamReader

        self.wl, self.spark, self.pk_map = wl, spark, pk_map
        self.sink = BatchMarks()
        self.reader = CdcReplayStreamReader({"path": wl.corpus})
        self.prev_end = wl.lsns[0] - 1
        self.batches: list[dict] = []

    def _timed(self, rec: dict, layer: str, fn):
        self.spark.sparkContext.setJobGroup(f"perfbench.{layer}", layer)
        t = time.perf_counter()
        out = fn()
        rec[layer] = time.perf_counter() - t
        return out

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from pg2kinesis_spark.operators.formatters import filter_operations, format_csv, format_csvpayload
        from pg2kinesis_spark.operators.test_decoding import parse_test_decoding
        from pg2kinesis_spark.operators.wal2json import parse_wal2json

        td = self.wl.td
        rec = {"t": time.time()}
        staged = df.persist()
        rec["rows_in"] = self._timed(rec, "stage", staged.count)
        hi = staged.agg(F.max("lsn")).first()[0]
        part = self.reader.partitions({"lsn": self.prev_end}, {"lsn": hi})[0]
        rec["served"] = self._timed(rec, "read", lambda: sum(1 for _ in self.reader.read(part)))
        rec["scanned"] = len(self.wl.lsns)  # read() loads and sorts the whole corpus
        self.prev_end = hi
        if td:
            parsed = parse_test_decoding(staged, self.pk_map, xid_precomputed=True, keep_frames=True)
        else:
            parsed = parse_wal2json(staged, self.pk_map, keep_empty=True)
        parsed = parsed.persist()
        rec["rows_out"] = self._timed(rec, "parse", parsed.count)
        if td:
            msgs = filter_operations(format_csv(parsed), TD_OPS)
        else:
            msgs = filter_operations(format_csvpayload(parsed), ("all",))
            msgs = msgs.withColumn("is_frame", F.col("change_idx").isNull())
        msgs = msgs.withColumn("wire_size", F.coalesce(F.col("data_size"), F.lit(0)).cast("long")).persist()
        self._timed(rec, "format", msgs.count)
        changes = msgs.filter(~F.col("is_frame"))
        rec["changes"] = changes.count()
        rec["nulled"] = changes.filter(F.col("fmt_msg").isNull()).count()
        # the sink's own projection and Arrow transfer, of the same batch
        cols = [
            F.col("xid").cast("string"), F.encode(F.col("fmt_msg"), "UTF-8").alias("fmt_msg"),
            "error", "is_frame", "wire_size", "lsn",
        ] + ([] if td else ["change_idx"])
        self._timed(rec, "transfer", lambda: msgs.select(*cols).toPandas())
        tr = self.sink.writer.transport
        puts, attempts, put_s = len(tr.records), tr.attempts, tr.put_s
        self._timed(rec, "sink", lambda: self.sink(msgs, batch_id))
        rec["puts"] = len(tr.records) - puts
        rec["attempts"] = tr.attempts - attempts
        rec["put_s"] = tr.put_s - put_s
        rec["bytes"] = sum(len(b) for _, b in tr.records[puts:])
        self.spark.sparkContext.setJobGroup("perfbench.engine", "engine")
        for d in (msgs, parsed, staged):
            d.unpersist()
        self.batches.append(rec)


def _traced(wl: Workload, spark, pk_map) -> dict:
    """Per-layer metrics from a second query over the same corpus with
    every layer of each micro-batch materialised and timed apart."""
    from pg2kinesis_spark.streaming.pipeline import (
        build_test_decoding_stream_refreshing,
        build_wal2json_stream_refreshing,
    )

    raw, log, ckpt = wl.source(spark)
    if wl.td:
        stream, _ = build_test_decoding_stream_refreshing(spark, raw, "CSV", TD_OPS)
    else:
        stream, _ = build_wal2json_stream_refreshing(spark, raw, "CSVPayload")
    tracer = LayerTracer(wl, spark, pk_map)
    q = _start(stream, tracer, ckpt)
    # the first batch is the warm-up; then measure for `seconds`
    _wait(q, lambda: tracer.batches, START_TIMEOUT_S)
    ws = time.time()
    if not wl.td:
        _go(log)
    _wait(q, lambda: time.time() >= ws + wl.ctx.seconds, wl.ctx.seconds + 1)
    progress = _finish(q, log)
    wl.check(tracer.sink.writer.transport)
    bs = [b for b in tracer.batches if b["t"] >= ws]
    if not bs:
        raise RuntimeError("no traced batch ran inside the window")
    tot = lambda key: sum(b[key] for b in bs)  # noqa: E731
    per = lambda key: median(b[key] for b in bs)  # noqa: E731
    parse = "operators.test_decoding" if wl.td else "operators.wal2json"
    ps = [p for p in progress if p.numInputRows and _epoch(p.timestamp) >= ws]
    return {
        "sources.replay.read_s": per("read"),
        "sources.replay.rows_served": tot("served"),
        "sources.replay.rows_scanned": tot("scanned"),
        "sources.replay.useful_frac": tot("served") / max(1, tot("scanned")),
        # the stamped batch's materialisation, less the source read
        "streaming.pipeline.stamp_s": median(max(0.0, b["stage"] - b["read"]) for b in bs) if wl.td else 0.0,
        f"{parse}.parse_s": per("parse"),
        f"{parse}.rows_in": tot("rows_in"),
        f"{parse}.rows_out": tot("rows_out"),
        "operators.formatters.format_s": per("format"),
        "operators.formatters.nulled_frac": tot("nulled") / max(1, tot("changes")),
        "sinks.kinesis.process_batch_s": per("sink"),
        "sinks.kinesis.transfer_s": per("transfer"),
        "sinks.kinesis.put_s": per("put_s"),
        "sinks.kinesis.puts": tot("puts"),
        "sinks.kinesis.put_attempts": tot("attempts"),
        "sinks.kinesis.bytes_put": tot("bytes"),
        "sinks.kinesis.msgs_per_put": tot("changes") / max(1, tot("puts")),
        "_traced_cost_s_per_row": _cost_per_row(ps),
    }


def run(ctx: Context, kind: str) -> tuple[dict, dict, int, int]:
    """(end-to-end metrics, per-layer metrics, attempted, failed)."""
    wl = Workload(ctx, kind)
    spark, pk_map, q, sink, log, timings = _setup(wl)
    e2e, layers = _measure(wl, q, sink, log)
    e2e["setup_s"] = median(t for t, _, _ in timings)
    e2e["setup_cold_s"] = timings[0][0]
    layers["session.get_spark_s"] = median(s for _, s, _ in timings)
    layers["catalog.primary_key_map_s"] = median(c for _, _, c in timings)
    untraced = layers.pop("_cost_s_per_row")
    if ctx.trace:
        layers.update(_traced(wl, spark, pk_map))
        # extra engine time per input row of the traced query
        layers["trace.overhead_frac"] = layers.pop("_traced_cost_s_per_row") / max(1e-12, untraced) - 1
    return e2e, layers, wl.attempted, wl.failed
