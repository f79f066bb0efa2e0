"""Streaming benchmark of pg2kinesis_spark.

    python3 perfbench/run.py --workload {td_backfill,w2j_live}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source tree. Inputs are generated from the seed,
every output is checked, and the last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics. The lines before it name each
metric of the workload with its unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
WORKLOADS = ("td_backfill", "w2j_live")

E2E = {
    "setup_s": "s",
    "msgs_per_s": "msg/s",
    "put_latency_p50_s": "s",
    "peak_rss_mb": "MB",
}
LAYERS = {
    "session.get_spark_s": "s",
    "catalog.primary_key_map_s": "s",
    "sources.replay.latest_offset_s": "s",
    "sources.replay.read_s": "s",
    "sources.replay.rows_served": "count",
    "sources.replay.rows_scanned": "count",
    "sources.replay.useful_frac": "ratio",
    "sources.replay.ack_lag_msgs": "msg",
    "streaming.batches": "count",
    "streaming.batch_rows_p50": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.idle_s": "s",
    "streaming.pipeline.stamp_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
    "operators.test_decoding.parse_s": "s",
    "operators.test_decoding.rows_in": "count",
    "operators.test_decoding.rows_out": "count",
    "operators.wal2json.parse_s": "s",
    "operators.wal2json.rows_in": "count",
    "operators.wal2json.rows_out": "count",
    "operators.formatters.format_s": "s",
    "operators.formatters.nulled_frac": "ratio",
    "sinks.kinesis.process_batch_s": "s",
    "sinks.kinesis.transfer_s": "s",
    "sinks.kinesis.put_s": "s",
    "sinks.kinesis.puts": "count",
    "sinks.kinesis.put_attempts": "count",
    "sinks.kinesis.bytes_put": "B",
    "sinks.kinesis.msgs_per_put": "msg/put",
    "trace.overhead_frac": "ratio",
    "health.stack_traces": "count",
}
# units of the workload-specific lines printed before the JSON
UNITS = {
    "ack_latency_p50_s": "s",
    "put_latency_p90_s": "s",
    "ack_latency_p90_s": "s",
    "latency_samples_batches": "count",
    "latency_samples_msgs": "count",
    "delivered_frac": "ratio",
    "failed_frac": "ratio",
    "setup_cold_s": "s",
}


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``,
    and size the session for this machine. Must run before the JVM."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_SUBMIT_OPTS=f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the short-lived JVM spark-submit runs to assemble the JVM command
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None
    sys.dont_write_bytecode = True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pg2kinesis_spark", "__init__.py")):
        print(f"error: no pg2kinesis_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # the JVM and the Python workers inherit fd 2: capture it to count
    # stack traces, and replay it on the real stderr at the end
    err_path = os.path.join(work, "stderr.log")
    saved_err = os.dup(2)
    err = os.open(err_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(err, 2)
    os.close(err)
    result = None
    try:
        _environment(work)
        sys.path.insert(0, ROOT)
        from perfbench import cdc, harness

        ctx = harness.Context(work, args.seed, args.seconds, bool(args.trace))
        try:
            e2e, layers, attempted, failed = cdc.run(ctx, args.workload)
            e2e["peak_rss_mb"] = harness.peak_rss_mb()
        finally:
            harness.stop_jvm()
        sys.stderr.flush()
        with open(err_path, errors="replace") as f:
            traces = harness.fold_stack_traces(f.read())
        layers["health.stack_traces"] = sum(traces.values())
        result = (ctx, e2e, layers, attempted, failed, traces)
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(saved_err)
        with open(err_path, "rb") as f:
            shutil.copyfileobj(f, sys.stderr.buffer)
        sys.stderr.flush()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    ctx, e2e, layers, attempted, failed, traces = result
    e2e["failed_frac"] = failed / max(1, attempted)
    for name, value in sorted(e2e.items()):
        ctx.say(f"{args.workload} {name}", value, E2E.get(name) or UNITS.get(name, ""))
    for name, value in sorted(layers.items()):
        ctx.say(f"{args.workload} {name}", value, LAYERS[name])
    for label, count in sorted(traces.items()):
        ctx.say(f"{args.workload} stack_trace[{label}]", count, "count")
    print("\n".join(ctx.lines))
    chosen = LAYERS if args.trace else E2E
    values = layers if args.trace else e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in chosen.items()}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
