"""Session, set-up, measurement and health helpers shared by the workloads."""

from __future__ import annotations

import os
import re
import statistics
import subprocess
import time
from dataclasses import dataclass, field

# Set-ups per run; the reported set-up time is their median. The first
# one launches the JVM, the later ones restart the Spark session on it.
SETUP_REPS = 3


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    trace: bool
    lines: list[str] = field(default_factory=list)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def say(self, name: str, value, unit: str = "") -> None:
        """A human-readable result line, printed before the final JSON."""
        if isinstance(value, float):
            value = f"{value:.6g}"
        self.lines.append(f"{name} {value} {unit}".rstrip())


def start_session(spark=None):
    """(session, seconds): the package's session factory, after stopping
    ``spark`` if one is given (the JVM stays up across restarts)."""
    from pg2kinesis_spark.session import get_spark

    if spark is not None:
        spark.stop()
    t = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t


def stop_jvm() -> None:
    """Stop the Spark context and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin reaches EOF
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus that of the JVM, from
    /proc (the sum of the two peaks)."""
    from pyspark import SparkContext

    kb = _vm_hwm_kb("self")
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        kb += _vm_hwm_kb(gateway.proc.pid)
    return kb / 1024.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """The q-th percentile (0-100) by the nearest-rank rule."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


# First line of each exception-looking block in the captured stderr,
# with digit runs folded so numbered repeats count as one label.
# Log lines at level ERROR count too, as the stack trace they announce
# may be suppressed by the log configuration.
_TRACE_RE = re.compile(
    r"^(Traceback \(most recent call last\)|.*\b(\w*Exception|\w*Error|ERROR)\b.*"
    r"|\tat [\w.$]+\(.*\))"
)
_LOG_STAMP = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ")


def fold_stack_traces(text: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    in_block = False
    for line in text.splitlines():
        if line.startswith("\tat ") or line.startswith("  File "):
            in_block = True
            continue
        if _TRACE_RE.match(line):
            if not in_block:
                label = re.sub(r"\d+", "N", _LOG_STAMP.sub("", line).strip()[:160])
                counts[label] = counts.get(label, 0) + 1
            in_block = True
        else:
            in_block = False
    return counts
