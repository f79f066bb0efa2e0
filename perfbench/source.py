"""The replay source as the benchmark drives it.

``TimedReplayReader`` is ``CdcReplayStreamReader`` with two additions and
nothing else: every ``latestOffset`` and ``commit`` call is appended,
with its wall-clock time, to a JSON-lines event log, and
``latestOffset`` is capped:

- when a rate is given, at the messages already due. The first ``warm``
  messages are due at once; once the ``gofile`` holds a start time t0,
  message ``warm + i`` is due from ``t0 + i / rate`` on;
- once the ``stopfile`` exists, at what was already served, so that the
  query can be stopped between micro-batches.

The engine calls these methods in a Python worker process, so the log
and the signals are files.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.datasource import DataSource

from pg2kinesis_spark.sources.replay import CdcReplayStreamReader


class TimedReplayReader(CdcReplayStreamReader):
    def __init__(self, options: dict):
        super().__init__(options)
        self.event_log = options["eventlog"]
        self.stop_file = options["stopfile"]
        self.rate = float(options["rate"]) if "rate" in options else None
        self.warm = int(options.get("warm", 0))
        self.go_file = options.get("gofile")
        self._served: int | None = None

    def _event(self, **rec) -> None:
        with open(self.event_log, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def _due(self) -> int:
        due = self.warm
        if self.go_file and os.path.exists(self.go_file):
            with open(self.go_file) as f:
                t0 = float(f.read())
            due += max(0, int((time.time() - t0) * self.rate) + 1)
        return due

    def latestOffset(self) -> dict:
        start = time.perf_counter()
        if self._served is not None and os.path.exists(self.stop_file):
            end = {"lsn": self._served}
        else:
            end = super().latestOffset()
        if self.rate is not None:
            lsns = self._all_lsns()
            due = min(len(lsns), self._due())
            cap = lsns[due - 1] if due else lsns[0] - 1
            if end["lsn"] > cap:
                end = {"lsn": cap if self._served is None else max(cap, self._served)}
                self._cursor = end["lsn"]
        self._served = end["lsn"]
        self._event(ev="latest", t=time.time(), s=time.perf_counter() - start, lsn=end["lsn"])
        return end

    def commit(self, end: dict) -> None:
        super().commit(end)
        self._event(ev="commit", t=time.time(), lsn=end["lsn"])


class TimedReplayDataSource(DataSource):
    """spark.readStream.format("timed_replay"): the cdc_replay options plus
    ``eventlog`` and ``stopfile``, and ``rate``, ``warm`` and ``gofile``
    for a paced source."""

    @classmethod
    def name(cls) -> str:
        return "timed_replay"

    def schema(self) -> str:
        return "lsn bigint, data_size int, payload string"

    def streamReader(self, schema) -> TimedReplayReader:
        return TimedReplayReader(self.options)
