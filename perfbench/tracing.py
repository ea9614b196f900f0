"""Tracing for the benchmark: spans kept in memory, a counting FileSystem,
and readers for Spark's own status stores and streaming progress.

Nothing here runs in the timed loop of an untraced run. A traced pass keeps
every span in memory and reads the status stores once, after the pass; the
spans are written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import threading
import time
from dataclasses import asdict, dataclass, field

from fsql_spark.fs import LocalFileSystem


def now_ms() -> float:
    """Wall clock in epoch milliseconds, the clock Spark stamps jobs with."""
    return time.time_ns() / 1e6


@dataclass
class Span:
    id: int
    name: str  # layer: op, build, action, verify, fs.ls, spark.job, spark.stage, stream.batch
    start_ms: float
    end_ms: float
    parent: int | None
    op: str  # the op key every span of one op shares
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store. ``enabled=False`` makes every call a no-op, so
    the untraced loop runs the same code path with nothing recorded."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = 0
        self._lock = threading.Lock()

    def reserve(self) -> int | None:
        """An id for a span recorded later, so children can name it first."""
        if not self.enabled:
            return None
        with self._lock:
            self._ids += 1
            return self._ids

    def add(self, name, start_ms, end_ms, parent, op, span_id=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        span_id = span_id if span_id is not None else self.reserve()
        with self._lock:
            self.spans.append(Span(span_id, name, start_ms, end_ms, parent, op, attrs))
        return span_id

    def dump(self, path: str) -> None:
        with open(path, "w") as fd:
            json.dump([asdict(s) for s in self.spans], fd)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: sum of span duration minus the part its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = union_ms(
            [(max(c.start_ms, s.start_ms), min(c.end_ms, s.end_ms)) for c in children.get(s.id, [])]
        )
        out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end_ms - s.start_ms) - covered)
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class CountingFileSystem(LocalFileSystem):
    """Local FS that counts and times ``ls``; passed as ``fs=`` to the API."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.calls = 0
        self.ms = 0.0
        self.op: str = ""
        self.parent: int | None = None

    def ls(self, url: str):
        t0 = now_ms()
        try:
            return super().ls(url)
        finally:
            t1 = now_ms()
            self.calls += 1
            self.ms += t1 - t0
            self.tracer.add("fs.ls", t0, t1, self.parent, self.op)


# --- Spark status stores ---------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_VALUE = re.compile(r"^([-\d.,]+)\s*([A-Za-z]*)")

#: SQL plan metrics read from the status store, by name -> per-layer metric.
SQL_METRICS = {
    "number of files read": "filescan.files_read",
    "size of files read": "filescan.bytes_read",
    "number of partitions read": "filescan.partitions_read",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of written files": "write.files",
    "written output": "write.bytes",
}


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric: the total line of a distribution
    (``total (min, med, max ...)\\n8.5 KiB (...)``) or a plain value.
    Sizes come back in bytes, times in milliseconds."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Reads the JVM status stores in one JSON round trip per store."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every listener has seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return self._json(self._jsc.statusStore().jobsList(None))

    def stages(self) -> list[dict]:
        store = self._jsc.statusStore()
        return self._json(store.stageList(None, False, False, self._gw.new_array(self._jvm.double, 0), None))

    def sql_metrics(self) -> list[tuple[set[int], dict[str, float]]]:
        """Per SQL execution: (job ids, per-layer metric totals)."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = {int(k) for k in self._json(ex.jobs())}
            values = self._json(store.executionMetrics(ex.executionId()))
            totals: dict[str, float] = {}
            seen: set[int] = set()
            for m in self._json(ex.metrics()):
                name = SQL_METRICS.get(m["name"])
                acc = m["accumulatorId"]
                if name is None or acc in seen:
                    continue
                seen.add(acc)
                totals[name] = totals.get(name, 0.0) + parse_metric(values.get(str(acc)))
            out.append((jobs, totals))
        return out


class StreamProgress:
    """StreamingQueryListener that keeps every micro-batch progress with the
    op that was running when its query started."""

    def __init__(self):
        self.current_op = ""
        self.query_op: dict[str, str] = {}
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.query_op[str(event.runId)] = outer.current_op

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append(
                    {
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "timestamp": p.timestamp,
                        "duration_ms": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "input_rows": p.numInputRows,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
