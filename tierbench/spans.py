"""Spans around engine calls, and Spark's own SQL metrics per span.

A span records its name, its parent, and its start and end. Spans
nest: a pass span holds one span per public engine call. Wall times
are always recorded (two ``perf_counter`` calls per span), so an
untraced run pays nothing else.

When tracing is on, each span also collects the SQL executions Spark
ran inside it. The benchmark is a single sequential client, so the
executions of a span are exactly the execution ids issued between its
start and its end, less those the benchmark itself ran between spans
(counts for its own bookkeeping), which :meth:`Tracer.skip` marks and
no span, however far out, includes. Their metrics are read from
``spark._jsparkSession.sharedState().statusStore()`` after the
listener bus has drained; Spark fills that store even with the UI off.
Metric values arrive preformatted ("1.9 s (901 ms, ...)", "4.6 MiB",
"200,000"); :func:`parse_metric` turns them back into numbers.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# SQL metric name -> per-layer metric it adds to
ENGINE_METRICS = {
    "shuffle bytes written": "engine.shuffle_write_bytes",
    "fetch wait time": "engine.fetch_wait_ms",
    "spill size": "engine.spill_bytes",
    "time in aggregation build": "engine.agg_build_ms",
    "sort time": "engine.sort_ms",
    "time to run Python workers": "engine.python_ms",
    "time to start Python workers": "engine.python_startup_ms",
    "time to initialize Python workers": "engine.python_startup_ms",
    "data sent to Python workers": "engine.arrow_to_py_bytes",
    "data returned from Python workers": "engine.arrow_from_py_bytes",
    # write commands: every catalog commit, checkpoint and compaction
    "written output": "catalog.bytes_written",
    "number of written files": "catalog.files_written",
}
ENGINE_COUNTS = ("engine.executions", "engine.jobs", "engine.tasks_failed")
ENGINE_KEYS = tuple(dict.fromkeys(ENGINE_METRICS.values())) + ENGINE_COUNTS

# times become ms, sizes bytes; counts carry no unit
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40,
}
_VALUE = re.compile(r"\s*(\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(-?\d+),(\w+)\)")
_MAP_KEY = re.compile(r"(?:^|, )(-?\d+) -> ")


def parse_metric(text: str) -> float | None:
    """Total of one formatted SQL metric value.

    Per-task metrics read "total (min, med, max (stageId: taskId))"
    on one line and "1.9 s (901 ms, ...)" on the next; the total is
    the first number of the last line. Returns None for averages,
    which have no total."""
    lines = text.strip().splitlines()
    if not lines or lines[-1].startswith("("):
        return None
    m = _VALUE.match(lines[-1])
    if m is None:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return num * _UNITS[unit]


def parse_scala_map(text: str) -> dict[int, str]:
    """``Map(1 -> a, 2 -> b)`` (Scala ``toString``) -> {1: 'a', 2: 'b'}.
    Values may hold ", " but never ", <digits> -> "."""
    body = text[text.index("(") + 1:text.rindex(")")]
    parts = _MAP_KEY.split(body)
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts), 2)}


def parse_plan_metrics(text: str) -> dict[int, str]:
    """``List(SQLPlanMetric(name,accId,type), ...)`` -> {accId: name}."""
    return {int(a): n for n, a, _ in _PLAN_METRIC.findall(text)}


class Tracer:
    """Span recorder. ``engine`` turns on per-span Spark SQL metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.engine = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._cache: dict[int, dict] = {}
        self._next_id = 0
        self._skipped: set[int] = set()

    def set_engine(self, on: bool) -> None:
        """Turn per-span engine metrics on or off. Turning them on
        first moves past every execution issued so far."""
        if on:
            self.skip()
        self.engine = on

    def skip(self) -> None:
        """Mark every execution issued since the last span or skip as
        the benchmark's own (work between spans): no span counts it."""
        self._drain()
        while self._exists(self._next_id):
            self._skipped.add(self._next_id)
            self._next_id += 1

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def _exists(self, eid: int) -> bool:
        return not self._store.execution(eid).isEmpty()

    def _read(self, eid: int) -> dict:
        if eid in self._cache:
            return self._cache[eid]
        ex = self._store.execution(eid).get()
        names = parse_plan_metrics(ex.metrics().toString())
        values = parse_scala_map(self._store.executionMetrics(eid).toString())
        out = dict.fromkeys(ENGINE_KEYS, 0.0)
        for acc, text in values.items():
            key = ENGINE_METRICS.get(names.get(acc))
            if key is not None:
                out[key] += parse_metric(text) or 0.0
        jobs = parse_scala_map(ex.jobs().toString())
        out["engine.executions"] = 1.0
        out["engine.jobs"] = float(len(jobs))
        tracker = self.spark.sparkContext.statusTracker()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    out["engine.tasks_failed"] += stage.numFailedTasks
        self._cache[eid] = out
        return out

    @contextmanager
    def span(self, name: str):
        rec = {"name": name,
               "parent": self._stack[-1]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec)
        first = self._next_id
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.engine:
                self._drain()
                totals = dict.fromkeys(ENGINE_KEYS, 0.0)
                eid = first
                while self._exists(eid):
                    if eid not in self._skipped:
                        for k, v in self._read(eid).items():
                            totals[k] += v
                    eid += 1
                self._next_id = eid
                rec["engine"] = totals
