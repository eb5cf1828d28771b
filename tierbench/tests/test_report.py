"""Unit tests of the benchmark's parts that need no Spark: SQL-metric
parsing, span attribution of executions, percentiles, drift, operation
accounting, the result line, the registry tables, and BENCHMARK.json
agreeing with the metric names the code emits.

    python3 -m pytest tierbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

from report import (  # noqa: E402
    END_TO_END, PER_LAYER, Ops, drift, percentile, reportable_tail,
    result_line,
)
from registry import MODULES, QUERIES, write_tables  # noqa: E402
from spans import (  # noqa: E402
    ENGINE_KEYS, Tracer, parse_metric, parse_plan_metrics, parse_scala_map,
)

HEADER = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("text, want", [
    (HEADER + "1.9 s (901 ms, 950 ms, 1.0 s (stage 3.0: task 12))", 1900.0),
    (HEADER + "4.6 MiB (1.1 MiB, 1.2 MiB, 1.3 MiB (stage 2.0: task 4))",
     4.6 * 2 ** 20),
    ("200,000", 200000.0),
    ("1,234,567", 1234567.0),
    ("0 ms", 0.0),
    ("2004.0 B", 2004.0),
    ("12.5 KiB", 12.5 * 1024),
    ("1.5 GiB", 1.5 * 2 ** 30),
    ("2.5 m", 150000.0),
    ("1.2 min", 72000.0),
    ("1.25 h", 4.5e6),
    (HEADER + "247 ms (38 ms, 76 ms, 88 ms (stage 0.0: task 0))", 247.0),
])
def test_parse_metric_totals(text, want):
    assert parse_metric(text) == pytest.approx(want)


def test_parse_metric_average_has_no_total():
    assert parse_metric("(min, med, max (stageId: taskId)):\n"
                        "(1, 1, 1 (stage 2.0: task 4))") is None


def test_parse_metric_rejects_unknown_unit():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


def test_parse_scala_map_keeps_multiline_values_with_commas():
    text = ("Map(5 -> 8, 12 -> " + HEADER +
            "1.2 s (1.0 s, 1.1 s, 1.1 s (stage 3.0: task 1)), 7 -> 0.0 B)")
    got = parse_scala_map(text)
    assert got == {5: "8", 12: HEADER + "1.2 s (1.0 s, 1.1 s, 1.1 s "
                   "(stage 3.0: task 1))", 7: "0.0 B"}
    assert parse_scala_map("Map()") == {}
    assert parse_scala_map("HashMap(0 -> SUCCEEDED, 1 -> FAILED)") == {
        0: "SUCCEEDED", 1: "FAILED"}


def test_parse_plan_metrics():
    text = ("List(SQLPlanMetric(number of output rows,5,sum), "
            "SQLPlanMetric(time in aggregation build,17,timing), "
            "SQLPlanMetric(spill size,-3,size))")
    assert parse_plan_metrics(text) == {
        5: "number of output rows", 17: "time in aggregation build",
        -3: "spill size"}


class _Opt:
    def __init__(self, value=None):
        self.value = value

    def isEmpty(self):
        return self.value is None

    def get(self):
        return self.value


class _Text:
    def __init__(self, text):
        self.text = text

    def toString(self):
        return self.text


class _Execution:
    def __init__(self, n_jobs):
        self._jobs = n_jobs

    def metrics(self):
        return _Text("List(SQLPlanMetric(shuffle bytes written,1,size))")

    def jobs(self):
        return _Text("Map(" + ", ".join(
            f"{j} -> SUCCEEDED" for j in range(self._jobs)) + ")")


class _FakeSpark:
    """Just enough of a SparkSession for Tracer: a status store whose
    executions appear as ``run(jobs, shuffle_bytes)`` is called."""

    def __init__(self):
        self.executions = []
        store = self

        class _Shared:
            def statusStore(self):
                return store

        class _Bus:
            def waitUntilEmpty(self, ms):
                return True

        class _Sc:
            def listenerBus(self):
                return _Bus()

        class _Jsc:
            def sc(self):
                return _Sc()

        class _Tracker:
            def getJobInfo(self, jid):
                return None

        class _Ctx:
            _jsc = _Jsc()

            def statusTracker(self):
                return _Tracker()

        self.sparkContext = _Ctx()
        self._jsparkSession = type("J", (), {
            "sharedState": lambda _: _Shared()})()

    def run(self, jobs, shuffle_bytes):
        self.executions.append((jobs, shuffle_bytes))

    def execution(self, eid):
        if eid >= len(self.executions):
            return _Opt()
        return _Opt(_Execution(self.executions[eid][0]))

    def executionMetrics(self, eid):
        return _Text(f"Map(1 -> {self.executions[eid][1]} B)")


def test_spans_leave_out_work_skipped_between_them():
    spark = _FakeSpark()
    spark.run(5, 999)  # before tracing starts
    tr = Tracer(spark)
    tr.set_engine(True)
    with tr.span("pass") as whole:
        with tr.span("a") as a:
            spark.run(1, 10)
            spark.run(2, 20)
        spark.run(7, 7000)  # the benchmark's own count between spans
        tr.skip()
        with tr.span("b") as b:
            spark.run(3, 300)
        spark.run(9, 9000)  # bookkeeping after the last child span
        tr.skip()
    assert a["engine"]["engine.jobs"] == 3
    assert a["engine"]["engine.shuffle_write_bytes"] == 30
    assert b["engine"]["engine.jobs"] == 3
    assert b["engine"]["engine.executions"] == 1
    assert whole["engine"]["engine.jobs"] == 6
    assert whole["engine"]["engine.executions"] == 3
    assert whole["engine"]["engine.shuffle_write_bytes"] == 330


def test_spans_without_engine_read_nothing():
    spark = _FakeSpark()
    tr = Tracer(spark)
    with tr.span("pass") as sp:
        spark.run(1, 1)
    assert "engine" not in sp and sp["wall_s"] >= 0


def test_registry_covers_every_registry_operator_module():
    assert set(MODULES) == set(
        "tsanalytics statstests sketches sessions alerting journeys dedup "
        "similarity textstats curation enrich layout multimodal "
        "cascade".split())
    assert {"acf_1d", "holt_1m", "multimodal_features"} <= set(QUERIES)


def test_registry_tables_follow_the_seed(tmp_path):
    import pandas as pd

    a = write_tables(str(tmp_path / "a"), seed=5, scale=0.2)
    b = write_tables(str(tmp_path / "b"), seed=5, scale=0.2)
    c = write_tables(str(tmp_path / "c"), seed=6, scale=0.2)
    for t in ("events", "documents", "embeddings"):
        x, y, z = (pd.read_parquet(os.path.join(d, f"{t}.parquet"))
                   for d in (a, b, c))
        assert x.astype(str).equals(y.astype(str))
        assert not x.astype(str).equals(z.astype(str))
    ev = pd.read_parquet(os.path.join(a, "events.parquet"))
    assert ev["ts"].is_monotonic_increasing and (ev["value"] > 0).all()


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    assert percentile(range(1, 101), 90) == 90


def test_reportable_tail_needs_ten_samples_beyond():
    assert reportable_tail(3) is None
    assert reportable_tail(99) is None
    assert reportable_tail(100) == 90.0
    assert reportable_tail(999) == 90.0
    assert reportable_tail(1000) == 99.0
    assert reportable_tail(10000) == 99.9


def test_drift_compares_halves():
    assert drift([1.0]) == 0.0
    assert drift([1.0, 1.0, 2.0, 2.0]) == pytest.approx(1.0)
    assert drift([2.0, 2.0, 9.0, 1.0, 1.0]) == pytest.approx(-0.5)


def test_ops_counts_failures_by_name_and_keeps_going():
    ops = Ops()
    assert ops.run("pass 1", lambda: 7) == 7

    def boom():
        raise RuntimeError("disk full")

    assert ops.run("pass 2", boom) is None
    assert ops.check("sum(cnt)", True)
    assert not ops.check("round trip", False, "3 != 4")
    assert ops.attempted == 4
    assert ops.failed == 2
    assert ops.failed_frac == 0.5
    assert [f["op"] for f in ops.failures] == ["pass 2", "round trip"]
    assert "disk full" in ops.failures[0]["error"]
    assert Ops().failed_frac == 0.0


def test_result_line_shape():
    ops = Ops()
    ops.check("ok", True)
    line = json.loads(result_line(ops, {"a_s": 1.5, "n": 2}, {"a_s": "s", "n": "count"}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 1
    assert line["metrics"] == {"a_s": {"value": 1.5, "unit": "s"},
                               "n": {"value": 2.0, "unit": "count"}}
    ops.check("bad", False)
    assert json.loads(result_line(ops, {"a_s": 1, "n": 1},
                                  {"a_s": "s", "n": "count"}))["correct"] is False
    with pytest.raises(KeyError):
        result_line(ops, {"a_s": 1.0}, {"a_s": "s", "n": "count"})


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["tier_build", "codec_stats"]
    assert set(ENGINE_KEYS) <= set(PER_LAYER)
