"""Metric names, summary statistics, operation accounting and the
result line. Importable without Spark."""

from __future__ import annotations

import json
import statistics
import traceback

from registry import MODULES

# name -> unit. Every untraced run prints END_TO_END, every traced run
# PER_LAYER; a layer a workload does not run reads 0.
END_TO_END = {
    "setup_s": "s",
    "items_per_ref_s": "1/ref_s",
    "bytes_per_item": "B",
}

PER_LAYER = {
    "failed_ops_frac": "ratio",
    "drift_frac": "ratio",
    "trace.traced_pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_frac": "ratio",
    "wall.items_per_s": "1/s",
    "wall.setup_s": "s",
    "cpu.pass_s": "cpu_s",
    "host.probe_s": "s",
    # tier_build
    "rollup.tier_1m_s": "s",
    "rollup.tier_1h_s": "s",
    "rollup.tier_1d_s": "s",
    "retention.evict_s": "s",
    "retention.vacuum_s": "s",
    "rollup.rows_1m": "count",
    "rollup.rows_1h": "count",
    "rollup.rows_1d": "count",
    "retention.rows_evicted": "count",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.live_bytes": "B",
    "catalog.removed_dirs": "count",
    # tier_build, traced runs: jobs.rollup_job.main once
    "rollup_job.main_s": "s",
    "rollup_job.tier_1m_s": "s",
    "rollup_job.tier_1h_s": "s",
    "rollup_job.tier_1d_s": "s",
    "rollup_job.evict_vacuum_s": "s",
    "rollup_job.jobs": "count",
    # tier_build, traced runs: one jobs.refresh_job.refresh_once cycle
    "refresh.cycle_s": "s",
    "refresh.append_s": "s",
    "refresh.delta_1m_s": "s",
    "refresh.tier_1m_s": "s",
    "refresh.tier_1h_s": "s",
    "refresh.tier_1d_s": "s",
    "refresh.tails_s": "s",
    "refresh.other_s": "s",
    "refresh.affected_days": "count",
    "refresh.affected_rows_1m": "count",
    "refresh.bytes_written": "B",
    "refresh.jobs": "count",
    "refresh.live_dirs": "count",
    # codec_stats
    "codec.encode_s": "s",
    "codec.decode_s": "s",
    "codec.points": "count",
    "codec.payload_bytes": "B",
    "stats.rolling_flags_s": "s",
    "stats.ewma_s": "s",
    "gapfill.linear_s": "s",
    "gapfill.rows_out": "count",
    # codec_stats, traced runs: one registry pass
    "registry.pass_s": "s",
    "registry.python_ms": "ms",
    **{f"registry.{m}.{k}": u for m in MODULES
       for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    # Spark's own SQL metrics, summed over one timed pass
    "engine.shuffle_write_bytes": "B",
    "engine.fetch_wait_ms": "ms",
    "engine.spill_bytes": "B",
    "engine.agg_build_ms": "ms",
    "engine.sort_ms": "ms",
    "engine.python_ms": "ms",
    "engine.python_startup_ms": "ms",
    "engine.arrow_to_py_bytes": "B",
    "engine.arrow_from_py_bytes": "B",
    "engine.executions": "count",
    "engine.jobs": "count",
    "engine.tasks_failed": "count",
}

# percentiles a timing may be reported at, highest first
TAILS = (99.9, 99.0, 90.0)


def median(values) -> float:
    return float(statistics.median(values))


def reportable_tail(n: int) -> float | None:
    """Highest percentile in TAILS with at least ten of ``n`` samples
    beyond it, or None when ``n`` is too small for any."""
    for p in TAILS:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(1, -(-len(xs) * p // 100))  # ceil(n·p/100), at least 1
    return float(xs[int(k) - 1])


def drift(values) -> float:
    """Median of the second half of the passes over the median of the
    first half, minus one. Positive: passes got slower during the run."""
    if len(values) < 2:
        return 0.0
    h = len(values) // 2
    return median(values[-h:]) / median(values[:h]) - 1.0


class Ops:
    """Attempted and failed operations. A failure is recorded by name
    and reason; nothing is dropped."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def run(self, name: str, fn, *args):
        """Call ``fn``; an exception counts as a failed operation and
        yields None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — counted, never hidden
            self.failures.append({
                "op": name, "error": f"{type(e).__name__}: {e}"[:500],
                "traceback": traceback.format_exc()[-4000:]})
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append({"op": name, "error": f"mismatch: {detail}"})
        return ok


def result_line(ops: Ops, values: dict[str, float], units: dict[str, str]) -> str:
    """The benchmark's last stdout line."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    })
