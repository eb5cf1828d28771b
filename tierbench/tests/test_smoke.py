"""Tiny-size runs of each workload through the real command line:
every named metric must be emitted and the output checks must pass.
Each run starts a Spark session and takes one to two minutes on a
4-core host.

    python3 -m pytest tierbench/tests/test_smoke.py -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from report import END_TO_END, PER_LAYER  # noqa: E402

RUN = os.path.join(BENCH, "run.py")


def _run(args, cwd=ROOT, timeout=180):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["tier_build", "codec_stats"])
@pytest.mark.parametrize("trace, names", [(0, END_TO_END), (1, PER_LAYER)])
def test_tiny_run_emits_every_metric(workload, trace, names):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--scale", "0.05"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 4
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], float)
    if trace == 0:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        # the layers this workload runs report work, the traced-only
        # part included
        own = (("rollup_job.tier_1m_s", "catalog.bytes_written",
                "refresh.cycle_s", "refresh.jobs")
               if workload == "tier_build" else
               ("codec.encode_s", "registry.pass_s",
                "registry.tsanalytics.jobs", "registry.cascade.exec_s"))
        for name in own:
            assert result["metrics"][name]["value"] > 0, name
        assert result["metrics"]["engine.jobs"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "tierbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "tierbench/run.py", "--workload", "tier_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
