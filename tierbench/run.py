"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 tierbench/run.py --workload tier_build --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts a local Spark session sized
for a small host, builds the workload's inputs from ``--seed``, warms
up with untimed passes, then runs passes back to back (one client,
closed loop) until ``--seconds`` have passed and the workload's minimum
number of passes is done. After the timing it checks the engine's
outputs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes, then runs the workload's traced-only part
once (a refresh cycle, a registry pass), and prints the per-layer
metrics, the traced and untraced pass times side by side, and the
tracing overhead.
The last stdout line is the result; a readable summary goes to stderr
and the full artifact (every pass, span and failure, host diagnostics)
to ``.tierbench/out/``. Everything the run writes stays under
``.tierbench/`` and is deleted at exit, except that artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from report import (END_TO_END, PER_LAYER, Ops, drift, median, percentile,
                    reportable_tail, result_line)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "yahoo_anomaly_detection_spark"
DEADLINE_S = 170  # the whole run, set-up and checks included
SHUFFLE_PARTITIONS = 8  # fixed: independent of the core count
DRIVER_MEM = "2g"
OFFHEAP_MEM = "1g"


class Deadline(BaseException):
    """Raised by the run's alarm; not an Exception, so a pass that
    overruns ends the run instead of counting as one failed pass."""


def host_info() -> dict:
    ram = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram = int(line.split()[1]) * 1024
    return {"nproc": len(os.sched_getaffinity(0)), "ram_bytes": ram,
            "loadavg": os.getloadavg()}


def canary() -> float:
    """First-touch time of a fresh 80 MB allocation (seconds): a host
    whose memory is under pressure shows here before it shows in a
    pass time."""
    import numpy as np

    t0 = time.perf_counter()
    np.arange(10_000_000)
    return time.perf_counter() - t0


# the speed probes' work, how often each runs at either end of a run,
# and the geometric mean of their medians on the idle 4-vCPU host the
# README's figures come from (loop ~0.36 s, memory ~0.21 s)
PROBE_LOOPS = 3_000_000
PROBE_WORDS = 8_000_000  # 64 MB of int64, far past the caches
PROBE_REPEATS = 3
REF_PROBE_S = 0.275

_MEM: list = []


def _loop() -> None:
    x = 0
    for i in range(PROBE_LOOPS):
        x += i * i


def _gather() -> None:
    a, idx = _MEM
    for _ in range(4):
        a[idx].sum()


def _forked(procs: int, work) -> float:
    """Wall seconds for ``procs`` forked processes to do ``work`` at
    once."""
    t = time.perf_counter()
    pids = []
    for _ in range(procs):
        pid = os.fork()
        if pid == 0:  # touches nothing the parent's threads may hold
            try:
                work()
            finally:
                os._exit(0)
        pids.append(pid)
    for pid in pids:
        os.waitpid(pid, 0)
    return time.perf_counter() - t


def speed_probes(procs: int) -> tuple[float, float]:
    """How fast the host is right now: (a pure-Python loop, random
    reads from a 64 MB array the parent built) run in ``procs`` forked
    processes at once. On a shared host a pass's wall and CPU time both
    doubled within minutes while the work stayed the same. The loop
    tracks slower cores; it stayed flat through one such slowdown,
    which the memory probe is there to see. They run only while no
    Spark JVM exists (before the session starts, after it has
    stopped), so nothing the engine leaves running can slow them;
    probes taken between passes read 20-50% slower right after Python
    UDF passes."""
    if not _MEM:
        import numpy as np

        rng = np.random.default_rng(0)
        _MEM.extend([np.arange(PROBE_WORDS, dtype=np.int64),
                     rng.integers(0, PROBE_WORDS, PROBE_WORDS // 4)])
    return _forked(procs, _loop), _forked(procs, _gather)


def _proc_tree() -> list[int]:
    """This process and every descendant (the Spark JVM, its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _ticks(stat: str, fields: slice) -> int:
    """Sum of CPU tick fields of a /proc stat line: [11:13] is user +
    system time, [11:15] adds that of reaped children."""
    return sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[fields])


def cpu_sample() -> tuple[int, dict[tuple[int, int], int]]:
    """CPU ticks of the process tree (reaped children included), and
    the ticks of each JIT compiler thread in it by (pid, tid)."""
    total, jit = 0, {}
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += _ticks(f.read(), slice(11, 15))
            for tid in os.listdir(f"/proc/{pid}/task"):
                task = f"/proc/{pid}/task/{tid}"
                with open(f"{task}/comm") as f:
                    if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                        continue
                with open(f"{task}/stat") as f:
                    jit[(pid, int(tid))] = _ticks(f.read(), slice(11, 13))
        except OSError:
            continue  # exited while being read
    return total, jit


def cpu_between(start, end) -> tuple[float, float]:
    """(work, JIT) CPU seconds between two samples. JIT compilation is
    a fresh JVM's warm-up transient — it fell by a third over three
    passes after warm-up — not work a pass asked for, so it is kept
    out of the work figure. A compiler thread that exits between the
    samples leaves its ticks in the work figure."""
    jit = sum(t - start[1].get(k, 0) for k, t in end[1].items())
    hz = os.sysconf("SC_CLK_TCK")
    return (end[0] - start[0] - jit) / hz, jit / hz


def start_spark(work: str, cpus: int):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_OFFHEAP_MEM=OFFHEAP_MEM,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    from yahoo_anomaly_detection_spark.session import get_spark

    return get_spark(
        "tierbench", cores=cpus, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (it
    exits when its stdin closes; its Python workers go with it)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:
        pass  # the JVM side is already gone
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(wl, passes: list[dict], setup: dict, scale: float) -> dict:
    """``scale`` turns this host's seconds into reference seconds."""
    wall_s = median([p["wall_s"] for p in passes])
    return {
        "setup_s": setup["wall_s"] * scale,
        "items_per_ref_s": wl.n_items / (wall_s * scale),
        "bytes_per_item": wl.n_bytes / max(wl.n_items, 1),
        "wall.items_per_s": wl.n_items / wall_s,
        "wall.setup_s": setup["wall_s"],
    }


def per_layer(wl, passes: list[dict], ops, extra: dict, setup: dict,
              probe_s: float) -> dict:
    """Medians over the traced passes, next to the untraced ones."""
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    wall_s = median([p["wall_s"] for p in untraced])
    traced_s = median([p["wall_s"] for p in traced])
    layer = {key: median([p["layers"].get(key, p["engine"].get(key, 0.0))
                          for p in traced])
             for key in PER_LAYER}
    layer.update({
        "failed_ops_frac": ops.failed_frac,
        "drift_frac": drift([p["wall_s"] for p in untraced]),
        "trace.traced_pass_s": traced_s,
        "trace.untraced_pass_s": wall_s,
        "trace.overhead_frac": traced_s / wall_s - 1.0,
        "wall.items_per_s": wl.n_items / wall_s,
        "wall.setup_s": setup["wall_s"],
        "cpu.pass_s": median([p["cpu_s"] for p in untraced]),
        "host.probe_s": probe_s,
    })
    layer.update(extra)
    return layer


def run(args) -> tuple[str, dict]:
    from spans import Tracer
    from workloads import WORKLOADS

    host = host_info()
    cpus = min(4, host["nproc"])
    work = os.path.join(ROOT, ".tierbench", f"work-{os.getpid()}")
    ops = Ops()
    spark = None
    wl = WORKLOADS[args.workload](work, args.seed, args.scale, cpus)
    probes = [speed_probes(cpus) for _ in range(PROBE_REPEATS)]
    try:
        t0 = time.perf_counter()
        wl.prepare()  # seeded input files, before the JVM starts
        inputs_s = time.perf_counter() - t0
        t = time.perf_counter()
        spark = start_spark(work, cpus)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark)
        wl.attach(spark, tracer)
        t = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t
        warmup = wl.warm_up()  # JIT, Python workers, codegen caches
        setup = {"wall_s": time.perf_counter() - t0, "inputs_s": inputs_s,
                 "session_s": session_s, "build_s": build_s,
                 "warmup_pass_s": warmup}

        canary_before = canary()
        passes: list[dict] = []
        min_passes = wl.min_passes  # traced runs: untraced, traced, untraced
        t_run = time.perf_counter()
        i = 0
        while (time.perf_counter() - t_run < args.seconds
               or len(passes) < min_passes):
            i += 1
            traced = bool(args.trace) and i % 2 == 0
            tracer.set_engine(traced)
            cpu0 = cpu_sample()
            with tracer.span("pass") as sp:
                layers = ops.run(f"{args.workload} pass {i}", wl.one_pass, i)
            cpu_s, jit_s = cpu_between(cpu0, cpu_sample())
            if layers is not None:
                passes.append({"i": i, "traced": traced, "wall_s": sp["wall_s"],
                               "cpu_s": cpu_s, "jit_cpu_s": jit_s,
                               "layers": layers, "engine": sp.get("engine", {})})
            if i >= 3 * min_passes and len(passes) < min_passes:
                break  # most passes fail: stop, report what failed
        canary_after = canary()
        extra: dict = {}
        t = time.perf_counter()
        if args.trace:
            tracer.set_engine(True)
            extra = ops.run(f"{args.workload} traced extra", wl.traced_extra,
                            ops) or {}
        extra_s = time.perf_counter() - t
        tracer.set_engine(False)
        ops.run(f"{args.workload} output check", wl.check, ops, passes)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    # the host's speed over the run, from probes at both ends: every
    # time below is rescaled to a host whose probes take REF_PROBE_S
    probes += [speed_probes(cpus) for _ in range(PROBE_REPEATS)]
    probe_s = (median([p[0] for p in probes])
               * median([p[1] for p in probes])) ** 0.5
    scale = REF_PROBE_S / probe_s
    untraced_passes = [p for p in passes if not p["traced"]]
    traced_passes = [p for p in passes if p["traced"]]
    e2e = end_to_end(wl, untraced_passes, setup, scale)
    layer = (per_layer(wl, passes, ops, extra, setup, probe_s)
             if args.trace else {})
    untraced = [p["wall_s"] for p in untraced_passes]
    tail = reportable_tail(len(untraced))
    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "host": {**host, "cpus_used": cpus, "probe_s": probe_s,
                 "probes_loop_mem_s": probes,
                 "canary_s": [canary_before, canary_after]},
        "setup": setup,
        "n_items": wl.n_items, "n_bytes": wl.n_bytes,
        "passes": passes, "drift_frac": drift(untraced),
        "pass_wall_s": {"n": len(untraced), "p50": median(untraced),
                        "tail_pct": tail,
                        "tail": tail and percentile(untraced, tail)},
        "traced_extra_s": extra_s,
        "run_s": time.perf_counter() - t0,
        "ops": {"attempted": ops.attempted, "failed": ops.failed,
                "failed_ops_frac": ops.failed_frac,
                "failures": ops.failures},
        "end_to_end": e2e, "per_layer": layer,
        "end_to_end_traced": (end_to_end(wl, traced_passes, setup, scale)
                              if traced_passes else {}),
        "spans": [{k: s[k] for k in ("name", "parent", "wall_s")}
                  for s in tracer.spans],
    }
    values, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    return result_line(ops, values, units), artifact


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tier_build", "codec_stats"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a small one)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE!r} not found under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "jobs"))  # rollup_job, refresh_job

    import signal

    def _deadline(*_):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _deadline)  # still stop Spark, clean up
    signal.alarm(DEADLINE_S)
    stdout = sys.stdout
    sys.stdout = sys.stderr  # engine prints must not land after the result
    try:
        line, artifact = run(args)
    finally:
        signal.alarm(0)
        sys.stdout = stdout

    out_dir = os.path.join(ROOT, ".tierbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    result = json.loads(line)
    for name, m in result["metrics"].items():
        print(f"{name:28s} {m['value']:.6g} {m['unit']}", file=sys.stderr)
    for fail in artifact["ops"]["failures"]:
        print(f"FAILED {fail['op']}: {fail['error']}", file=sys.stderr)
    print(f"artifact: {path}", file=sys.stderr)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
