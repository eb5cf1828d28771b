"""Multi-pair scaling evidence.

The single committed N->4N pair is chosen as the largest whose
HARDWARE ceiling clears 0.8 — transparent, but the acceptance should
not be sensitive to pair choice. This harness measures the tier
cascade at ALL of local[1,2,4,8,16] (interleaved, best-of-R, separate
JVMs, same input and shuffle config as scaling_bench.py) plus a
same-session hardware probe, then reports every N->4N pair three
ways: raw engine efficiency, the hardware ceiling, and the
ceiling-normalized efficiency (engine / ceiling). The normalized
number is the one that transfers to a real cluster, where 4N
executors add whole nodes instead of splitting one guest's
oversubscribed turbo headroom 4 ways.

Appends a section to BENCH/BASELINE.md (does not overwrite the full
single-pair report, which also carries the full-pipeline and parquet
variants).

Usage: python scripts/multipair_bench.py [--convs N] [--repeats R]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scaling_bench import ensure_input, hardware_probe, measure  # noqa: E402

LEVELS = (1, 2, 4, 8, 16)
PAIRS = ((1, 4), (2, 8), (4, 16))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int,
                    default=int(os.environ.get("SCALING_CONVS", "500000")))
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--input", default=os.path.join(REPO, ".bench",
                                                    "transcripts"))
    args = ap.parse_args()

    os.makedirs(os.path.dirname(args.input), exist_ok=True)
    n_turns = ensure_input(args.convs, args.input)
    print(f"input: {n_turns} turns at {args.input}", flush=True)

    print("hardware probe (same-session ceiling)...", flush=True)
    hw = hardware_probe()
    hw_effs = {(a, b): hw[b] / (4 * hw[a]) for a, b in PAIRS}
    print("hw ceilings:", {f"{a}->{b}": round(v, 3)
                           for (a, b), v in hw_effs.items()}, flush=True)

    # one shared run matrix (scaling_bench.measure): interleaved,
    # best-of-R, separate JVMs — noise-control fixes propagate here
    res = measure("mp", "noop", False, args.input, args.repeats,
                  levels=LEVELS)
    best = {c: res[c]["best"]["turns_per_sec"] for c in LEVELS}
    med = {c: res[c]["median_tps"] for c in LEVELS}

    lines = [
        "",
        "## Multi-pair scaling (tier cascade, sink=noop) — pair-choice "
        "robustness",
        "",
        f"All five parallelism levels measured in ONE session "
        f"(interleaved, best-of-{args.repeats}, {n_turns:,} turns), with "
        "the hardware-probe ceiling taken in the same session. "
        "`normalized = engine_eff / hw_ceiling` — the engine's share of "
        "the scaling this host physically allows between those levels. "
        f"Recorded {time.strftime('%Y-%m-%d %H:%M UTC', time.gmtime())}; "
        "reproduce: `python scripts/multipair_bench.py`.",
        "",
        "| level | tps best | tps median | all runs (tps) |",
        "| --- | --- | --- | --- |",
    ]
    for c in LEVELS:
        allr = [round(t) for t in res[c]["all_tps"]]
        lines.append(f"| local[{c}] | {best[c]:,.0f} | {med[c]:,.0f} | "
                     f"{allr} |")
    lines += [
        "",
        "| pair | engine eff (best) | hw ceiling | normalized |",
        "| --- | --- | --- | --- |",
    ]
    for a, b in PAIRS:
        eff = best[b] / (4 * best[a])
        lines.append(f"| {a}→{b} | {eff:.3f} | {hw_effs[(a, b)]:.3f} | "
                     f"**{eff / hw_effs[(a, b)]:.3f}** |")
    lines.append("")

    out = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(out, "a") as f:
        f.write("\n".join(lines))
    print(f"appended multi-pair section to {out}")
    for a, b in PAIRS:
        eff = best[b] / (4 * best[a])
        print(f"pair {a}->{b}: eff={eff:.3f} hw={hw_effs[(a, b)]:.3f} "
              f"norm={eff / hw_effs[(a, b)]:.3f}")


if __name__ == "__main__":
    main()
