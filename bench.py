"""Per-round benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the
transcripts-rollup throughput pipeline on deterministic synthetic
transcripts, and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "rollup": {...}}

Every query is materialized with the noop sink so all output columns
are computed (count() would let Catalyst prune aggregates).

Host-noise robustness: the sandbox host has multi-minute contention /
memory-backend episodes (BENCH/BASELINE.md documents first-touch page
faults degrading ~1000x). A single timed pass taken inside such a
window measures the host, not the engine, and can overstate a query
2-7x. So the harness runs $SPARK_GRAFT_BENCH_REPEATS (default 2)
INTERLEAVED rounds — all
queries once, then all again — and reports best-of-R per query: a
degraded window inflates one round's numbers, not the minimum, and
interleaving means no single query eats the whole bad window. Each
round also records a memory-canary probe (fresh 240 MB numpy
first-touch, healthy < 0.5 s) in `canary_sec` so the committed
artifact carries evidence of host state at measurement time.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# registry queries the headline total leaves out
_NOT_HEADLINE = frozenset({
    # metric / classifier rows: tiny aggregates over scored tables
    "roc_auc", "best_threshold", "confusion_metrics", "split_counts",
    "pred_value_counts", "bof_eval", "kl_closed_form", "ocsvm_remap",
    "best_epoch",
    # codec / parity checks: correctness anchors, timed elsewhere
    # (PIPELINE times the codec)
    "codec_roundtrip", "tier_parity_1h", "conv_stats_salted",
    # multimodal plumbing rows
    "multimodal_resize", "multimodal_frames", "multimodal_meta",
    # sub-steps of timed queries (each runs inside a headline query)
    "bitmap_actives_1d", "ewma_1m", "doc_sha", "dup_clusters",
    "simhash64", "minhash_signatures", "simhash_dups",
    "ann_lsh_buckets", "ivf_cells",
})


def headline_queries() -> list[str]:
    """Headline queries: the registry minus ``_NOT_HEADLINE``."""
    import __spark_entry__ as entry

    return [n for n in entry.queries() if n not in _NOT_HEADLINE]


# stages timed inside the transcripts pipeline (input generated once,
# stages repeated per round like the headline queries)
PIPELINE = ["transcripts_rollup", "gorilla_encode", "gorilla_decode"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _canary() -> float:
    """First-touch cost of a fresh 240 MB allocation (seconds).
    Healthy host: ~0.03-0.1 s. Degraded memory-backend episode:
    10-40 s. The same probe gates scripts/run_when_healthy.sh."""
    import numpy as np

    t0 = time.time()
    np.arange(30_000_000)
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "30000"))
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    # if EVERY planned repeat lands in a degraded-memory window
    # (canary > 5 s; healthy < 0.5 s), run up to this many extra
    # interleaved repeats hoping to catch a healthy window — the
    # best-of-R minimum then measures the engine, not the host
    extra_max = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "1")))

    import __spark_entry__ as entry
    from yahoo_anomaly_detection_spark.session import get_spark
    from yahoo_anomaly_detection_spark.synthgen import gen_transcripts
    from yahoo_anomaly_detection_spark.operators.rollup import (
        rollup_cascade, rollup_points, transcripts_latency,
    )
    from yahoo_anomaly_detection_spark.operators.codec import (
        compress_buckets, decompress_buckets,
    )

    spark = get_spark("bench", cores=cpus,
                      shuffle_partitions=max(cpus * 2, 16))

    from yahoo_anomaly_detection_spark import caching

    qs = entry.queries()
    headline = headline_queries()
    pipeline = PIPELINE
    # ad-hoc subset runs (builder sessions recording bests for new
    # queries); the driver never sets this, so per-round artifacts
    # always carry the full headline set
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in names if n not in headline + PIPELINE]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown: {unknown}")
        headline = [n for n in headline if n in names]
        # the pipeline stages are one chained job (rollup feeds the
        # codec), so selecting ANY of them runs and records all three
        pipeline = PIPELINE if any(n in names for n in PIPELINE) else []
    runs: dict[str, list[float]] = {n: [] for n in headline + pipeline}
    canary: list[float] = []

    tmp = tempfile.mkdtemp(prefix="bench_transcripts_")
    rollup_stats: dict = {}
    try:
        if pipeline:
            # generate the transcripts input ONCE (untimed vs the
            # rollup: generation cost is reported separately, never
            # in a query)
            t0 = time.time()
            gen_transcripts(
                spark, n_convs=n_convs, seed=42, partitions=cpus * 2,
            ).write.mode("overwrite").parquet(tmp)
            rollup_stats["gen_sec"] = round(time.time() - t0, 2)
            tr = spark.read.parquet(tmp)
            n_turns = tr.count()
            rollup_stats["n_turns"] = n_turns

        done = 0
        while done < repeats or (
            done < repeats + extra_max and min(canary) > 5.0
        ):
            done += 1
            canary.append(_canary())

            for name in headline:
                t0 = time.time()
                _noop(qs[name](spark, sf_dir))
                runs[name].append(round(time.time() - t0, 3))
                caching.release_all()  # free operator-internal caches
                # sweep localCheckpoint blocks (CC loop) so they don't
                # accumulate across queries and skew later timings
                caching.release_orphan_rdds(spark)

            if not pipeline:
                continue
            # ---- transcripts rollup throughput (north-rule headline)
            t0 = time.time()
            points = transcripts_latency(tr)
            # scratch-parquet handoff between tiers, mirroring
            # jobs/rollup_job.py: cheaper than the columnar cache
            # build (~3x the tier compute, measured) and the honest
            # cluster analog (each tier is committed to the
            # distributed store and read back by the next stage)
            t1m_path = os.path.join(tmp, "_tier_1m")
            rollup_points(points, "1m").write.mode("overwrite").parquet(
                t1m_path)
            t1m = spark.read.parquet(t1m_path)
            t1h = rollup_cascade(t1m, "1h")
            _noop(t1h)
            _noop(rollup_cascade(t1h, "1d"))
            runs["transcripts_rollup"].append(round(time.time() - t0, 3))

            # untimed handoff: materialize the latency series once so
            # the codec stages time the CODEC — `points` is lazy and
            # would otherwise replay the whole lag-window derivation
            # inside the gorilla_encode number (same attribution rule
            # as gen_sec: input production is never in a query)
            pts_path = os.path.join(tmp, "_points")
            points.where("value is not null").write.mode(
                "overwrite").parquet(pts_path)
            pts = spark.read.parquet(pts_path)

            t0 = time.time()
            enc = compress_buckets(pts, "hour")
            enc.persist()
            _noop(enc)
            runs["gorilla_encode"].append(round(time.time() - t0, 3))
            t0 = time.time()
            _noop(decompress_buckets(enc))
            runs["gorilla_decode"].append(round(time.time() - t0, 3))
            enc.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    timings = {name: min(ts) for name, ts in runs.items()}
    if pipeline:
        dt = timings["transcripts_rollup"]
        rollup_stats["rollup_sec"] = round(dt, 2)
        rollup_stats["turns_per_sec"] = round(n_turns / dt, 1)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    summary = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "repeats": repeats,
        "repeats_run": len(canary),
        "canary_sec": canary,
        "rollup": rollup_stats,
    }
    # full artifact (incl. every repeat's timing) goes to a sidecar;
    # stdout carries ONLY the compact summary line, kept well under
    # the driver's 2000-char tail capture (a line that embeds all_runs
    # overflows the capture and parses as null)
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_summary.json"
    )
    with open(sidecar, "w") as f:
        json.dump({**summary, "all_runs": runs}, f, indent=1)
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:  # drop per-query detail before losing the line
        slim = dict(summary, queries={"see": "BENCH_summary.json"})
        line = json.dumps(slim, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
