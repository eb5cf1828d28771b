"""End-to-end tier-rollup job — the engine's spark-submit entry point.

    spark-submit --py-files yads.zip jobs/rollup_job.py \
        --input /path/transcripts_parquet --catalog-root /path/warehouse \
        [--run-id RUN] [--tiers 1m,1h,1d] [--evict-now '2025-03-01 00:00:00'] \
        [--vacuum-keep-last 1]

Pipeline (north rule): bronze ingest (salt + day partition column) →
per-turn latency series (lag over stable turn order) → 1m tier →
1h/1d by exact recombination → tier tables committed through the
Iceberg-style catalog with per-stage checkpoints, per-partition
lineage rows and rollup-count metrics → optional TTL eviction
(verified: zero TTL violators AND zero lost survivors before
anything irreversible) → optional vacuum (compact + expire_snapshots
over the tiers, the --full stat tables and the checkpoint/lineage
tables: reclaims the storage eviction only logically releases).
Re-running the same --run-id skips completed stages (resume), and
resumed stages read the snapshots THIS run committed (time travel) —
never another run's overwrites of the same tables.

Prints ONE JSON line of metrics to stdout (parsed by the bench
harness): rows per tier, turns processed, wall seconds per stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yahoo_anomaly_detection_spark.session import get_spark  # noqa: E402
from yahoo_anomaly_detection_spark.sources.catalog import ParquetCatalog  # noqa: E402
from yahoo_anomaly_detection_spark.sources.ingest import bronze_transcripts  # noqa: E402
from yahoo_anomaly_detection_spark.operators.rollup import (  # noqa: E402
    rollup_cascade,
    rollup_points,
    transcripts_latency,
)
from yahoo_anomaly_detection_spark.operators.checkpoint import (  # noqa: E402
    CheckpointedRun,
)
from yahoo_anomaly_detection_spark.operators import retention  # noqa: E402


def _full_stages(spark, points, t1m, metrics, sink_fn) -> None:
    """Statistics + codec stages of the north-star pipeline.

    - rolling mean/std + z-score flags over the 1m mean series
      (SURVEY W6/W7) — window + envelope, JVM-side
    - EWMA per conversation (applyInPandas, Arrow-parallel)
    - Gorilla XOR + delta-of-delta encode per (conv, hour)
      (mapInPandas, Arrow-parallel)
    """
    import time as _t

    from pyspark.sql import functions as F

    from yahoo_anomaly_detection_spark.operators import stats as S
    from yahoo_anomaly_detection_spark.operators.codec import compress_buckets

    series = t1m.select("conv_id", "bucket_start",
                        F.col("mean").alias("mean_v"))

    t0 = _t.time()
    rolled = S.rolling_stats(series, value_col="mean_v", k=10)
    flagged = S.zscore_envelope_flags(
        rolled.where(F.col("residual").isNotNull()), "residual", y=3.0
    )
    sink_fn(flagged, "stats_flags_1m")
    metrics["stages"]["stats_flags"] = round(_t.time() - t0, 2)

    t0 = _t.time()
    sink_fn(S.ewma(series, "mean_v", alpha=0.3), "ewma_1m")
    metrics["stages"]["ewma"] = round(_t.time() - t0, 2)

    t0 = _t.time()
    enc = compress_buckets(points.where(F.col("value").isNotNull()), "hour")
    sink_fn(enc, "encoded_1h")
    metrics["stages"]["gorilla_encode"] = round(_t.time() - t0, 2)


def evict_verified(catalog, spark, tier: str, now) -> str:
    """TTL-evict ``tier_<tier>`` (hive-partitioned by ``day``) and
    prove the eviction before anything irreversible; returns the
    evicted snapshot id.

    Both invariants must hold BEFORE any vacuum: nothing past the TTL
    survived, and nothing inside the TTL was lost (rollback via time
    travel is still possible here; after expire_snapshots it is not).
    An unchanged snapshot is a no-op eviction decided from the day dir
    names: no day is on or before the cutoff date, and
    ``day = to_date(bucket_start)``, so no row is past the TTL and none
    was lost — checking would only start Spark jobs."""
    table = f"tier_{tier}"
    pre_snap = catalog.current_snapshot_id(table)
    snap = retention.evict_tier(catalog, spark, table, tier, now,
                                partition_col="day")
    if snap == pre_snap:
        return snap
    cutoff = retention.cutoff_for(tier, now)
    after = catalog.read(spark, table, snap)
    bad = retention.verify_evicted(after, cutoff)
    lost = retention.verify_survivors(
        catalog.read(spark, table, pre_snap), after, cutoff)
    if bad or lost:
        raise RuntimeError(
            f"eviction verification failed for {table}: "
            f"{bad} rows past the TTL survived, {lost} live "
            f"rows lost — pre-eviction snapshot {pre_snap} is "
            "still time-travelable; NOT vacuuming"
        )
    return snap


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet dir")
    ap.add_argument("--catalog-root", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--tiers", default="1m,1h,1d")
    ap.add_argument("--evict-now", default=None,
                    help="watermark timestamp enabling TTL eviction")
    ap.add_argument("--vacuum-keep-last", type=int, default=None,
                    help="compact each job table and expire all but the "
                         "newest N snapshots (physical storage GC; "
                         "irreversible — time travel to expired snapshots "
                         "ends; gated on eviction verification and a "
                         "row-count-preserving compaction)")
    ap.add_argument("--sink", default="parquet", choices=["parquet", "noop"],
                    help="noop = compute-only (scaling measurement)")
    ap.add_argument("--full", action="store_true",
                    help="run the full north-star pipeline: tiers + "
                         "rolling stats/z-flags + EWMA + Gorilla encode")
    ap.add_argument("--warmup", action="store_true",
                    help="run one untimed pass of the tier pipeline on a "
                         "3%% sample first (JIT-compiles every codegen "
                         "stage so the timed run measures steady-state "
                         "throughput, not JVM warmup — the constant that "
                         "otherwise dominates the faster configs in the "
                         "scaling comparison)")
    ap.add_argument("--shuffle-partitions", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64")))
    args = ap.parse_args(argv)

    spark = get_spark(
        "rollup-job",
        shuffle_partitions=args.shuffle_partitions,
        # smaller scan splits + advisory target: more, smoother waves —
        # a 26-task scan over 8 slots leaves a 2-task straggler tail
        # that costs the fast config disproportionately
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "64m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
        },
    )
    catalog = ParquetCatalog(args.catalog_root)
    run = CheckpointedRun(catalog, spark, args.run_id)
    tiers = args.tiers.split(",")

    metrics: dict = {"run_id": args.run_id, "stages": {}}

    if args.warmup:
        import shutil
        import tempfile

        wdir = tempfile.mkdtemp(
            prefix="warmup_",
            dir=os.environ.get("SPARK_LOCAL_DIRS", "/tmp").split(",")[0],
        )
        try:
            wpts = transcripts_latency(
                bronze_transcripts(
                    spark.read.parquet(args.input).sample(0.03, seed=1)
                )
            )
            wp = os.path.join(wdir, "w1m")
            rollup_points(wpts, "1m").write.mode("overwrite").parquet(wp)
            w1m = spark.read.parquet(wp)
            rollup_cascade(w1m, "1h").write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            shutil.rmtree(wdir, ignore_errors=True)

    t_all = time.time()

    bronze = bronze_transcripts(spark.read.parquet(args.input))

    # latency series + 1m tier: ONE shuffle (window over conv_id, then
    # groupBy(conv_id, bucket) reuses the exchange)
    points = transcripts_latency(bronze)

    if args.sink == "noop":
        # scaling-measurement variant: tiers hand off through scratch
        # parquet on SPARK_LOCAL_DIRS (tmpfs in the bench — models the
        # per-node NVMe / distributed store of a real cluster, which
        # adds bandwidth with executors, unlike the sandbox's single
        # shared disk). NOT df.persist(): building the columnar cache
        # of a ~raw/2-row 1m tier costs ~3x the tier computation
        # itself and anti-scales (measured 137.9s persist+noop vs
        # 38.8s plain at local[8]), whereas a cluster pipeline writes
        # each tier to storage and reads it back anyway.
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        scratch = tempfile.mkdtemp(
            prefix="tiers_",
            dir=os.environ.get("SPARK_LOCAL_DIRS", "/tmp").split(",")[0],
        )
        prev = None
        first_tier = None
        try:
            for tier in tiers:
                t0 = time.time()
                df = (rollup_points(points, tier) if prev is None
                      else rollup_cascade(prev, tier))
                path = os.path.join(scratch, f"tier_{tier}")
                df.write.mode("overwrite").parquet(path)
                df = spark.read.parquet(path)
                if first_tier is None:
                    first_tier = df
                prev = df
                metrics["stages"][f"tier_{tier}"] = round(time.time() - t0, 2)
            if args.full:
                _full_stages(spark, points, first_tier, metrics,
                             lambda df, name: df.write.format("noop")
                             .mode("overwrite").save())
            metrics["n_turns"] = int(
                first_tier.agg(F.sum("cnt")).collect()[0][0] or 0
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        metrics["wall_sec"] = round(time.time() - t_all, 2)
        metrics["turns_per_sec"] = round(
            metrics["n_turns"] / metrics["wall_sec"], 1
        )
        metrics["skipped_units"] = 0
        print(json.dumps(metrics))
        return metrics

    from pyspark.sql import functions as F

    input_snap = None
    prev_tier = None
    for tier in tiers:
        t0 = time.time()

        def build(tier=tier):
            nonlocal prev_tier
            df = (
                rollup_points(points, tier)
                if prev_tier is None
                else rollup_cascade(prev_tier, tier)
            )
            # tier tables are hive-partitioned by day: TTL eviction
            # drops whole day partitions in metadata (on Iceberg and
            # the shim alike; the shim decides a no-op eviction from
            # the dir names), and the catalog's sticky spec carries
            # the layout through rewrites/compaction
            df = df.withColumn("day", F.to_date("bucket_start"))
            snap = catalog.overwrite_table(df, f"tier_{tier}",
                                           partition_by=["day"])
            out = catalog.read(spark, f"tier_{tier}", snap)
            prev_tier = out
            metrics["stages"][f"tier_{tier}_rows"] = out.count()
            return out, snap

        executed = run.unit(f"rollup_{tier}", "all", build,
                            input_snapshot=input_snap)
        input_snap = run.output_snapshot(f"rollup_{tier}")
        if not executed:
            # resume isolation: read THIS run's committed snapshot —
            # another run-id sharing the warehouse may have
            # overwritten the latest view from a different --input
            prev_tier = catalog.read(spark, f"tier_{tier}", input_snap)
            metrics["stages"][f"tier_{tier}_rows"] = prev_tier.count()
        metrics["stages"][f"tier_{tier}"] = round(time.time() - t0, 2)

    # n_turns from the 1m tier (sum of per-bucket counts) — avoids a
    # second full scan of the raw table just for the metric
    t1m_df = catalog.read(spark, f"tier_{tiers[0]}",
                          run.output_snapshot(f"rollup_{tiers[0]}"))
    n_turns = t1m_df.agg(F.sum("cnt")).collect()[0][0] or 0
    metrics["n_turns"] = int(n_turns)

    if args.full:
        _full_stages(
            spark, points, t1m_df, metrics,
            lambda df, name: catalog.overwrite_table(df, name),
        )

    if args.evict_now:
        from datetime import datetime

        now = datetime.fromisoformat(args.evict_now)
        for tier in tiers:
            metrics["stages"][f"evict_{tier}_snapshot"] = evict_verified(
                catalog, spark, tier, now)

    if args.vacuum_keep_last is not None:
        # GC every table this job grows, not just the tiers: the
        # --full stat outputs accumulate one overwrite dir per run and
        # _checkpoints/_lineage one append commit per unit (the shim
        # plans O(#commits) scans over those) — compaction preserves
        # their rows, so resume keeps working
        tables = [f"tier_{t}" for t in tiers]
        if args.full:
            tables += ["stats_flags_1m", "ewma_1m", "encoded_1h"]
        tables += ["_checkpoints", "_lineage"]
        for table in tables:
            if not catalog.exists(table):
                continue
            out = retention.vacuum_tier(
                catalog, spark, table,
                keep_last=args.vacuum_keep_last,
            )
            metrics["stages"][f"vacuum_{table}_removed_dirs"] = (
                out["removed_dirs"]
            )

    metrics["wall_sec"] = round(time.time() - t_all, 2)
    metrics["turns_per_sec"] = round(n_turns / metrics["wall_sec"], 1)
    metrics["skipped_units"] = len(run.skipped)
    print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    main()
