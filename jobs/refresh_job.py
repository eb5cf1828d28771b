"""Incremental continuous-aggregate refresh job — the tier-maintenance
entry point for an append-only transcripts table.

    spark-submit --py-files yads.zip jobs/refresh_job.py \
        --catalog-root /path/warehouse [--append /path/new_batch.parquet] \
        [--bronze-table transcripts] [--tiers 1m,1h,1d]

Where ``jobs/rollup_job.py`` computes tiers from a full input scan,
this job keeps them CURRENT as the bronze table grows, at cost ∝ the
appended delta (north rule: continuous aggregates at 10^12-turn scale
— full recomputes are off the table):

1. incremental scan of the bronze commits after the last processed
   snapshot (``catalog.read_appended``);
2. exact cross-batch latency via the per-conversation tails table
   (``operators/refresh.py`` — loud failure on out-of-order appends);
3. delta 1m partials merged into the existing tier rows
   (decomposable state, ``merge_tiers``), 1h/1d re-cascaded from the
   merged 1m rows of the affected days only;
4. each tier lands via ``catalog.replace_where`` on the affected DAY
   partitions — one atomic commit per tier, untouched days carried
   over by reference;
5. the tails table updates the same way on its conv-hash buckets.

Exactly-once under crash/retry: every read of prior state (tiers,
tails) is pinned to the snapshot ids recorded in the ``_refresh_meta``
row of the LAST COMPLETED refresh — never "latest", which a crashed
attempt may have advanced. A retried refresh therefore recomputes the
identical merged rows and replaces the same partitions; the meta-row
append is the commit point that makes the delta processed. If history
was rewritten under the consumer (TTL delete / compaction of the
bronze table), ``read_appended`` refuses and the job falls back to a
verified full recompute (``mode=full`` in the metrics) — including
when the rewrite emptied the bronze table (tiers are rebuilt empty,
never left serving deleted history). Growing ``--tiers`` on an
existing consumer also triggers the full rebuild: an incremental
merge could only give the new tier the delta's days. Appends that
violate the per-conversation contract (turn_idx at/below the recorded
tail, or duplicated within a batch) fail loudly before any commit.

The job maintains its own tables: the ``_refresh_meta`` log self-
compacts past 32 snapshots, and ``--vacuum-keep-last N`` (N >= 2 so
the crash-retry pins stay readable) compacts + expires the tier/tails
tables after each refresh that wrote new snapshots.

Prints ONE JSON line of metrics (parsed by harnesses/tests).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from yahoo_anomaly_detection_spark.session import get_spark  # noqa: E402
from yahoo_anomaly_detection_spark.sources.catalog import ParquetCatalog  # noqa: E402
from yahoo_anomaly_detection_spark.sources.ingest import bronze_transcripts  # noqa: E402
from yahoo_anomaly_detection_spark.operators.rollup import (  # noqa: E402
    TIERS,
    merge_tiers,
    rollup_cascade,
    rollup_points,
)
from yahoo_anomaly_detection_spark.operators import refresh as R  # noqa: E402

META_TABLE = "_refresh_meta"
TAILS_TABLE = "_conv_tails"
# self-compact the meta log past this many snapshots (one per refresh)
META_COMPACT_THRESHOLD = 32


def _latest_meta(catalog, spark, consumer: str):
    """Last COMPLETED refresh row for this consumer (None on first
    run): processed bronze snapshot + pinned output snapshots."""
    if not catalog.exists(META_TABLE):
        return None
    df = catalog.read(spark, META_TABLE).where(
        F.col("consumer") == consumer
    )
    rows = df.orderBy(F.col("refresh_seq").desc()).limit(1).collect()
    return rows[0] if rows else None


def _validate_tiers(tiers: tuple[str, ...]) -> None:
    """A coarser tier cascading into a finer one is the identity on
    bucket_start (``date_trunc('minute')`` of hour-aligned buckets),
    so '1h,1m' would silently commit one-row-per-hour data labeled as
    1m buckets — fail loudly at entry instead."""
    unknown = [t for t in tiers if t not in TIERS]
    if unknown:
        raise ValueError(
            f"unknown tiers {unknown!r}: --tiers must be drawn from {TIERS}")
    idx = [TIERS.index(t) for t in tiers]
    if not idx or idx != sorted(set(idx)):
        raise ValueError(
            f"--tiers must be a non-empty strictly ascending subset of "
            f"{TIERS}, got {tuple(tiers)!r}")


def refresh_once(spark, catalog, bronze_table: str = "transcripts",
                 tiers: tuple[str, ...] = ("1m", "1h", "1d"),
                 consumer: str = "tiers",
                 vacuum_keep_last: int | None = None) -> dict:
    """One refresh cycle. Returns the metrics dict."""
    t_all = time.time()
    _validate_tiers(tiers)
    if vacuum_keep_last is not None and vacuum_keep_last < 2:
        raise ValueError(
            "vacuum_keep_last must be >= 2: the meta row pins each "
            "output table's pre-compaction snapshot, which the "
            "crash-retry path still reads")
    metrics: dict = {"consumer": consumer, "stages": {}}

    meta = _latest_meta(catalog, spark, consumer)
    since = meta["processed_snapshot"] if meta is not None else None
    pinned = dict(meta["outputs"]) if meta is not None else {}
    cur = catalog.current_snapshot_id(bronze_table)
    if cur is None:
        raise FileNotFoundError(
            f"bronze table {bronze_table!r} has no snapshots")
    if since == cur:
        metrics.update(mode="noop", processed_snapshot=cur,
                       wall_sec=round(time.time() - t_all, 2))
        print(json.dumps(metrics))
        return metrics

    mode = "incremental" if meta is not None else "initial"
    if mode == "incremental":
        unpinned = [f"tier_{t}" for t in tiers if f"tier_{t}" not in pinned]
        clash = [u for u in unpinned if catalog.exists(u)]
        if clash:
            # another consumer's (or an unmanaged) table: merging blind
            # or replacing its days with delta-only rows would both
            # corrupt it silently
            raise RuntimeError(
                f"tables {clash} exist but are not pinned by consumer "
                f"{consumer!r} — refresh owns its tier tables; use a "
                "fresh consumer/warehouse or rebuild full"
            )
        if unpinned:
            # the consumer's tier set grew (or a prior run pinned no
            # tiers): an incremental merge would create the new tiers
            # from the delta's days only, silently losing all
            # historical days — rebuild everything from the full view
            mode = "full"

    if mode == "full":
        delta = catalog.read(spark, bronze_table, cur)
        pinned = {}
    else:
        try:
            delta = catalog.read_appended(spark, bronze_table, since, cur)
        except ValueError:
            # bronze history rewritten under us (TTL delete /
            # compaction): incremental is undefined; rebuild from the
            # current view
            mode = "full"
            delta = catalog.read(spark, bronze_table, cur)
            pinned = {}

    tails = None
    if mode == "incremental" and TAILS_TABLE in pinned:
        tails = catalog.read(spark, TAILS_TABLE, pinned[TAILS_TABLE])
    bad = R.validate_in_order(delta, tails)
    if bad:
        raise RuntimeError(
            f"{bad} conversations in the delta violate the "
            "in-order-append contract (turn_idx <= recorded tail, or "
            "duplicated turn_idx within the batch); refusing to assign "
            "silently wrong latencies. Rebuild with a full recompute "
            "(rewrite the bronze table) or fix the producer."
        )

    t0 = time.time()
    lat = R.incremental_latency(delta, tails)
    d1m = rollup_points(lat, "1m").persist()
    days = R.affected_days(d1m, ts_col="bucket_start")
    metrics["stages"]["delta_1m"] = round(time.time() - t0, 2)
    metrics["affected_days"] = len(days)
    cached = [d1m]
    try:
        if not days and mode == "incremental":
            # delta had zero rows (empty append commits): nothing to
            # merge; carry the pins forward
            new_tails_snap = pinned.get(TAILS_TABLE)
            out_snaps = {f"tier_{t}": pinned.get(f"tier_{t}")
                         for t in tiers}
        else:
            # initial/full still lands with zero days: the tiers must
            # reflect the (possibly TTL-emptied) bronze view — keeping
            # the stale tables would silently serve deleted history
            pred = R.day_predicate(days) if days else None
            prev = None  # merged rows of the lower tier, affected days
            out_snaps = {}
            for tier in tiers:
                t0 = time.time()
                table = f"tier_{tier}"
                if prev is not None:
                    # upper tiers cascade from the COMMITTED merged
                    # lower-tier rows of the affected days — already
                    # complete for those days (old + delta), so they
                    # REPLACE; merging with existing again would
                    # double-count the pre-delta contribution
                    merged = rollup_cascade(prev, tier)
                elif mode == "incremental":
                    # every tier is pinned here (checked at entry)
                    existing = catalog.read(
                        spark, table, pinned[table]
                    ).where(pred)
                    merged = merge_tiers([existing, d1m], tier)
                else:
                    merged = d1m
                merged = merged.withColumn(
                    "day", F.to_date("bucket_start"))
                if mode != "incremental":
                    # initial/full: take ownership with a full view
                    snap = catalog.overwrite_table(
                        merged, table, partition_by=["day"])
                else:
                    snap = catalog.replace_where(
                        spark, merged, table, pred)
                out_snaps[table] = snap
                # next tier cascades from the COMMITTED merged rows of
                # the affected days (complete for those days); cached —
                # it is both counted below and scanned by the cascade
                prev = catalog.read(spark, table, snap)
                if mode == "incremental":
                    prev = prev.where(pred)
                prev = prev.persist()
                cached.append(prev)
                metrics["stages"][f"tier_{tier}"] = round(
                    time.time() - t0, 2)
                metrics["stages"][f"tier_{tier}_affected_rows"] = \
                    prev.count()

            t0 = time.time()
            delta_tails = R.conv_tails(delta)
            if mode == "incremental" and TAILS_TABLE in pinned:
                buckets = sorted(
                    r.bucket for r in
                    delta_tails.select("bucket").distinct().collect()
                )
                bpred = f"bucket IN ({', '.join(str(b) for b in buckets)})"
                existing_t = catalog.read(
                    spark, TAILS_TABLE, pinned[TAILS_TABLE]
                ).where(bpred)
                merged_t = R.merge_tails(existing_t, delta_tails)
                new_tails_snap = catalog.replace_where(
                    spark, merged_t, TAILS_TABLE, bpred)
            else:
                new_tails_snap = catalog.overwrite_table(
                    R.merge_tails(None, delta_tails), TAILS_TABLE,
                    partition_by=["bucket"])
            metrics["stages"]["tails"] = round(time.time() - t0, 2)
    finally:
        for c in cached:
            c.unpersist()

    outputs = {**{t: s for t, s in out_snaps.items() if s is not None}}
    if new_tails_snap is not None:
        outputs[TAILS_TABLE] = new_tails_snap
    seq = int(time.time() * 1e6)
    mark = spark.createDataFrame(
        [(consumer, cur, outputs, mode, seq)],
        schema="consumer string, processed_snapshot string, "
               "outputs map<string,string>, mode string, refresh_seq long",
    )
    catalog.append(mark, META_TABLE)

    # the meta log grows one append commit per refresh; under the
    # ParquetCatalog shim _latest_meta then plans an O(#refreshes)
    # union just to fetch one row — fold it back to a single dir
    # periodically. Meta snapshots are never pinned by anything, so
    # keep_last=1 is always safe.
    if len(catalog.snapshots(META_TABLE)) > META_COMPACT_THRESHOLD:
        catalog.compact(spark, META_TABLE)
        catalog.expire_snapshots(META_TABLE, keep_last=1)

    # optional output-table maintenance. Guarded to runs that wrote
    # fresh snapshots: a zero-delta refresh carries OLD pins forward,
    # and compact+expire here could retire exactly those pinned
    # snapshots. When we did write, the pins are the tables' current
    # snapshots. The day/bucket replaces above swapped whole leaves,
    # so each partition is in one path and compaction is a no-op that
    # leaves the pins current; one that does rewrite (a partition two
    # paths hold) pushes them to position -2. keep_last >= 2
    # (validated at entry) retains them either way for crash-retry,
    # and expiry removes the replaced leaves.
    wrote_outputs = bool(days) or mode != "incremental"
    if vacuum_keep_last is not None and wrote_outputs:
        for t in [*(f"tier_{t}" for t in tiers), TAILS_TABLE]:
            if catalog.exists(t):
                catalog.compact(spark, t)
                catalog.expire_snapshots(t, keep_last=vacuum_keep_last)

    metrics.update(
        mode=mode,
        processed_snapshot=cur,
        since_snapshot=since,
        wall_sec=round(time.time() - t_all, 2),
    )
    print(json.dumps(metrics))
    return metrics


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog-root", required=True)
    ap.add_argument("--bronze-table", default="transcripts")
    ap.add_argument("--append", default=None,
                    help="parquet dir of new raw transcripts to append "
                         "to the bronze table before refreshing")
    ap.add_argument("--tiers", default="1m,1h,1d")
    ap.add_argument("--consumer", default="tiers")
    ap.add_argument("--vacuum-keep-last", type=int, default=None,
                    help="after a refresh that wrote new snapshots, "
                         "compact + expire the job's own output tables "
                         "to this many snapshots (>= 2: the meta pins "
                         "the pre-compaction snapshot for crash-retry)")
    ap.add_argument("--shuffle-partitions", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "64")))
    args = ap.parse_args(argv)

    spark = get_spark("refresh-job",
                      shuffle_partitions=args.shuffle_partitions)
    catalog = ParquetCatalog(args.catalog_root)
    if args.append:
        raw = spark.read.parquet(args.append)
        catalog.append(bronze_transcripts(raw), args.bronze_table,
                       partition_by=["day"])
    return refresh_once(spark, catalog, args.bronze_table,
                        tuple(t.strip() for t in args.tiers.split(",")),
                        args.consumer,
                        vacuum_keep_last=args.vacuum_keep_last)


if __name__ == "__main__":
    main()
