"""Streaming 1m rollup: batch parity + late-data watermark behavior.

Queries that are only driven by ``processAllAvailable`` start with
``trigger_secs=0``: micro-batches run back to back instead of one per
second. The state-TTL tests keep the 1 s processing-time trigger,
because their timeouts are measured in processing time.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.operators.rollup import (
    rollup_cascade,
    rollup_points,
)
from yahoo_anomaly_detection_spark.streaming.hop import (
    EVENTS_DDL,
    POINTS_DDL,
    TIERS_DDL,
    TRANSCRIPTS_DDL,
    read_parquet_stream,
    start_to_parquet,
)
from yahoo_anomaly_detection_spark.streaming.rollup_stream import (
    stream_rollup_1m,
)


def _mk_points(spark, rows):
    return spark.createDataFrame(
        [(c, f"2024-01-01 00:{m:02d}:{s:02d}", v) for c, m, s, v in rows],
        "conv_id string, ts string, value double",
    ).select("conv_id", F.col("ts").cast("timestamp").alias("ts"), "value")


def test_stream_rollup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    early = [("a", 0, 1, 10.0), ("a", 0, 30, 20.0), ("b", 1, 5, 5.0),
             ("a", 1, 10, 30.0), ("b", 1, 50, 7.0)]
    # a second file far enough ahead that the watermark closes the
    # early buckets (watermark = 10 min; 00:30 >> 00:01 + 10 min)
    flush = [("a", 30, 0, 1.0), ("b", 31, 0, 2.0)]

    _mk_points(spark, early).coalesce(1).write.mode("append").parquet(src)
    stream = stream_rollup_1m(
        read_parquet_stream(spark, src, POINTS_DDL), "10 minutes"
    )
    q = start_to_parquet(stream, out, ckpt, trigger_secs=0)
    try:
        q.processAllAvailable()
        _mk_points(spark, flush).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out)
    # the early buckets must be finalized; the 00:30/00:31 ones may
    # still sit in state — compare only finalized buckets against the
    # batch rollup of the same input
    batch = rollup_points(_mk_points(spark, early), "1m")
    j = batch.alias("b").join(
        got.alias("s"), on=["conv_id", "bucket_start"], how="left"
    )
    rows = j.select(
        "conv_id", "bucket_start",
        F.col("b.cnt").alias("bc"), F.col("s.cnt").alias("sc"),
        F.col("b.mean").alias("bm"), F.col("s.mean").alias("sm"),
        F.col("b.std").alias("bs"), F.col("s.std").alias("ss"),
    ).collect()
    assert rows, "no buckets compared"
    for r in rows:
        assert r["sc"] == r["bc"], r
        assert abs(r["sm"] - r["bm"]) < 1e-12, r
        assert abs(r["ss"] - r["bs"]) < 1e-12, r

    # upper tiers recombine from the streamed tier unchanged
    t1h = rollup_cascade(
        got.select("conv_id", "bucket_start", "cnt", "vcnt", "sum",
                   "sum_sq", "min", "max"), "1h"
    )
    assert t1h.where(F.col("cnt") > 0).count() >= 2


def _mk_transcripts(spark, rows):
    """rows: (conv_id, turn_idx, minute, second)."""
    return spark.createDataFrame(
        [
            (c, t, "user", f"msg {c}{t}", "", f"2024-01-01 00:{m:02d}:{s:02d}")
            for c, t, m, s in rows
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.col("ts").cast("timestamp").alias("ts"),
    )


def _mk_turns(spark, rows):
    """rows: (conv_id, turn_idx, minute, second) -> transcript rows."""
    return spark.createDataFrame(
        [
            (c, i, "user", "t", None, dt.datetime(2024, 1, 1, 0, m, s))
            for c, i, m, s in rows
        ],
        TRANSCRIPTS_DDL,
    )


def test_stream_latency_matches_batch(spark, tmp_path):
    """Streamed latency derivation (applyInPandasWithState) must equal
    the batch lag window on the same in-order input, INCLUDING turns
    whose predecessor arrived in an earlier micro-batch (state carries
    across batches)."""
    from yahoo_anomaly_detection_spark.operators.rollup import (
        transcripts_latency,
    )
    from yahoo_anomaly_detection_spark.streaming.latency_stream import (
        stream_latency,
    )

    src = str(tmp_path / "tsrc")
    out = str(tmp_path / "tpts")
    ckpt = str(tmp_path / "tckpt")
    os.makedirs(src)
    f1 = [("a", 0, 0, 1), ("a", 1, 0, 31), ("b", 0, 1, 5)]
    f2 = [("a", 2, 1, 10), ("b", 1, 1, 50), ("b", 2, 2, 20)]

    _mk_transcripts(spark, f1).coalesce(1).write.mode("append").parquet(src)
    stream = stream_latency(
        read_parquet_stream(spark, src, TRANSCRIPTS_DDL,
                            max_files_per_trigger=1)
    )
    q = start_to_parquet(stream, out, ckpt, trigger_secs=0)
    # hop 2 chains off hop 1's sink dir. NOTE: that dir has a
    # _spark_metadata log, so hop 2's file source only sees files the
    # hop-1 QUERY committed — the watermark-advancing flush row must
    # flow through hop 1 (a late transcript), not a side batch write.
    out2 = str(tmp_path / "tiers")
    ckpt2 = str(tmp_path / "tckpt2")
    q2 = start_to_parquet(
        stream_rollup_1m(
            read_parquet_stream(spark, out, POINTS_DDL), "10 minutes"
        ),
        out2, ckpt2,
        trigger_secs=0,
    )
    try:
        q.processAllAvailable()
        _mk_transcripts(spark, f2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        q2.processAllAvailable()
        _mk_transcripts(spark, [("zz", 0, 59, 0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q.stop()
        q2.stop()

    streamed = {
        (r["conv_id"], r["ts"]): r["value"]
        for r in spark.read.parquet(out)
        .where("conv_id <> 'zz'").collect()
    }
    batch = {
        (r["conv_id"], r["ts"]): r["value"]
        for r in transcripts_latency(
            _mk_transcripts(spark, f1 + f2)
        ).collect()
    }
    assert streamed.keys() == batch.keys()
    for k in batch:
        if batch[k] is None:
            assert streamed[k] is None, k
        else:
            assert streamed[k] is not None and (
                abs(streamed[k] - batch[k]) < 1e-9
            ), (k, streamed[k], batch[k])
    # cross-batch case really exercised: a.turn2 and b.turn1 latencies
    # span the file boundary and must be non-null
    import datetime as dt

    assert streamed[("a", dt.datetime(2024, 1, 1, 0, 1, 10))] == 39.0
    assert streamed[("b", dt.datetime(2024, 1, 1, 0, 1, 50))] == 45.0

    # hop 2 ran above, chained off the live hop-1 sink; compare its
    # finalized tiers against batch latency + batch rollup
    got = spark.read.parquet(out2).where("conv_id <> 'zz'")
    batch_tiers = rollup_points(
        transcripts_latency(_mk_transcripts(spark, f1 + f2)), "1m"
    )
    j = batch_tiers.alias("b").join(
        got.alias("s"), on=["conv_id", "bucket_start"], how="inner"
    )
    rows = j.select(
        F.col("b.cnt").alias("bc"), F.col("s.cnt").alias("sc"),
        F.col("b.mean").alias("bm"), F.col("s.mean").alias("sm"),
    ).collect()
    assert len(rows) >= 3, "tiers not finalized"
    for r in rows:
        assert r["sc"] == r["bc"], r
        if r["bm"] is None:
            assert r["sm"] is None, r
        else:
            assert abs(r["sm"] - r["bm"]) < 1e-12, r


def test_stream_latency_state_ttl_evicts_idle(spark, tmp_path):
    """With a processing-time TTL, an idle conversation's state is
    evicted; its next turn starts a fresh series (NULL latency) —
    the bound that keeps the state store finite at 10^12 turns.

    noDataMicroBatches is disabled for the query: Spark 4.1's
    FlatMapGroupsInPandasWithStateExec NPEs when a NO-DATA batch is
    planned (copy() with a null session), and processing-time timeouts
    schedule exactly such batches (see hop.keyed_state docstring);
    with the conf off, timeouts process during data batches."""
    import time as _time

    from yahoo_anomaly_detection_spark.streaming.latency_stream import (
        stream_latency,
    )

    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    src = str(tmp_path / "esrc")
    out = str(tmp_path / "epts")
    ckpt = str(tmp_path / "eckpt")
    os.makedirs(src)
    _mk_transcripts(spark, [("a", 0, 0, 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = stream_latency(
        read_parquet_stream(spark, src, TRANSCRIPTS_DDL,
                            max_files_per_trigger=1),
        state_ttl_ms=500,
    )
    q = start_to_parquet(stream, out, ckpt)
    try:
        q.processAllAvailable()
        _time.sleep(1.5)  # let a's TTL lapse
        # unrelated batch fires the timeout processing
        _mk_transcripts(spark, [("b", 0, 5, 0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        # a returns after eviction: latency must be NULL (fresh series)
        _mk_transcripts(spark, [("a", 1, 9, 0)]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true"
        )
    rows = {
        (r["conv_id"], r["ts"].minute): r["value"]
        for r in spark.read.parquet(out).collect()
    }
    assert rows[("a", 9)] is None, rows


def test_stream_resumes_from_checkpoint(spark, tmp_path):
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(src)
    _mk_points(spark, [("c", 0, 1, 1.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    s1 = stream_rollup_1m(
        read_parquet_stream(spark, src, POINTS_DDL), "5 minutes"
    )
    q1 = start_to_parquet(s1, out, ckpt, trigger_secs=0)
    q1.processAllAvailable()
    q1.stop()
    # restart from the same checkpoint; new data triggers finalization
    _mk_points(spark, [("c", 20, 0, 2.0)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    s2 = stream_rollup_1m(
        read_parquet_stream(spark, src, POINTS_DDL), "5 minutes"
    )
    q2 = start_to_parquet(s2, out, ckpt, trigger_secs=0)
    q2.processAllAvailable()
    q2.stop()
    got = spark.read.parquet(out)
    assert got.where("conv_id = 'c'").count() >= 1


def _mk_tier_rows(spark, rows):
    """rows: (conv_id, minute, mean) — minimal finalized-tier rows."""
    return spark.createDataFrame(
        [(c, f"2024-01-01 00:{m:02d}:00", v) for c, m, v in rows],
        "conv_id string, bucket_start string, mean double",
    ).select(
        "conv_id",
        F.col("bucket_start").cast("timestamp").alias("bucket_start"),
        "mean",
    )


def test_stream_rolling_flags_match_batch(spark, tmp_path):
    """Hop 3 (trailing-k rolling stats + fitted-threshold flags via
    applyInPandasWithState) must equal the batch rolling_stats + flag
    projection on the same in-order tier rows, INCLUDING rows whose
    window spans earlier micro-batches (state carries the last k
    values), and must skip-but-occupy NULL means exactly like
    F.avg/F.stddev_pop inside rowsBetween(-k,-1)."""
    from yahoo_anomaly_detection_spark.operators.stats import rolling_stats
    from yahoo_anomaly_detection_spark.streaming.flags_stream import (
        stream_rolling_flags,
    )

    k, thr = 3, 4.0
    f1 = [("a", 0, 10.0), ("a", 1, 12.0), ("b", 0, 5.0)]
    f2 = [("a", 2, None), ("a", 3, 30.0), ("b", 1, 5.5), ("b", 2, 6.0)]
    f3 = [("a", 4, 11.0), ("a", 5, 12.5), ("b", 3, 50.0)]

    src = str(tmp_path / "fsrc")
    out = str(tmp_path / "fout")
    ckpt = str(tmp_path / "fckpt")
    os.makedirs(src)
    _mk_tier_rows(spark, f1).coalesce(1).write.mode("append").parquet(src)
    tiers = read_parquet_stream(spark, src, TIERS_DDL,
                                max_files_per_trigger=1)
    q = start_to_parquet(
        stream_rolling_flags(tiers, threshold=thr, k=k), out, ckpt,
        trigger_secs=0
    )
    try:
        q.processAllAvailable()
        _mk_tier_rows(spark, f2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        _mk_tier_rows(spark, f3).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    rolled = rolling_stats(
        _mk_tier_rows(spark, f1 + f2 + f3).withColumnRenamed(
            "mean", "mean_v"
        ),
        value_col="mean_v", k=k,
    ).withColumn(
        "pred",
        F.when(F.col("residual") > F.lit(thr), 1).otherwise(0),
    )
    batch = {
        (r["conv_id"], r["bucket_start"]): r
        for r in rolled.collect()
    }
    streamed = {
        (r["conv_id"], r["bucket_start"]): r
        for r in spark.read.parquet(out).collect()
    }
    assert streamed.keys() == batch.keys()
    for key, b in batch.items():
        s = streamed[key]
        for col in ("mean_v", "rolling_mean", "rolling_std", "residual"):
            bv = b["mean_v"] if col == "mean_v" else b[col]
            if bv is None:
                assert s[col] is None, (key, col, s[col])
            else:
                assert s[col] is not None and abs(s[col] - bv) < 1e-9, (
                    key, col, s[col], bv,
                )
        assert s["pred"] == b["pred"], (key, s["pred"], b["pred"])

    # the cross-batch window really exercised: a@00:03 (file 2) windows
    # over {12, NULL, 10} from files 1-2 -> mean 11, resid 19 -> flagged
    import datetime as dt

    r = streamed[("a", dt.datetime(2024, 1, 1, 0, 3))]
    assert abs(r["rolling_mean"] - 11.0) < 1e-9
    assert abs(r["residual"] - 19.0) < 1e-9
    assert r["pred"] == 1
    # b@00:03 (file 3) windows over file-2 values {5.5, 6.0} + file-1 5.0
    r = streamed[("b", dt.datetime(2024, 1, 1, 0, 3))]
    assert abs(r["rolling_mean"] - (5.0 + 5.5 + 6.0) / 3) < 1e-9
    assert r["pred"] == 1


def test_streaming_topology_end_to_end(spark, tmp_path):
    """Full 3-hop streaming topology chained via parquet handoffs
    (the medallion layout: each hop's sink is the next hop's source):

        transcripts ─▶ stream_latency ─▶ stream_rollup_1m ─▶
        stream_rolling_flags

    must equal the batch pipeline (transcripts_latency →
    rollup_points → rolling_stats + flag) on every FINALIZED bucket,
    with per-conversation latency state, watermark finalization, and
    the trailing-k flag window all crossing micro-batch boundaries."""
    import datetime as dt

    from yahoo_anomaly_detection_spark.operators.rollup import (
        rollup_points,
        transcripts_latency,
    )
    from yahoo_anomaly_detection_spark.operators.stats import rolling_stats
    from yahoo_anomaly_detection_spark.streaming.latency_stream import (
        stream_latency,
    )
    from yahoo_anomaly_detection_spark.streaming.flags_stream import (
        stream_rolling_flags,
    )

    # conv a: steady ~20s cadence, then a 100s stall inside minute 3
    # (latency spike -> pred=1); conv b: steady 30s cadence
    f1 = [("a", 0, 0, 10), ("a", 1, 0, 30), ("a", 2, 0, 50),
          ("a", 3, 1, 10), ("a", 4, 1, 30), ("b", 0, 0, 5),
          ("b", 1, 0, 35), ("b", 2, 1, 5)]
    f2 = [("a", 5, 1, 50), ("a", 6, 3, 30), ("a", 7, 3, 50),
          ("b", 3, 1, 35), ("b", 4, 2, 5), ("b", 5, 2, 35)]
    # two flush files: the watermark only advances AFTER the batch
    # that carries the new max event time, and with no-data
    # micro-batches disabled (session-level state-NPE workaround) the
    # finalizing emit needs one more DATA batch behind it
    flush = [("a", 8, 30, 0), ("b", 6, 30, 0)]
    flush2 = [("a", 9, 31, 0), ("b", 7, 31, 0)]

    src = str(tmp_path / "t_src")
    pts = str(tmp_path / "points")
    tiers = str(tmp_path / "tiers")
    flags = str(tmp_path / "flags")
    os.makedirs(src)

    _mk_turns(spark, f1).coalesce(1).write.mode("append").parquet(src)
    q1 = start_to_parquet(
        stream_latency(read_parquet_stream(spark, src, TRANSCRIPTS_DDL)),
        pts, str(tmp_path / "ck1"),
        trigger_secs=0,
    )
    q1.processAllAvailable()  # create pts dir before hop 2 starts
    q2 = start_to_parquet(
        stream_rollup_1m(
            read_parquet_stream(spark, pts, POINTS_DDL), "2 minutes"
        ),
        tiers, str(tmp_path / "ck2"),
        trigger_secs=0,
    )
    q2.processAllAvailable()
    tier_stream = read_parquet_stream(spark, tiers, TIERS_DDL)
    q3 = start_to_parquet(
        stream_rolling_flags(tier_stream, threshold=15.0, k=3),
        flags, str(tmp_path / "ck3"),
        trigger_secs=0,
    )
    try:
        for batch in (f2, flush, flush2):
            q3.processAllAvailable()
            _mk_turns(spark, batch).coalesce(1).write.mode("append") \
                .parquet(src)
            q1.processAllAvailable()
            q2.processAllAvailable()
        q1.processAllAvailable()
        q2.processAllAvailable()
        q3.processAllAvailable()
    finally:
        q1.stop(); q2.stop(); q3.stop()

    streamed = {
        (r["conv_id"], r["bucket_start"]): r
        for r in spark.read.parquet(flags).collect()
    }
    # batch expectation over exactly the finalized buckets
    batch_tiers = rollup_points(
        transcripts_latency(_mk_turns(spark, f1 + f2 + flush)), "1m"
    )
    finalized = spark.read.parquet(tiers).select(
        "conv_id", "bucket_start"
    )
    expect = {
        (r["conv_id"], r["bucket_start"]): r
        for r in rolling_stats(
            batch_tiers.join(finalized, ["conv_id", "bucket_start"]),
            value_col="mean", k=3,
        )
        .withColumn(
            "pred", F.when(F.col("residual") > F.lit(15.0), 1).otherwise(0)
        )
        .collect()
    }
    assert streamed.keys() == expect.keys() and len(streamed) >= 6
    # the stall bucket itself must have finalized end-to-end
    assert ("a", dt.datetime(2024, 1, 1, 0, 3)) in streamed
    for key, e in expect.items():
        s = streamed[key]
        for col, bcol in (("mean_v", "mean"), ("rolling_mean", None),
                          ("rolling_std", None), ("residual", None)):
            ev = e[bcol or col]
            if ev is None:
                assert s[col] is None, (key, col)
            else:
                assert s[col] is not None and abs(s[col] - ev) < 1e-9, (
                    key, col, s[col], ev,
                )
        assert s["pred"] == e["pred"], (key, s["pred"], e["pred"])
    # the engineered stall must surface as a flagged anomaly
    assert any(r["pred"] == 1 for r in streamed.values())


def test_stream_latency_out_of_order_never_regresses_state(spark, tmp_path):
    """A micro-batch whose first rows are STALE (turn_idx <= last
    accepted turn) must emit NULL latency for every stale row, measure
    the first fresh row against the last ACCEPTED turn (not the stale
    in-batch predecessor), and never move state backwards."""
    import datetime as dt

    from yahoo_anomaly_detection_spark.streaming.latency_stream import (
        stream_latency,
    )

    def mk(rows):
        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(c, i, "user", "t", None, base + dt.timedelta(seconds=s))
             for c, i, s in rows],
            TRANSCRIPTS_DDL,
        )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    # batch 1: turns 4,5 accepted (state -> turn 5 @ 00:00:50)
    mk([("a", 4, 40), ("a", 5, 50)]).coalesce(1) \
        .write.mode("append").parquet(src)
    q = start_to_parquet(
        stream_latency(read_parquet_stream(spark, src, TRANSCRIPTS_DDL)),
        out, str(tmp_path / "ck"),
        trigger_secs=0,
    )
    try:
        q.processAllAvailable()
        # batch 2: turns 3,4 stale (duplicate/late), turn 6 fresh
        mk([("a", 3, 30), ("a", 4, 41), ("a", 6, 62)]).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        # batch 3: ALL stale -> state must not have regressed; turn 7
        # then measures against turn 6, not any stale row
        mk([("a", 2, 20)]).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        mk([("a", 7, 70)]).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    base = dt.datetime(2024, 1, 1)
    got = {
        (int((r["ts"] - base).total_seconds()),
         round(r["value"], 3) if r["value"] is not None else None)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (40, None),        # first seen turn
        (50, 10.0),        # 5 after 4
        (30, None), (41, None),  # stale rows -> NULL, never revised
        (62, 12.0),        # turn 6 vs ACCEPTED turn 5 @ 50 (not stale 4 @ 41)
        (20, None),        # all-stale batch
        (70, 8.0),         # turn 7 vs turn 6 @ 62 -> state never regressed
    }, got


def test_stream_flags_state_ttl_evicts_window(spark, tmp_path):
    """Flags-hop TTL: after eviction, a conversation's trailing-k
    window restarts empty — the returning row gets NULL rolling stats
    (no history), not stats computed against pre-eviction values.
    Same noDataMicroBatches workaround as the latency TTL test."""
    import time as _time

    from yahoo_anomaly_detection_spark.streaming.flags_stream import (
        stream_rolling_flags,
    )

    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    src = str(tmp_path / "fsrc2")
    out = str(tmp_path / "fout2")
    ckpt = str(tmp_path / "fckpt2")
    os.makedirs(src)
    _mk_tier_rows(spark, [("a", 0, 10.0), ("a", 1, 12.0)]).coalesce(1) \
        .write.mode("append").parquet(src)
    tiers = read_parquet_stream(spark, src, TIERS_DDL,
                                max_files_per_trigger=1)
    q = start_to_parquet(
        stream_rolling_flags(tiers, threshold=4.0, k=3,
                             state_ttl_ms=500),
        out, ckpt,
    )
    try:
        q.processAllAvailable()
        _time.sleep(1.5)  # let a's window state lapse
        _mk_tier_rows(spark, [("b", 2, 5.0)]).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()  # unrelated batch fires the timeout
        _mk_tier_rows(spark, [("a", 9, 50.0)]).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true"
        )
    rows = {
        (r["conv_id"], r["bucket_start"].minute): r
        for r in spark.read.parquet(out).collect()
    }
    r = rows[("a", 9)]
    # fresh series: no window history -> NULL stats, unflagged
    assert r["rolling_mean"] is None and r["residual"] is None
    assert r["pred"] == 0
    # pre-eviction rows were emitted normally
    assert abs(rows[("a", 1)]["rolling_mean"] - 10.0) < 1e-9


def test_streaming_topology_crash_and_resume(spark, tmp_path):
    """Kill the whole 3-hop topology mid-stream — with the hops at
    DIFFERENT progress points (hop 2/3 stopped first, hop 1 kept
    processing, so the downstream checkpoints lag upstream sinks) —
    then restart every hop from its checkpoint and feed the rest of
    the data. The final flags sink must equal the uninterrupted batch
    pipeline on every finalized bucket, with no duplicate rows
    (exactly-once resume of the chained topology)."""
    import datetime as dt

    from yahoo_anomaly_detection_spark.operators.rollup import (
        rollup_points,
        transcripts_latency,
    )
    from yahoo_anomaly_detection_spark.operators.stats import rolling_stats
    from yahoo_anomaly_detection_spark.streaming.latency_stream import (
        stream_latency,
    )
    from yahoo_anomaly_detection_spark.streaming.flags_stream import (
        stream_rolling_flags,
    )

    f1 = [("a", 0, 0, 10), ("a", 1, 0, 30), ("a", 2, 0, 50),
          ("a", 3, 1, 10), ("a", 4, 1, 30), ("b", 0, 0, 5),
          ("b", 1, 0, 35), ("b", 2, 1, 5)]
    f2 = [("a", 5, 1, 50), ("a", 6, 3, 30), ("a", 7, 3, 50),
          ("b", 3, 1, 35), ("b", 4, 2, 5), ("b", 5, 2, 35)]
    flush = [("a", 8, 30, 0), ("b", 6, 30, 0)]
    flush2 = [("a", 9, 31, 0), ("b", 7, 31, 0)]

    src = str(tmp_path / "t_src")
    pts = str(tmp_path / "points")
    tiers = str(tmp_path / "tiers")
    flags = str(tmp_path / "flags")
    os.makedirs(src)

    def start_q1():
        return start_to_parquet(
            stream_latency(read_parquet_stream(spark, src, TRANSCRIPTS_DDL)),
            pts, str(tmp_path / "ck1"),
            trigger_secs=0,
        )

    def start_q2():
        return start_to_parquet(
            stream_rollup_1m(
                read_parquet_stream(spark, pts, POINTS_DDL), "2 minutes"
            ),
            tiers, str(tmp_path / "ck2"),
            trigger_secs=0,
        )

    def start_q3():
        tier_stream = read_parquet_stream(spark, tiers, TIERS_DDL)
        return start_to_parquet(
            stream_rolling_flags(tier_stream, threshold=15.0, k=3),
            flags, str(tmp_path / "ck3"),
            trigger_secs=0,
        )

    # ---- phase 1: process f1 through all hops, then crash the
    # topology unevenly: downstream hops die first, hop 1 keeps
    # running long enough to ingest f2 (its sink now LEADS the
    # downstream checkpoints), then dies too
    _mk_turns(spark, f1).coalesce(1).write.mode("append").parquet(src)
    q1 = start_q1()
    q1.processAllAvailable()
    q2 = start_q2()
    q2.processAllAvailable()
    q3 = start_q3()
    q3.processAllAvailable()
    q3.stop()
    q2.stop()
    _mk_turns(spark, f2).coalesce(1).write.mode("append").parquet(src)
    q1.processAllAvailable()
    q1.stop()

    # ---- phase 2: restart every hop from its checkpoint; feed the
    # flush batches; run the chain to quiescence
    q1 = start_q1()
    q2 = start_q2()
    q3 = start_q3()
    try:
        for batch in (flush, flush2):
            q3.processAllAvailable()
            _mk_turns(spark, batch).coalesce(1).write.mode("append") \
                .parquet(src)
            q1.processAllAvailable()
            q2.processAllAvailable()
        q1.processAllAvailable()
        q2.processAllAvailable()
        q3.processAllAvailable()
    finally:
        q1.stop(); q2.stop(); q3.stop()

    flag_rows = spark.read.parquet(flags).collect()
    streamed = {
        (r["conv_id"], r["bucket_start"]): r for r in flag_rows
    }
    # exactly-once: no key appears twice in any sink after the resume
    assert len(flag_rows) == len(streamed)
    tier_rows = spark.read.parquet(tiers).select(
        "conv_id", "bucket_start"
    ).collect()
    assert len(tier_rows) == len(set(
        (r["conv_id"], r["bucket_start"]) for r in tier_rows
    ))

    batch_tiers = rollup_points(
        transcripts_latency(_mk_turns(spark, f1 + f2 + flush)), "1m"
    )
    finalized = spark.read.parquet(tiers).select(
        "conv_id", "bucket_start"
    )
    expect = {
        (r["conv_id"], r["bucket_start"]): r
        for r in rolling_stats(
            batch_tiers.join(finalized, ["conv_id", "bucket_start"]),
            value_col="mean", k=3,
        )
        .withColumn(
            "pred", F.when(F.col("residual") > F.lit(15.0), 1).otherwise(0)
        )
        .collect()
    }
    assert streamed.keys() == expect.keys() and len(streamed) >= 6
    # the f2 data ingested between the downstream crash and the hop-1
    # crash must have flowed through after resume (minute-3 stall
    # bucket finalized end-to-end, flagged as an anomaly)
    assert ("a", dt.datetime(2024, 1, 1, 0, 3)) in streamed
    for key, e in expect.items():
        s = streamed[key]
        for col, bcol in (("mean_v", "mean"), ("rolling_mean", None),
                          ("rolling_std", None), ("residual", None)):
            ev = e[bcol or col]
            if ev is None:
                assert s[col] is None, (key, col)
            else:
                assert s[col] is not None and abs(s[col] - ev) < 1e-9, (
                    key, col, s[col], ev,
                )
        assert s["pred"] == e["pred"], (key, s["pred"], e["pred"])
    assert any(r["pred"] == 1 for r in streamed.values())


def test_stream_rollup_cascade_matches_batch(spark, tmp_path):
    """Streaming 1m → 1h recombination (stream_rollup_cascade) over
    the 1m sink must equal batch rollup_cascade on every finalized
    hour — the continuous-aggregate tier chain running fully in
    streaming mode. Exactness holds because the cascade consumes only
    FINALIZED 1m rows and sums the decomposed tier state."""
    from yahoo_anomaly_detection_spark.streaming.rollup_stream import (
        stream_rollup_cascade,
    )

    src = str(tmp_path / "c_src")
    t1m = str(tmp_path / "c_t1m")
    t1h = str(tmp_path / "c_t1h")
    os.makedirs(src)

    def mk(rows):
        # rows: (conv, hour, minute, value)
        return spark.createDataFrame(
            [(c, f"2024-01-01 {h:02d}:{m:02d}:00", v)
             for c, h, m, v in rows],
            "conv_id string, ts string, value double",
        ).select("conv_id", F.col("ts").cast("timestamp").alias("ts"),
                 "value")

    f1 = [("a", 0, 0, 10.0), ("a", 0, 0, 14.0), ("a", 0, 30, 20.0),
          ("b", 0, 45, 5.0)]
    f2 = [("a", 1, 5, 30.0), ("a", 1, 35, 40.0), ("b", 1, 10, 7.0),
          ("b", 1, 50, None)]
    # flushes advance 1m finalization (hr 5), then the cascade's
    # watermark (hr 6), then give the cascade the data batch that
    # actually emits (hr 7) — no-data micro-batches are disabled
    # session-wide (Spark 4.1 state-NPE workaround)
    flushes = ([("a", 5, 0, 0.0)], [("a", 6, 0, 0.0)],
               [("a", 7, 0, 0.0)])

    mk(f1).coalesce(1).write.mode("append").parquet(src)
    q1 = start_to_parquet(
        stream_rollup_1m(
            read_parquet_stream(spark, src, POINTS_DDL), "10 minutes"
        ),
        t1m, str(tmp_path / "c_ck1"),
        trigger_secs=0,
    )
    q1.processAllAvailable()
    q2 = start_to_parquet(
        stream_rollup_cascade(read_parquet_stream(spark, t1m, TIERS_DDL), "1h",
                              "2 hours"),
        t1h, str(tmp_path / "c_ck2"),
        trigger_secs=0,
    )
    try:
        for batch in (f2,) + flushes:
            q2.processAllAvailable()
            mk(batch).coalesce(1).write.mode("append").parquet(src)
            q1.processAllAvailable()
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop(); q2.stop()

    got = {
        (r["conv_id"], r["bucket_start"]): r
        for r in spark.read.parquet(t1h).collect()
    }
    # hours 0 and 1 must have finalized for both convs
    import datetime as dt

    assert set(got) == {
        ("a", dt.datetime(2024, 1, 1, 0)), ("a", dt.datetime(2024, 1, 1, 1)),
        ("b", dt.datetime(2024, 1, 1, 0)), ("b", dt.datetime(2024, 1, 1, 1)),
    }, set(got)
    expect = {
        (r["conv_id"], r["bucket_start"]): r
        for r in rollup_cascade(spark.read.parquet(t1m), "1h").collect()
        if r["bucket_start"].hour in (0, 1)
    }
    assert got.keys() == expect.keys()
    for key, e in expect.items():
        g = got[key]
        for col in ("cnt", "vcnt", "sum", "sum_sq", "min", "max",
                    "mean", "std", "turn_rate"):
            ev, gv = e[col], g[col]
            if ev is None:
                assert gv is None, (key, col)
            else:
                assert gv is not None and abs(gv - ev) < 1e-9, (
                    key, col, gv, ev,
                )


def test_stream_full_tier_chain_1m_1h_1d(spark, tmp_path):
    """Complete continuous-aggregate tier chain fully in streaming
    mode: points → 1m (watermarked rollup) → 1h (streaming cascade)
    → 1d (streaming cascade). The finalized daily bucket must equal
    the batch rollup_cascade of the 1h sink — i.e. tier recombination
    is exact through TWO chained streaming hops. Flushes are spaced
    3 h apart so each generation advances one hop's watermark and
    provides the next data batch (no-data micro-batches are disabled
    session-wide)."""
    import datetime as dt

    from yahoo_anomaly_detection_spark.streaming.rollup_stream import (
        stream_rollup_cascade,
    )

    src = str(tmp_path / "d_src")
    t1m = str(tmp_path / "d_t1m")
    t1h = str(tmp_path / "d_t1h")
    t1d = str(tmp_path / "d_t1d")
    os.makedirs(src)

    def mk(rows):
        # rows: (conv, day, hour, minute, value)
        return spark.createDataFrame(
            [(c, f"2024-01-{d:02d} {h:02d}:{m:02d}:00", v)
             for c, d, h, m, v in rows],
            "conv_id string, ts string, value double",
        ).select("conv_id", F.col("ts").cast("timestamp").alias("ts"),
                 "value")

    data = [("a", 1, 0, 0, 10.0), ("a", 1, 0, 30, 20.0),
            ("a", 1, 1, 5, 30.0), ("b", 1, 0, 45, 5.0),
            ("b", 1, 2, 10, 7.0)]
    flushes = [[("a", d, h, 0, 0.0)]
               for d, h in ((1, 5), (1, 8), (1, 11), (1, 14),
                            (2, 6), (2, 9), (2, 12), (2, 15),
                            (2, 18), (2, 21))]

    mk(data).coalesce(1).write.mode("append").parquet(src)
    q1 = start_to_parquet(
        stream_rollup_1m(
            read_parquet_stream(spark, src, POINTS_DDL), "10 minutes"
        ),
        t1m, str(tmp_path / "d_ck1"),
        trigger_secs=0,
    )
    q1.processAllAvailable()
    q2 = start_to_parquet(
        stream_rollup_cascade(read_parquet_stream(spark, t1m, TIERS_DDL), "1h",
                              "2 hours"),
        t1h, str(tmp_path / "d_ck2"),
        trigger_secs=0,
    )
    q2.processAllAvailable()
    q3 = start_to_parquet(
        stream_rollup_cascade(read_parquet_stream(spark, t1h, TIERS_DDL), "1d",
                              "2 hours"),
        t1d, str(tmp_path / "d_ck3"),
        trigger_secs=0,
    )
    try:
        for batch in flushes:
            q3.processAllAvailable()
            mk(batch).coalesce(1).write.mode("append").parquet(src)
            q1.processAllAvailable()
            q2.processAllAvailable()
        q1.processAllAvailable()
        q2.processAllAvailable()
        q3.processAllAvailable()
    finally:
        q1.stop(); q2.stop(); q3.stop()

    got = {
        (r["conv_id"], r["bucket_start"]): r
        for r in spark.read.parquet(t1d).collect()
    }
    jan1 = dt.datetime(2024, 1, 1)
    assert ("a", jan1) in got and ("b", jan1) in got, set(got)
    expect = {
        (r["conv_id"], r["bucket_start"]): r
        for r in rollup_cascade(spark.read.parquet(t1h), "1d").collect()
        if r["bucket_start"] == jan1
    }
    for key, e in expect.items():
        g = got[key]
        for col in ("cnt", "vcnt", "sum", "sum_sq", "min", "max",
                    "mean", "std", "turn_rate"):
            assert abs(g[col] - e[col]) < 1e-9, (key, col, g[col], e[col])
    # the day bucket aggregates BOTH real hours and the day-1 flushes
    # that finalized into the 1h sink — cross-check conv a's count
    # against the 1h sink directly
    n_1h = spark.read.parquet(t1h).where(
        (F.col("conv_id") == "a")
        & (F.col("bucket_start") >= "2024-01-01")
        & (F.col("bucket_start") < "2024-01-02")
    ).agg(F.sum("cnt")).first()[0]
    assert got[("a", jan1)]["cnt"] == n_1h


def test_run_lengths_matches_naive_walk():
    # property: vectorized reset-on-zero run positions == python walk,
    # including the cross-batch carry-in
    import numpy as np

    from yahoo_anomaly_detection_spark.streaming.alerts_stream import (
        run_lengths,
    )

    rng = np.random.default_rng(11)
    for _ in range(50):
        n = int(rng.integers(1, 60))
        b = rng.integers(0, 2, n)
        carry = int(rng.integers(0, 5))
        got = run_lengths(b, carry)
        run = carry
        for i in range(n):
            run = run + 1 if b[i] == 1 else 0
            want = run if b[i] == 1 else 0
            assert got[i] == want, (b.tolist(), carry, i)


def test_stream_alert_states_match_batch(spark, tmp_path):
    """Hop 4 (FOR-duration alert states via applyInPandasWithState)
    must equal the batch tsanalytics.alert_states (consecutive-samples
    mode) on the same in-order tier rows, INCLUDING breach runs that
    span micro-batches (the single-long state carries the open run)
    and NULL samples that reset the run."""
    from yahoo_anomaly_detection_spark.operators.tsanalytics import (
        alert_states,
    )
    from yahoo_anomaly_detection_spark.streaming.alerts_stream import (
        stream_alert_states,
    )

    thr, for_k = 10.0, 2
    f1 = [("a", 0, 15.0), ("a", 1, 20.0), ("b", 0, 5.0)]
    f2 = [("a", 2, 25.0), ("a", 3, None), ("b", 1, 12.0)]
    f3 = [("a", 4, 30.0), ("b", 2, 13.0)]

    src = str(tmp_path / "asrc")
    out = str(tmp_path / "aout")
    ckpt = str(tmp_path / "ackpt")
    os.makedirs(src)
    _mk_tier_rows(spark, f1).coalesce(1).write.mode("append").parquet(src)
    tiers = read_parquet_stream(spark, src, TIERS_DDL,
                                max_files_per_trigger=1)
    q = start_to_parquet(
        stream_alert_states(tiers, threshold=thr, for_k=for_k), out, ckpt,
        trigger_secs=0
    )
    try:
        q.processAllAvailable()
        _mk_tier_rows(spark, f2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        _mk_tier_rows(spark, f3).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    batch = {
        (r["conv_id"], r["bucket_start"]):
            (r["breach"], r["run_pos"], r["state"])
        for r in alert_states(
            _mk_tier_rows(spark, f1 + f2 + f3).withColumnRenamed(
                "mean", "mean_v"),
            "mean_v", threshold=thr, for_k=for_k,
        ).collect()
    }
    streamed = {
        (r["conv_id"], r["bucket_start"]):
            (r["breach"], r["run_pos"], r["state"])
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == batch

    # the carry really exercised: a@00:02 arrives in file 2 but is
    # run_pos 3 / firing (run opened in file 1); b@00:02 (file 3)
    # fires only because file 2 left run_len=1 behind
    import datetime as dt

    assert streamed[("a", dt.datetime(2024, 1, 1, 0, 2))] == (
        1, 3, "firing")
    assert streamed[("a", dt.datetime(2024, 1, 1, 0, 3))] == (0, 0, "ok")
    assert streamed[("b", dt.datetime(2024, 1, 1, 0, 2))] == (
        1, 2, "firing")


def test_stream_absence_alerts_fire_and_rearm(spark, tmp_path):
    """Hop 5 (event-time-timeout absence channel): a conversation
    that stops producing buckets fires ONE alert when the watermark
    passes its k-th empty bucket, re-arms after it returns, and fires
    again on the next silence; a steadily-reporting conversation
    never fires. The alert instant coheres with the batch operator:
    alert_at == (first absent-flagged bucket of absent_flags) + 60 s."""
    from yahoo_anomaly_detection_spark import caching
    from yahoo_anomaly_detection_spark.operators.tsanalytics import (
        absent_flags,
    )
    from yahoo_anomaly_detection_spark.streaming.absence_stream import (
        stream_absence_alerts,
    )

    feeds = [
        # batch 1: both report 00:00–00:02 → wm 00:02 after
        [("a", 0, 1.0), ("a", 1, 1.0), ("a", 2, 1.0),
         ("b", 0, 1.0), ("b", 1, 1.0), ("b", 2, 1.0),
         ("c", 0, 1.0)],
        # batch 2: only b; a's deadline (00:06) still > wm(00:02).
        # c recovers at 00:10 after a 9-bucket silence the watermark
        # never reached — the retroactive channel must catch it
        [("b", m, 1.0) for m in range(3, 11)] + [("c", 10, 1.0)],
        # batch 3: wm now 00:10 > 00:06 → a fires
        [("b", 11, 1.0)],
        # batch 4: a returns (re-arms, deadline 00:16)
        [("a", 12, 1.0)],
        # batch 5: wm advances to 00:20
        [("b", 20, 1.0)],
        # batch 6: wm 00:20 > 00:16 → a fires again
        [("b", 21, 1.0)],
    ]
    src = str(tmp_path / "absrc")
    out = str(tmp_path / "about")
    ckpt = str(tmp_path / "abckpt")
    os.makedirs(src)
    _mk_tier_rows(spark, feeds[0]).coalesce(1).write.mode(
        "append").parquet(src)
    tiers = read_parquet_stream(spark, src, TIERS_DDL,
                                max_files_per_trigger=1)
    q = start_to_parquet(
        stream_absence_alerts(tiers, k=3, bucket_seconds=60,
                              watermark_delay="0 seconds"),
        out, ckpt,
        trigger_secs=0,
    )
    try:
        q.processAllAvailable()
        for feed in feeds[1:]:
            _mk_tier_rows(spark, feed).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(
        spark.read.parquet(out).collect(),
        key=lambda r: (r["conv_id"], r["silent_since"]),
    )
    got = [(r["conv_id"], str(r["silent_since"]), str(r["alert_at"]),
            r["missed_buckets"]) for r in rows]
    assert got == [
        # a: open silence fired by timeout (k reported), then re-arm
        # after recovery and a second timeout fire
        ("a", "2024-01-01 00:03:00", "2024-01-01 00:06:00", 3),
        ("a", "2024-01-01 00:13:00", "2024-01-01 00:16:00", 3),
        # b: 8-bucket silence CLOSED by its own 00:20 recovery before
        # the watermark reached 00:15 — retroactive channel, actual
        # count reported
        ("b", "2024-01-01 00:12:00", "2024-01-01 00:15:00", 8),
        # c: 9-bucket silence closed by the 00:10 recovery
        # (retroactive), then never reports again (timeout, k)
        ("c", "2024-01-01 00:01:00", "2024-01-01 00:04:00", 9),
        ("c", "2024-01-01 00:11:00", "2024-01-01 00:14:00", 3),
    ]

    # batch coherence: over a's observed buckets the FIRST bucket
    # absent_flags flags (k=3) is 00:05 — the streaming alert fires
    # exactly when that bucket closes (00:06)
    obs = _mk_tier_rows(
        spark, [("a", m, 1.0) for m in (0, 1, 2, 12)]
    ).select("conv_id", "bucket_start")
    with caching.scope():
        first_flagged = (
            absent_flags(obs, k=3)
            .where(F.col("absent") == 1)
            .agg(F.min("bucket_start"))
            .first()[0]
        )
    assert str(first_flagged) == "2024-01-01 00:05:00"


def test_stream_absence_single_batch_interior_gaps(spark, tmp_path):
    """Two >= k-bucket holes INSIDE one micro-batch's data: the
    retroactive channel emits both alerts immediately — no watermark
    movement required (it is the timeout channel that needs one)."""
    from yahoo_anomaly_detection_spark.streaming.absence_stream import (
        stream_absence_alerts,
    )

    src = str(tmp_path / "absrc1")
    out = str(tmp_path / "about1")
    ckpt = str(tmp_path / "abckpt1")
    os.makedirs(src)
    _mk_tier_rows(
        spark, [("d", 0, 1.0), ("d", 10, 1.0), ("d", 20, 1.0)]
    ).coalesce(1).write.mode("append").parquet(src)
    tiers = read_parquet_stream(spark, src, TIERS_DDL,
                                max_files_per_trigger=1)
    q = start_to_parquet(
        stream_absence_alerts(tiers, k=3, bucket_seconds=60,
                              watermark_delay="0 seconds"),
        out, ckpt,
        trigger_secs=0,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["conv_id"], str(r["silent_since"]), str(r["alert_at"]),
         r["missed_buckets"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("d", "2024-01-01 00:01:00", "2024-01-01 00:04:00", 9),
        ("d", "2024-01-01 00:11:00", "2024-01-01 00:14:00", 9),
    ]


# ------------------------------------------------ ingest dedup (hop 0)
def test_stream_dedup_collapses_redeliveries(spark, tmp_path):
    """At-least-once source → exactly-once relation: duplicates inside
    one micro-batch AND redeliveries across micro-batches (within the
    watermark) collapse to one row; chained through the 1m rollup, the
    finalized buckets equal the batch rollup of the DEDUPED input —
    counting any copy twice would show up in cnt/sum."""
    from yahoo_anomaly_detection_spark.streaming.dedup_stream import (
        stream_dedup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    ddl = "event_id long, conv_id string, ts timestamp, value double"

    def mk(rows):
        return spark.createDataFrame(
            [(i, c, f"2024-01-01 00:{m:02d}:{s:02d}", v)
             for i, c, m, s, v in rows],
            "event_id long, conv_id string, ts string, value double",
        ).select("event_id", "conv_id",
                 F.col("ts").cast("timestamp").alias("ts"), "value")

    # batch 1: e1 delivered twice IN the same file
    b1 = [(0, "a", 0, 1, 10.0), (1, "a", 0, 30, 20.0),
          (1, "a", 0, 30, 20.0), (2, "b", 1, 5, 5.0)]
    # batch 2: e0 and e2 redelivered across the micro-batch boundary,
    # plus one genuinely new event
    b2 = [(0, "a", 0, 1, 10.0), (2, "b", 1, 5, 5.0),
          (3, "a", 1, 40, 30.0)]
    # batch 3: advance the watermark far enough to finalize everything
    b3 = [(9, "a", 30, 0, 1.0), (10, "b", 31, 0, 2.0)]

    deduped = stream_dedup(
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1)
        .parquet(src),
        key_cols=("event_id",), watermark="10 minutes",
    )
    tiers = stream_rollup_1m(
        deduped.select("conv_id", "ts", "value"), set_watermark=False)
    mk(b1).coalesce(1).write.mode("append").parquet(src)
    q = start_to_parquet(tiers, out, ckpt, trigger_secs=0)
    try:
        q.processAllAvailable()
        mk(b2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        mk(b3).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out)
    clean = mk([(0, "a", 0, 1, 10.0), (1, "a", 0, 30, 20.0),
                (2, "b", 1, 5, 5.0), (3, "a", 1, 40, 30.0)])
    batch = rollup_points(clean.select("conv_id", "ts", "value"), "1m")
    j = batch.alias("b").join(got.alias("s"),
                              ["conv_id", "bucket_start"], "inner")
    rows = j.select("conv_id", "bucket_start",
                    F.col("b.cnt").alias("bc"), F.col("s.cnt").alias("sc"),
                    F.col("b.sum").alias("bsum"),
                    F.col("s.sum").alias("ssum")).collect()
    # every early bucket finalized and exactly-once: a double-counted
    # e1 would make cnt 3 / sum 30 in a's 00:00 bucket
    assert len(rows) == 3
    for r in rows:
        assert r["sc"] == r["bc"], r
        assert abs(r["ssum"] - r["bsum"]) < 1e-12, r
    with pytest.raises(ValueError, match="key_cols"):
        stream_dedup(spark.readStream.schema(ddl).parquet(src),
                     key_cols=())


# ------------------------------------------------- streaming HLL
def _mk_events(spark, rows):
    """rows: (event_id, minute, user_id, event_type)."""
    return spark.createDataFrame(
        [(e, f"2024-01-01 00:{m:02d}:00", u, t, 1.0)
         for e, m, u, t in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value")


def test_stream_hll_matches_batch_estimate(spark, tmp_path):
    """The journal's final entry per (key, day) must equal the BATCH
    HLL estimate on the same data exactly — including across
    micro-batches with overlapping user sets (register merge is
    idempotent/commutative)."""
    from yahoo_anomaly_detection_spark.operators.sketches import (
        hll_distinct,
    )
    from yahoo_anomaly_detection_spark.streaming.sketch_stream import (
        stream_hll_distinct,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    batch1 = [(i, i % 50, i * 13 % 400, "a") for i in range(300)] + \
             [(1000 + i, i % 50, i * 7 % 90, "b") for i in range(200)]
    # second batch re-delivers half of batch1's users + new ones
    batch2 = [(2000 + i, i % 50, i * 13 % 400, "a")
              for i in range(150)] + \
             [(3000 + i, i % 50, 500 + i, "a") for i in range(80)]

    _mk_events(spark, batch1).coalesce(1).write.mode("append") \
        .parquet(src)
    stream = stream_hll_distinct(
        read_parquet_stream(spark, src, EVENTS_DDL), p=8)
    q = start_to_parquet(stream, out, ckpt, trigger_secs=0)
    try:
        q.processAllAvailable()
        _mk_events(spark, batch2).coalesce(1).write.mode("append") \
            .parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    journal = spark.read.parquet(out)
    # journal grows monotonically: 'a' saw two batches
    seqs = {r.event_type: r.mx for r in
            journal.groupBy("event_type")
            .agg(F.max("upd_seq").alias("mx")).collect()}
    assert seqs["a"] == 2 and seqs["b"] == 1
    live = (journal.withColumn(
        "rn", F.row_number().over(
            __import__("pyspark").sql.Window
            .partitionBy("event_type", "bucket_start")
            .orderBy(F.desc("upd_seq"))))
        .where("rn = 1").select("event_type", "bucket_start", "est"))
    all_events = _mk_events(spark, batch1 + batch2)
    want = {}
    for t in ("a", "b"):
        for r in hll_distinct(all_events.where(F.col("event_type") == t),
                              p=8).collect():
            want[(t, r.bucket_start)] = r.est
    got = {(r.event_type, r.bucket_start): r.est for r in live.collect()}
    assert got == want
    assert len(got) == 2  # one day per type


# ------------------------------------------------- streaming sessions
def test_stream_sessions_match_batch_sessionize(spark, tmp_path):
    """Closed streaming session windows must equal the batch
    session_stats rows (count, sum, event-span duration) for every
    session the watermark has closed — including a session whose
    events SPAN two micro-batches."""
    from yahoo_anomaly_detection_spark.operators.sessions import (
        session_stats,
    )
    from yahoo_anomaly_detection_spark.streaming.session_stream import (
        stream_sessions,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    GAP = 60  # seconds; gaps below are well off the boundary

    # user 1: two sessions; user 2: one session crossing the batch cut
    batch1 = [(0, 0, 1, 10.0), (1, 20, 1, 20.0),   # u1 s0
              (2, 300, 1, 5.0),                    # u1 s1 (gap 280)
              (3, 290, 2, 7.0)]                    # u2 s0 begins
    batch2 = [(4, 310, 2, 8.0),                    # u2 s0 continues
              (5, 7200, 9, 1.0)]                   # far-future flush
    def mk2(rows):
        import datetime as _dt
        t0 = _dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(e, t0 + _dt.timedelta(seconds=s), u, "t", v)
             for e, s, u, v in rows],
            "event_id long, ts timestamp, user_id long, event_type "
            "string, value double")

    mk2(batch1).coalesce(1).write.mode("append").parquet(src)
    stream = stream_sessions(read_parquet_stream(spark, src, EVENTS_DDL),
                             gap_seconds=GAP, watermark="5 minutes")
    q = start_to_parquet(stream, out, ckpt, trigger_secs=0)
    try:
        q.processAllAvailable()
        mk2(batch2).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r.user_id, str(r.session_start)):
           (r.n_events, round(r.sum_value, 4),
            (r.session_end - r.session_start).total_seconds() - GAP)
           for r in spark.read.parquet(out).collect()}
    # batch truth on the closed part (users 1 and 2)
    batch = mk2(batch1 + batch2[:1])
    want = {}
    tagged = session_stats(batch, gap_seconds=GAP)
    starts = {  # session start per (user, session_id) from raw rows
        (1, 0): "2024-01-01 00:00:00", (1, 1): "2024-01-01 00:05:00",
        (2, 0): "2024-01-01 00:04:50"}
    for r in tagged.collect():
        key = (r.user_id, starts[(r.user_id, r.session_id)])
        want[key] = (r.n_events, round(r.sum_value, 4), r.duration_s)
    assert got.items() >= want.items(), (got, want)
    # u2's cross-batch session is ONE row with both events
    assert got[(2, "2024-01-01 00:04:50")][0] == 2


# ---------------------------------------------------- drift (hop 9)
def _mk_drift_tier_rows(spark, rows):
    """rows: (conv_id, day, minute, mean_v) -> finalized-tier frame."""
    base = 1717200000  # 2024-06-01 00:00 UTC, day-aligned
    return spark.createDataFrame(
        [(c, base + d * 86400 + m * 60, v) for c, d, m, v in rows],
        "conv_id string, epoch long, mean_v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
        "mean_v",
    )


def test_stream_drift_matches_batch_on_closed_days(spark, tmp_path):
    """Hop 9 parity: per-conversation daily W1 drift emitted by the
    stream must equal operators.statstests.wasserstein_drift on the
    same rows, restricted to CLOSED days; and a restart from the
    checkpoint continues the day/prev-day chain, never re-emitting."""
    from yahoo_anomaly_detection_spark.operators import statstests
    from yahoo_anomaly_detection_spark.streaming.drift_stream import (
        stream_drift_1d,
    )

    src = str(tmp_path / "tier_src")
    out = str(tmp_path / "drift_out")
    ckpt = str(tmp_path / "drift_ckpt")
    os.makedirs(src)

    # conv a: day0 low values, day1 high, day2 mixed, day3 low
    # conv b: identical day0/day1 (zero drift), day2 shifted
    batch1 = [
        ("a", 0, 0, 7.0), ("a", 0, 1, 8.0), ("a", 0, 2, 7.5),
        ("b", 0, 0, 30.0), ("b", 0, 5, 30.0),
        ("a", 1, 0, 300.0), ("a", 1, 3, 450.0),
        ("b", 1, 0, 30.0), ("b", 1, 9, 30.0),
        ("a", 2, 0, 7.0), ("a", 2, 1, 120.0),
    ]
    batch2 = [
        ("b", 2, 0, 90.0), ("b", 2, 2, 2.0),
        ("a", 3, 0, 6.0), ("a", 3, 5, 3.0),
        # day-4 sentinels close day 3 (a) and day 2 (b)
        ("a", 4, 0, 1.0), ("b", 4, 0, 1.0),
    ]

    schema = "conv_id string, bucket_start timestamp, mean_v double"
    _mk_drift_tier_rows(spark, batch1).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = stream_drift_1d(
        spark.readStream.schema(schema).parquet(src))
    q = start_to_parquet(stream, out, ckpt, trigger_secs=0)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # restart from the same checkpoint with more data
    _mk_drift_tier_rows(spark, batch2).coalesce(1) \
        .write.mode("append").parquet(src)
    stream2 = stream_drift_1d(
        spark.readStream.schema(schema).parquet(src))
    q2 = start_to_parquet(stream2, out, ckpt, trigger_secs=0)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {(r.conv_id, str(r.day)):
           (str(r.prev_day) if r.prev_day else None, r.w1)
           for r in spark.read.parquet(out).collect()}
    # batch reference over ALL rows, restricted to closed days
    all_rows = _mk_drift_tier_rows(spark, batch1 + batch2)
    ref = statstests.wasserstein_drift(
        all_rows, key="conv_id", ts_col="bucket_start",
        value_col="mean_v")
    want = {(r.conv_id, str(r.day)):
            (str(r.prev_day) if r.prev_day else None, r.w1)
            for r in ref.collect()
            if str(r.day) < "2024-06-05"}    # day 4 is still live
    from yahoo_anomaly_detection_spark import caching

    caching.release_all()
    assert got == want
    # each conversation's first closed day carries NULLs
    assert got[("a", "2024-06-01 00:00:00")] == (None, None)
    # identical day0/day1 distributions for b -> zero drift
    assert got[("b", "2024-06-02 00:00:00")][1] == 0.0
    # no duplicates across the restart
    assert len(got) == spark.read.parquet(out).count()


def test_stream_drift_requires_utc_session(spark):
    """stream_drift_1d's day keys are epoch-day arithmetic on
    session-zone pandas timestamps; the batch oracle buckets with
    session-tz date_trunc — non-UTC sessions must fail loudly (the
    rollup_stream guard), not silently diverge."""
    from yahoo_anomaly_detection_spark.streaming.drift_stream import (
        stream_drift_1d,
    )

    tiers = _mk_drift_tier_rows(spark, [("a", 0, 0, 1.0)])
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timeZone"):
            stream_drift_1d(tiers)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_stream_drift_drops_backwards_days(spark, tmp_path):
    """A micro-batch that violates the in-order contract by
    delivering a day EARLIER than the live day must be DROPPED, not
    merged into the older day's histogram — the closed-day chain
    must equal the batch walk over the in-order rows only."""
    from yahoo_anomaly_detection_spark.operators import statstests
    from yahoo_anomaly_detection_spark.streaming.drift_stream import (
        stream_drift_1d,
    )

    src = str(tmp_path / "tier_src")
    out = str(tmp_path / "drift_out")
    ckpt = str(tmp_path / "drift_ckpt")
    os.makedirs(src)
    schema = "conv_id string, bucket_start timestamp, mean_v double"

    batch1 = [
        ("a", 0, 0, 7.0), ("a", 0, 1, 8.0),
        ("a", 1, 0, 300.0), ("a", 1, 3, 450.0),
        ("a", 2, 0, 1.0),                      # live day 2
    ]
    late = [("a", 0, 7, 999.0)]                # contract violation
    batch2 = late + [("a", 3, 0, 2.0)]         # day-3 sentinel closes day 2

    _mk_drift_tier_rows(spark, batch1).coalesce(1) \
        .write.mode("append").parquet(src)
    q = start_to_parquet(
        stream_drift_1d(spark.readStream.schema(schema).parquet(src)),
        out, ckpt, trigger_secs=0)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _mk_drift_tier_rows(spark, batch2).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = start_to_parquet(
        stream_drift_1d(spark.readStream.schema(schema).parquet(src)),
        out, ckpt, trigger_secs=0)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {(r.conv_id, str(r.day)):
           (str(r.prev_day) if r.prev_day else None, r.w1)
           for r in spark.read.parquet(out).collect()}
    # reference: the batch walk over the IN-ORDER rows only — the
    # late day-0 row contributes nothing anywhere
    ref_rows = _mk_drift_tier_rows(spark, batch1 + batch2[1:])
    want = {(r.conv_id, str(r.day)):
            (str(r.prev_day) if r.prev_day else None, r.w1)
            for r in statstests.wasserstein_drift(
                ref_rows, key="conv_id", ts_col="bucket_start",
                value_col="mean_v").collect()
            if str(r.day) < "2024-06-04"}      # day 3 still live
    from yahoo_anomaly_detection_spark import caching

    caching.release_all()
    assert got == want
