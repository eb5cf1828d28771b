"""Gap-fill: grid completeness + linear interpolation oracle, and
parity with the skeleton-join form it replaced."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from conftest import count_exchanges, jobs_started
from yahoo_anomaly_detection_spark.operators.gapfill import (
    _run_explode,
    gapfill_linear,
)
from yahoo_anomaly_detection_spark.operators.rollup import TIER_SECONDS


def _tier_pdf():
    # conv a: buckets 0,1,4,5 (gap 2,3); conv b: 0,3 (gap 1,2); conv c: single
    t0 = pd.Timestamp("2025-01-01")

    def mk(conv, idxs, vals):
        return pd.DataFrame(
            {
                "conv_id": conv,
                "bucket_start": [t0 + pd.Timedelta(minutes=i) for i in idxs],
                "mean": vals,
            }
        )

    return pd.concat(
        [
            mk("a", [0, 1, 4, 5], [1.0, 2.0, 8.0, 10.0]),
            mk("b", [0, 3], [3.0, 9.0]),
            mk("c", [2], [7.0]),
        ],
        ignore_index=True,
    )


def test_skeleton_is_dense(spark):
    df = spark.createDataFrame(_tier_pdf())
    skel = _run_explode(df, 60, "conv_id", "bucket_start").toPandas()
    counts = skel.groupby("conv_id").size().to_dict()
    assert counts == {"a": 6, "b": 4, "c": 1}


def test_linear_interpolation_values(spark):
    df = spark.createDataFrame(_tier_pdf())
    got = (
        gapfill_linear(df, "1m", "mean")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    a = got[got.conv_id == "a"]["mean_filled"].to_numpy()
    # linear between (1,2.0) and (4,8.0): minutes 2,3 → 4.0, 6.0
    np.testing.assert_allclose(a, [1.0, 2.0, 4.0, 6.0, 8.0, 10.0])
    b = got[got.conv_id == "b"]["mean_filled"].to_numpy()
    np.testing.assert_allclose(b, [3.0, 5.0, 7.0, 9.0])
    flags = got.groupby("conv_id")["gap_filled"].sum().to_dict()
    assert flags == {"a": 2, "b": 2, "c": 0}
    # observed values pass through untouched
    obs = got[~got["gap_filled"]]
    np.testing.assert_allclose(obs["mean_filled"], obs["mean"])


def test_matches_pandas_interpolate(spark):
    rng = np.random.default_rng(3)
    t0 = pd.Timestamp("2025-01-01")
    idxs = np.sort(rng.choice(np.arange(200), size=60, replace=False))
    pdf = pd.DataFrame(
        {
            "conv_id": "x",
            "bucket_start": [t0 + pd.Timedelta(minutes=int(i)) for i in idxs],
            "mean": rng.normal(0, 5, len(idxs)),
        }
    )
    got = (
        gapfill_linear(spark.createDataFrame(pdf), "1m", "mean")
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    full = pd.Series(index=np.arange(idxs.min(), idxs.max() + 1), dtype=float)
    full.loc[idxs] = pdf["mean"].to_numpy()
    exp = full.interpolate(method="linear").to_numpy()
    np.testing.assert_allclose(got["mean_filled"].to_numpy(), exp, rtol=1e-12)


# ------------------------------------------- parity with the join form
def _gapfill_join(tier_df, tier="1m", value_col="mean", key="conv_id",
                  bucket_col="bucket_start"):
    """The skeleton-join form: min..max skeleton per key, left join of
    the observed rows, then two running windows over the skeleton."""
    step = F.expr(f"INTERVAL {TIER_SECONDS[tier]} SECONDS")
    skel = (
        tier_df.groupBy(key)
        .agg(F.min(bucket_col).alias("_b0"), F.max(bucket_col).alias("_b1"))
        .select(key, F.explode(F.sequence(F.col("_b0"), F.col("_b1"), step))
                .alias(bucket_col))
    )
    obs = tier_df.select(key, bucket_col, F.col(value_col).alias("_v"))
    joined = skel.join(obs, on=[key, bucket_col], how="left")
    t = F.unix_micros(F.col(bucket_col)).cast("double")
    w_prev = W.partitionBy(key).orderBy(bucket_col).rowsBetween(
        W.unboundedPreceding, 0)
    w_next = W.partitionBy(key).orderBy(F.desc(bucket_col)).rowsBetween(
        W.unboundedPreceding, 0)
    v = F.col("_v")
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_prev)
    next_v = F.last(v, ignorenulls=True).over(w_next)
    next_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_next)
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(prev_v.isNotNull() & next_v.isNotNull(),
               prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)))
    return joined.select(
        key, bucket_col, v.alias(value_col),
        interp.alias(f"{value_col}_filled"),
        (v.isNull() & interp.isNotNull()).alias("gap_filled"),
    )


def _rows(df):
    # sortable with NULL keys/values; floats compared bit-for-bit
    return sorted(tuple(r) for r in df.fillna(-1.0).fillna("<null>")
                  .collect())


def _parity_tier(spark, tier):
    """Per key: leading/interior/trailing NULL values, an all-NULL
    series, a single-row series and a NULL key, on ``tier`` buckets."""
    step = TIER_SECONDS[tier]
    t0 = 1_704_067_200
    series = {
        "lead": [(0, None), (1, None), (3, 4.0), (4, 5.0), (9, 1.5)],
        "inner": [(0, 1.0), (2, None), (3, None), (7, 8.0), (8, 2.0)],
        "trail": [(0, 2.0), (5, 7.0), (6, None), (9, None)],
        "allnull": [(1, None), (4, None), (5, None)],
        "single": [(3, 6.5)],
        "dense": [(i, float(i * i)) for i in range(6)],
        None: [(2, 1.0), (4, None), (7, 3.0)],
    }
    rows = [(k, t0 + i * step, v)
            for k, pts in series.items() for i, v in pts]
    return spark.createDataFrame(
        rows, "conv_id string, epoch long, mean double"
    ).select("conv_id",
             F.timestamp_seconds("epoch").alias("bucket_start"), "mean")


@pytest.mark.parametrize("tier", ["1h", "1d"])
def test_parity_with_join_form(spark, tier):
    df = _parity_tier(spark, tier)
    got, want = gapfill_linear(df, tier), _gapfill_join(df, tier)
    assert got.schema == want.schema
    got_rows = _rows(got)
    assert got_rows == _rows(want)
    # NULL key: every bucket emitted, never matched, never filled
    nulls = [r for r in got_rows if r[0] == "<null>"]
    assert len(nulls) == 6
    assert all(r[2] == -1.0 and r[3] == -1.0 and not r[4] for r in nulls)


def test_parity_random_series(spark):
    rng = np.random.default_rng(11)
    rows = []
    for c in range(12):
        idx = np.sort(rng.choice(300, size=int(rng.integers(1, 60)),
                                 replace=False))
        vals = rng.normal(0, 5, len(idx))
        vals[rng.random(len(idx)) < 0.2] = np.nan
        rows += [(f"c{c}", 1_704_067_200 + int(i) * 60,
                  None if np.isnan(x) else float(x))
                 for i, x in zip(idx, vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, epoch long, mean double"
    ).select("conv_id",
             F.timestamp_seconds("epoch").alias("bucket_start"), "mean")
    assert _rows(gapfill_linear(df)) == _rows(_gapfill_join(df))


def test_duplicate_keys_do_not_raise(spark):
    # (a, 1) observed twice: each copy keeps its own bucket row, as the
    # join form's left join does; the grid itself stays dense
    t0 = pd.Timestamp("2025-01-01")
    pdf = pd.DataFrame({
        "conv_id": ["a"] * 4,
        "bucket_start": [t0 + pd.Timedelta(minutes=i) for i in (0, 1, 1, 4)],
        "mean": [1.0, 2.0, 2.0, 5.0],
    })
    df = spark.createDataFrame(pdf)
    got = _rows(gapfill_linear(df))
    assert got == _rows(_gapfill_join(df))
    assert [r[3] for r in got] == [1.0, 2.0, 2.0, 3.0, 4.0, 5.0]


def test_one_shuffle_no_join_no_cache(spark):
    df = spark.createDataFrame(_tier_pdf())
    out, n_jobs = jobs_started(spark, lambda: gapfill_linear(df))
    assert n_jobs == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "InMemory" not in plan, plan
    assert count_exchanges(out) == 1, plan
