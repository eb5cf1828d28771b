"""Stats layer vs numpy/pandas oracles mirroring reference formulas."""

import numpy as np
import pandas as pd
import pytest

from yahoo_anomaly_detection_spark.operators.stats import (
    best_threshold,
    confusion_metrics,
    ewma,
    grid,
    pred_value_counts,
    rolling_stats,
    threshold_sweep,
    zscore_envelope_flags,
)


@pytest.fixture(scope="module")
def series_pdf():
    rng = np.random.default_rng(42)
    rows = []
    for conv in range(8):
        n = int(rng.integers(30, 120))
        vals = rng.normal(10, 3, n)
        anom = rng.random(n) < 0.08
        vals[anom] += rng.uniform(15, 30, anom.sum())
        ts = pd.Timestamp("2025-01-01") + pd.to_timedelta(np.arange(n), unit="min")
        rows.append(
            pd.DataFrame(
                {
                    "conv_id": f"c{conv}",
                    "bucket_start": ts,
                    "mean": vals,
                    "label": anom.astype(int),
                }
            )
        )
    return pd.concat(rows, ignore_index=True)


@pytest.fixture(scope="module")
def series_df(spark, series_pdf):
    return spark.createDataFrame(series_pdf).cache()


def test_rolling_stats_oracle(spark, series_df, series_pdf):
    k = 10
    got = (
        rolling_stats(series_df, "mean", k=k)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    exp_mean, exp_std = [], []
    for _, g in series_pdf.groupby("conv_id", sort=True):
        v = g.sort_values("bucket_start")["mean"]
        shifted = v.shift(1)
        exp_mean.append(shifted.rolling(k, min_periods=1).mean())
        exp_std.append(shifted.rolling(k, min_periods=1).std(ddof=0))
    exp_mean = pd.concat(exp_mean).reset_index(drop=True)
    exp_std = pd.concat(exp_std).reset_index(drop=True)
    np.testing.assert_allclose(got["rolling_mean"], exp_mean, rtol=1e-9, equal_nan=True)
    np.testing.assert_allclose(got["rolling_std"], exp_std, rtol=1e-6, atol=1e-9, equal_nan=True)
    np.testing.assert_allclose(
        got["residual"], np.abs(got["mean"] - got["rolling_mean"]), rtol=0, equal_nan=True
    )


def test_ewma_matches_pandas(spark, series_df, series_pdf):
    alpha = 0.3
    got = (
        ewma(series_df, "mean", alpha=alpha)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    exp = (
        series_pdf.sort_values(["conv_id", "bucket_start"])
        .groupby("conv_id", sort=True)["mean"]
        .transform(lambda s: s.ewm(alpha=alpha, adjust=False).mean())
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(got["ewma"], exp, rtol=1e-12)


def test_zscore_envelope_exact_reference_formula(spark, series_df, series_pdf):
    """threshold = y·mean + std; flag = value > threshold
    (/root/reference/StatsTesting/arma_anm_detc.py:62-65)."""
    y = 2.0
    got = (
        zscore_envelope_flags(series_df, "mean", y=y)
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    v = series_pdf.sort_values(["conv_id", "bucket_start"])["mean"].to_numpy()
    thr = y * np.mean(v) + np.std(v)  # np.std ddof=0, SURVEY A2
    np.testing.assert_allclose(got["threshold"].iloc[0], thr, rtol=1e-9)
    np.testing.assert_array_equal(got["pred"].to_numpy(), (v > thr).astype(int))


def _oracle_sweep(vals, labels, ys):
    """Reference loop semantics: arma_anm_detc.py:61-73 (strict-better keep)."""
    mu, sigma = np.mean(vals), np.std(vals)
    best = (-1.0, None)
    rows = {}
    for y in ys:
        thr = y * mu + sigma
        pred = (vals > thr).astype(int)
        tp = int(((pred == 1) & (labels == 1)).sum())
        fp = int(((pred == 1) & (labels == 0)).sum())
        fn = int(((pred == 0) & (labels == 1)).sum())
        f1 = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0
        rows[y] = (thr, tp, fp, fn, f1)
        if f1 > best[0]:
            best = (f1, y)
    return rows, best


def test_threshold_sweep_and_best(spark, series_df, series_pdf):
    ys = list(range(1, 101))
    g = grid(spark, 1, 100, 1)
    sweep = threshold_sweep(series_df, g, score_col="mean", label_col="label")
    got = {r["y"]: r for r in sweep.collect()}
    vals = series_pdf["mean"].to_numpy()
    labels = series_pdf["label"].to_numpy()
    exp, best = _oracle_sweep(vals, labels, ys)
    assert len(got) == 100
    for y in ys:
        thr, tp, fp, fn, f1 = exp[y]
        r = got[float(y)]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn), y
        np.testing.assert_allclose(r["threshold"], thr, rtol=1e-9)
        np.testing.assert_allclose(r["f1"], f1, rtol=1e-12)
    b = best_threshold(sweep).first()
    assert b["y"] == best[1]
    np.testing.assert_allclose(b["f1"], best[0], rtol=1e-12)


def test_confusion_metrics_closed_forms(spark):
    # hand-built confusion: tp=3 fp=2 fn=1 tn=4
    rows = (
        [(1, 1)] * 3 + [(1, 0)] * 2 + [(0, 1)] * 1 + [(0, 0)] * 4
    )
    df = spark.createDataFrame(rows, "pred int, label int")
    m = confusion_metrics(df).first()
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (3, 2, 1, 4)
    p, r = 3 / 5, 3 / 4
    np.testing.assert_allclose(m["precision"], p)
    np.testing.assert_allclose(m["recall"], r)
    np.testing.assert_allclose(m["f1"], 2 * p * r / (p + r))
    np.testing.assert_allclose(m["accuracy"], 7 / 10)
    # binary AUROC = balanced accuracy; AUPRC = R·P + (1−R)·π
    np.testing.assert_allclose(m["auroc_binary"], (r + 4 / 6) / 2)
    np.testing.assert_allclose(m["auprc_binary"], r * p + (1 - r) * 0.4)
    try:
        from sklearn import metrics as SK  # optional cross-check

        y_true = [l for _, l in rows]
        y_pred = [pr for pr, _ in rows]
        np.testing.assert_allclose(m["auroc_binary"], SK.roc_auc_score(y_true, y_pred))
        np.testing.assert_allclose(
            m["auprc_binary"], SK.average_precision_score(y_true, y_pred)
        )
        np.testing.assert_allclose(m["f1"], SK.f1_score(y_true, y_pred))
    except ImportError:
        pass


def test_pred_value_counts(spark):
    df = spark.createDataFrame([(1,), (0,), (1,), (1,)], "pred int")
    got = {r["pred"]: r["count"] for r in pred_value_counts(df).collect()}
    assert got == {0: 1, 1: 3}


def test_ewma_partition_count_from_plan_stats_no_job(spark, tmp_path):
    # the partition count comes from Catalyst's sizeInBytes estimate,
    # not a hidden count() job, and lands where the count path did
    import re

    from conftest import jobs_started
    from yahoo_anomaly_detection_spark.operators import stats

    path = str(tmp_path / "tier")
    spark.createDataFrame(
        [(f"c{i % 7}", i, float(i)) for i in range(500)],
        "conv_id string, bucket_start int, v double",
    ).write.parquet(path)
    scan = spark.read.parquet(path)
    out, n_jobs = jobs_started(spark, lambda: ewma(scan, "v", alpha=0.5))
    assert n_jobs == 0
    plan = out._jdf.queryExecution().logical().toString()
    parts = int(re.search(r"RepartitionByExpression \[[^\]]*\], (\d+)",
                          plan).group(1))
    assert parts == max(spark.sparkContext.defaultParallelism,
                        -(-scan.count() // stats.EWMA_MAX_ROWS_PER_PARTITION))
