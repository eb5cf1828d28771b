"""Statistical detector layer: rolling stats, EWMA, z-score envelopes,
threshold-grid sweep, confusion metrics.

Echoes the reference's classical detectors
(/root/reference/StatsTesting/arma_anm_detc.py,
/root/reference/StatsTesting/anomaly_score_stats.py) with exact grids
and formulas, re-expressed as one-pass Spark aggregations instead of
the reference's 100-pass python loops (SURVEY A7/W6/W7/A9).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T


def position_major_layout(seg_starts: np.ndarray, n: int):
    """Shared layout for vectorized segmented recursions
    (segmented_ewma / segmented_holt / segmented_cusum).

    Orders segments by length DESC (stable) and rows by
    (position, segment-rank): the rows at position t are exactly the
    first k_t segments, an aligned prefix of the rows at position
    t−1, so any one-step recurrence runs as max_len numpy vector ops
    over shrinking prefixes — O(n) total work, no per-group Python.

    Returns (perm, k, bs, sorted_lens, max_len): ``perm`` permutes
    input rows into position-major order; ``k[t]`` is the number of
    segments still alive at position t; ``bs`` are the block start
    offsets (block t is ``[bs[t], bs[t]+k[t])``); ``sorted_lens`` are
    the segment lengths in rank order.
    """
    starts = np.asarray(seg_starts, np.int64)
    lengths = np.diff(np.append(starts, n))
    g = len(starts)
    gid = np.repeat(np.arange(g), lengths)
    pos = np.arange(n) - starts[gid]
    order = np.argsort(-lengths, kind="stable")
    rank_of = np.empty(g, np.int64)
    rank_of[order] = np.arange(g)
    r = rank_of[gid]
    perm = np.lexsort((r, pos))
    max_len = int(lengths.max())
    sorted_lens = lengths[order]
    k = np.searchsorted(-sorted_lens, -np.arange(max_len), side="left")
    k[0] = g
    bs = np.concatenate(([0], np.cumsum(k)))
    return perm, k, bs, sorted_lens, max_len


def segmented_ewma(values: np.ndarray, seg_starts: np.ndarray,
                   alpha: float) -> np.ndarray:
    """Vectorized EWMA over many variable-length segments.

    y_t = (1−α)·y_{t−1} + α·x_t per segment, y_0 = x_0 (pandas
    ``ewm(alpha, adjust=False)`` semantics). pandas' ``groupby().ewm()``
    pays ~200µs of per-group overhead (measured: 14 s for 3M rows /
    62k groups — slower than a naive Python loop); this runs the
    recursion as a position-major block scan instead:

    order segments by length DESC, rows by (position, segment-rank) —
    then the rows at position t are exactly the first k_t segments,
    an aligned prefix of the rows at position t−1, and the whole
    recursion is max_len numpy vector ops over shrinking prefixes:
    O(n) total work, no per-group Python. 3M rows / 62k groups: 14 s
    (pandas) → ~0.15 s.
    """
    n = len(values)
    if n == 0:
        return np.empty(0, np.float64)
    x = np.asarray(values, np.float64)
    perm, k, bs, sorted_lens, max_len = position_major_layout(seg_starts, n)
    g = int(k[0])
    xs = x[perm]
    w = 1.0 - alpha
    ys = xs.copy()
    # hybrid: vector block-scan while many segments are alive; once
    # only a few long (hot-conversation) segments remain, their tails
    # run as plain scalar loops over python lists (~0.7µs/row) instead
    # of max_len-iteration numpy calls on near-empty blocks
    t_cut = max_len
    for t in range(1, max_len):
        kt = k[t]
        if kt <= 32 and max_len - t > 256:
            t_cut = t
            break
        lo, plo = bs[t], bs[t - 1]
        ys[lo: lo + kt] = w * ys[plo: plo + kt] + alpha * xs[lo: lo + kt]
    if t_cut < max_len:
        for s in range(int(k[t_cut])):  # segments still alive at t_cut
            # tails live in permuted space: the row of segment-rank s
            # at position t is xs[bs[t] + s]
            length = int(sorted_lens[s])
            acc = float(ys[bs[t_cut - 1] + s])
            xl = [float(xs[bs[t] + s]) for t in range(t_cut, length)]
            out_tail = []
            for xv in xl:
                acc = w * acc + alpha * xv
                out_tail.append(acc)
            for i, t in enumerate(range(t_cut, length)):
                ys[bs[t] + s] = out_tail[i]
    out = np.empty(n, np.float64)
    out[perm] = ys
    return out


# ---------------------------------------------------------------- rolling
def rolling_stats(df: DataFrame, value_col: str = "mean", k: int = 10,
                  keys: tuple[str, ...] = ("conv_id",),
                  order_col: str = "bucket_start") -> DataFrame:
    """Trailing k-row rolling mean/std (population) per series.

    Engine echo of the reference's one-step-ahead model residuals
    (SURVEY W6, /root/reference/StatsTesting/arma_anm_detc.py:49-53):
    residual = |value − rolling_mean| (abs per
    /root/reference/StatsTesting/arma_anm_detc.py:53).
    """
    w = (
        W.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-k, -1)
    )
    v = F.col(value_col)
    return (
        df.withColumn("rolling_mean", F.avg(v).over(w))
        .withColumn("rolling_std", F.stddev_pop(v).over(w))
        .withColumn("residual", F.abs(v - F.col("rolling_mean")))
    )


# ---------------------------------------------------------------- EWMA
EWMA_MAX_ROWS_PER_PARTITION = 2_000_000
EWMA_MAX_BYTES_PER_PARTITION = 256 << 20  # ~2M tier rows at ~128 B/row
# sizeInBytes for a parquet SCAN is compressed on-disk bytes; the
# pandas frame the worker actually holds decodes ~5-15x larger for
# narrow (key, timestamp, double) tier rows. Inflating the estimate
# divides the cap by this factor for scans — and merely adds a few
# ~1ms frames for aggregates, whose stats were already
# conservative-high
EWMA_SCAN_INFLATION = 8


def _estimated_partitions(df: DataFrame) -> int:
    """Partition count from Catalyst's optimized-plan sizeInBytes —
    free (no job). The estimate is multiplied by EWMA_SCAN_INFLATION
    so a compressed parquet scan (where sizeInBytes is FILE bytes,
    not in-memory bytes) still lands under the per-frame cap; every
    error direction yields MORE partitions, which costs ~1ms of
    pandas overhead each vs the alternative failure mode of one
    multi-GB frame OOMing a worker. Falls back to a count only if
    stats are unavailable or absurd (an unestimated join product —
    which would otherwise silently yield a huge partition count, so
    the exact count is worth one job there)."""
    try:
        # py4j hands the Scala BigInt back as a Python int (Spark 4.1)
        # or as a JavaObject; str() covers both
        size = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except (Py4JError, ValueError):
        size = -1
    if 0 <= size < (1 << 44):
        return -(-(size * EWMA_SCAN_INFLATION)
                 // EWMA_MAX_BYTES_PER_PARTITION)
    return -(-df.count() // EWMA_MAX_ROWS_PER_PARTITION)


def segmented_scan(df: DataFrame, keys: tuple[str, ...], order_col: str,
                   out_fields: list[tuple[str, "T.DataType", str]],
                   kernel, n_rows: int | None = None) -> DataFrame:
    """Shared scaffold for per-series sequential recursions (EWMA,
    Holt, LTTB, …): repartition by full key + sortWithinPartitions,
    then ONE vectorized ``mapInPandas`` per partition.

    ``kernel(pdf, seg_starts) -> dict[col_name, np.ndarray]`` runs
    once per partition frame; ``out_fields`` is
    ``[(name, spark_type, pandas_dtype), …]`` for the appended
    columns. One call per PARTITION (mapInPandas), not per group — a
    per-group applyInPandas pays ~1ms of Python/pandas overhead per
    conversation, which at 10^5+ conversations dominates the whole
    job. State never resets mid-series because grouping is by full
    key, not by partition chunk.

    Partition count is DATA-bound, not parallelism-bound: each
    partition arrives in the Python worker as one pandas frame, so
    data/partition is capped — at 100x input the partition count
    grows instead of the per-worker frame. Callers that know the row
    count pass n_rows (exact); otherwise the cap comes from
    Catalyst's sizeInBytes estimate of the optimized plan — NO extra
    job (a count() here would be one whole extra traversal of the
    input per call; it runs only when the estimate is missing or
    absurd).
    """
    schema = T.StructType(
        df.schema.fields
        + [T.StructField(name, dtype, True) for name, dtype, _ in out_fields]
    )
    key_cols = list(keys)

    def fn(batches):
        chunks = list(batches)
        if not chunks:  # empty partition — no Arrow batches at all
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            yield pdf.assign(**{
                name: pd.Series(dtype=pd_dtype)
                for name, _, pd_dtype in out_fields
            })
            return
        newseg = pdf[key_cols].ne(pdf[key_cols].shift()).any(axis=1)
        out_cols = kernel(pdf, np.flatnonzero(newseg.to_numpy()))
        for name, _, _ in out_fields:
            pdf[name] = out_cols[name]
        yield pdf

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if n_rows is not None:
        parts = max(
            parallelism,
            -(-n_rows // EWMA_MAX_ROWS_PER_PARTITION),  # ceil div
        )
    else:
        parts = max(parallelism, _estimated_partitions(df))
    return (
        df.repartition(parts, *key_cols)
        .sortWithinPartitions(*key_cols, order_col)
        .mapInPandas(fn, schema=schema)
    )


def ewma(df: DataFrame, value_col: str, alpha: float,
         keys: tuple[str, ...] = ("conv_id",),
         order_col: str = "bucket_start",
         out_col: str = "ewma",
         n_rows: int | None = None) -> DataFrame:
    """Exponentially-weighted moving average per series.

    Recursion y_t = (1−α)·y_{t−1} + α·x_t with y_0 = x_0
    (pandas ``ewm(alpha, adjust=False)``) — inherently sequential per
    series, so it runs through :func:`segmented_scan` (SURVEY W5: the
    reference's AR(1) recursive scan at
    /root/reference/Network/ITF/noise.py:16-19 is the model for any
    recursive stat). The recursion itself is segmented_ewma's
    position-major block scan (pandas' groupby().ewm() pays
    ~200µs/group — ~100x slower at 10^5 groups/partition, measured).
    NaN values propagate through the tail of their segment, matching
    the SQL-oracle list_reduce semantics.
    """
    def kernel(pdf, starts):
        return {out_col: segmented_ewma(
            pdf[value_col].to_numpy(np.float64), starts, alpha,
        )}

    return segmented_scan(
        df, keys, order_col,
        [(out_col, T.DoubleType(), "float64")], kernel, n_rows=n_rows,
    )


# ---------------------------------------------------------------- envelope
def zscore_envelope_flags(df: DataFrame, score_col: str, y: float,
                          direction: str = ">",
                          score_stats: DataFrame | None = None) -> DataFrame:
    """Global z-score envelope: threshold = y·mean(score) + std(score),
    flag = score {>|<} threshold mapped to 1/0.

    Exact reference semantics at
    /root/reference/StatsTesting/arma_anm_detc.py:62-65 (threshold
    formula + bool→1.0/0.0 projection). mean/std stay in-plan (tiny
    1-row aggregate broadcast-joined), no driver collect.
    """
    s = F.col(score_col)
    stats = score_stats if score_stats is not None else df.agg(
        F.avg(s).alias("_mu"), F.stddev_pop(s).alias("_sigma")
    )
    thr = F.lit(float(y)) * F.col("_mu") + F.col("_sigma")
    cond = s > thr if direction == ">" else s < thr
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("threshold", thr)
        .withColumn("pred", F.when(cond, F.lit(1)).otherwise(F.lit(0)))
        .drop("_mu", "_sigma")
    )


# ---------------------------------------------------------------- sweep
def grid(spark, start: float, stop: float, step: float,
         name: str = "y") -> DataFrame:
    """Inclusive arithmetic grid built without float accumulation."""
    n = int(round((stop - start) / step)) + 1
    return spark.range(n).select(
        (F.lit(float(start)) + F.col("id") * F.lit(float(step))).alias(name)
    )


def threshold_sweep(scores: DataFrame, grid_df: DataFrame,
                    score_col: str = "residual", label_col: str = "label",
                    mode: str = "envelope", direction: str = ">") -> DataFrame:
    """Grid sweep → per-threshold confusion counts + F1, one shuffle.

    The reference re-scans the residual array once per grid point
    (/root/reference/StatsTesting/arma_anm_detc.py:61-73, 100 passes).
    Here: broadcast the grid, crossJoin, partial-aggregate map-side to
    |grid| groups — the shuffle carries only |grid|×partitions rows
    regardless of input size (SURVEY §2.3 "threshold-grid × residuals").

    mode='envelope': threshold = y·mean + std (ARMA/LAE style);
    mode='raw': threshold = y itself (isofor/VAE style).
    """
    s = F.col(score_col)
    if mode == "envelope":
        stats = scores.agg(F.avg(s).alias("_mu"), F.stddev_pop(s).alias("_sigma"))
        grid_df = grid_df.crossJoin(stats).select(
            "y", (F.col("y") * F.col("_mu") + F.col("_sigma")).alias("threshold")
        )
    else:
        grid_df = grid_df.select("y", F.col("y").alias("threshold"))
    cond = s > F.col("threshold") if direction == ">" else s < F.col("threshold")
    pred = F.when(cond, 1).otherwise(0)
    lab = F.col(label_col)
    return (
        scores.crossJoin(F.broadcast(grid_df))
        .groupBy("y", "threshold")
        .agg(
            F.sum(F.when((pred == 1) & (lab == 1), 1).otherwise(0)).alias("tp"),
            F.sum(F.when((pred == 1) & (lab == 0), 1).otherwise(0)).alias("fp"),
            F.sum(F.when((pred == 0) & (lab == 1), 1).otherwise(0)).alias("fn"),
            F.sum(F.when((pred == 0) & (lab == 0), 1).otherwise(0)).alias("tn"),
        )
        .withColumn(
            "f1",
            F.when(
                2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
                2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
            ).otherwise(F.lit(0.0)),
        )
    )


def best_threshold(sweep: DataFrame) -> DataFrame:
    """argmax-F1 with reference tie-break (first/lowest y wins — the
    reference only replaces on strictly-better F1,
    /root/reference/StatsTesting/arma_anm_detc.py:68-73). Single-pass
    max_by instead of the reference's best-so-far loop (SURVEY A7)."""
    best = sweep.agg(
        F.max_by(
            F.struct("y", "threshold", "f1", "tp", "fp", "fn", "tn"),
            F.struct(F.col("f1"), (-F.col("y")).alias("neg_y")),
        ).alias("b")
    )
    return best.select("b.*")


# ---------------------------------------------------------------- metrics
def confusion_metrics(df: DataFrame, pred_col: str = "pred",
                      label_col: str = "label") -> DataFrame:
    """Binary classification metrics in ONE aggregate (SURVEY A9).

    f1/precision/recall/accuracy per
    /root/reference/StatsTesting/anomaly_score_stats.py:12-20.
    On binary predictions, roc_auc_score degenerates to balanced
    accuracy (TPR+TNR)/2 and average_precision_score to the closed
    form R·P + (1−R)·π with prevalence π — no sort, no curve.
    """
    p, l = F.col(pred_col), F.col(label_col)
    agg = df.agg(
        F.sum(F.when((p == 1) & (l == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((p == 1) & (l == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((p == 0) & (l == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((p == 0) & (l == 0), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    precision = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(0.0)
    recall = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(0.0)
    tnr = F.when(tn + fp > 0, tn / (tn + fp)).otherwise(0.0)
    prevalence = F.when(n > 0, (tp + fn) / n).otherwise(0.0)
    return agg.select(
        "tp", "fp", "fn", "tn",
        precision.alias("precision"),
        recall.alias("recall"),
        F.when(2 * tp + fp + fn > 0, 2 * tp / (2 * tp + fp + fn))
        .otherwise(0.0)
        .alias("f1"),
        F.when(n > 0, (tp + tn) / n).otherwise(0.0).alias("accuracy"),
        ((recall + tnr) / 2).alias("auroc_binary"),
        (recall * precision + (1 - recall) * prevalence).alias("auprc_binary"),
    )


def pred_value_counts(df: DataFrame, pred_col: str = "pred") -> DataFrame:
    """preds.value_counts() analog (SURVEY A3,
    /root/reference/StatsTesting/arma_anm_detc.py:99-101)."""
    return df.groupBy(pred_col).count().orderBy(pred_col)


def roc_auc(df: DataFrame, score_col: str = "score",
            label_col: str = "label") -> DataFrame:
    """Tie-aware AUROC + average precision for CONTINUOUS scores.

    Generalizes the reference's binary-input metrics (SURVEY O3/A9,
    /root/reference/Testing/lae_anm_detc.py:176 sorts by score desc).
    AUROC via the Mann-Whitney U statistic with average ranks for
    ties: AUROC = (Σ_pos rank_avg − n_pos(n_pos+1)/2) / (n_pos·n_neg).
    AP per sklearn's step definition over distinct-score threshold
    groups (descending): AP = Σ_g P_g · (pos_g / n_pos).

    Fully distributive: one groupBy(score), then cumulative sums over
    distinct scores computed as range-partitioned two-level prefix
    sums — within-partition window + a global prefix over ONE ROW PER
    PARTITION. No single-task window over the (potentially
    input-sized, for continuous scores) distinct-score relation.
    """
    s, l = F.col(score_col), F.col(label_col)
    grp = df.groupBy(s.alias("_s")).agg(
        F.sum(F.when(l == 1, 1).otherwise(0)).alias("pos"),
        F.sum(F.when(l == 0, 1).otherwise(0)).alias("neg"),
    )
    P = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    grp = grp.repartitionByRange(P, F.col("_s")).withColumn(
        "_pid", F.spark_partition_id()
    )
    cnt = F.col("pos") + F.col("neg")
    w_in = W.partitionBy("_pid").orderBy("_s").rowsBetween(
        W.unboundedPreceding, -1
    )
    grp = grp.select(
        "_s", "pos", "neg", "_pid",
        F.coalesce(F.sum(cnt).over(w_in), F.lit(0)).alias("_excl_cnt"),
        F.coalesce(F.sum("pos").over(w_in), F.lit(0)).alias("_excl_pos"),
    )
    tot = grp.groupBy("_pid").agg(
        F.sum(F.col("pos") + F.col("neg")).alias("_t_cnt"),
        F.sum("pos").alias("_t_pos"),
    )
    # the ONLY unpartitioned window runs over `tot`: one row per range
    # partition (~parallelism rows), never input-sized
    w_p = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    pre = tot.select(
        "_pid",
        F.coalesce(F.sum("_t_cnt").over(w_p), F.lit(0)).alias("_base_cnt"),
        F.coalesce(F.sum("_t_pos").over(w_p), F.lit(0)).alias("_base_pos"),
    )
    g = tot.agg(F.sum("_t_cnt").alias("_N"), F.sum("_t_pos").alias("_NPOS"))
    asc_excl_cnt = F.col("_base_cnt") + F.col("_excl_cnt")
    asc_excl_pos = F.col("_base_pos") + F.col("_excl_pos")
    ranked = (
        grp.join(F.broadcast(pre), "_pid")
        .crossJoin(F.broadcast(g))
        .select(
            "_s", "pos", "neg",
            (asc_excl_cnt + (cnt + 1) / 2.0).alias("rank_avg"),
            # #points with score >= this group = N − #strictly-below
            (F.col("_NPOS") - asc_excl_pos).alias("cum_pos_desc"),
            (F.col("_N") - asc_excl_cnt).alias("cum_all_desc"),
        )
    )
    return ranked.agg(
        F.sum("pos").alias("_np"),
        F.sum("neg").alias("_nn"),
        F.sum(F.col("pos") * F.col("rank_avg")).alias("_rsum"),
        F.sum(
            (F.col("cum_pos_desc") / F.col("cum_all_desc")) * F.col("pos")
        ).alias("_ap_num"),
    ).select(
        (
            (F.col("_rsum") - F.col("_np") * (F.col("_np") + 1) / 2.0)
            / (F.col("_np") * F.col("_nn"))
        ).alias("auroc"),
        (F.col("_ap_num") / F.col("_np")).alias("average_precision"),
        F.col("_np").alias("n_pos"),
        F.col("_nn").alias("n_neg"),
    )
