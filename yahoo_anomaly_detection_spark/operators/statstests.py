"""Statistical-testing & robust-QC layer: nonparametric trend
(Mann-Kendall), rank correlation (Spearman), multiple-testing
control (Benjamini-Hochberg FDR), distribution drift
(1-Wasserstein over fixed bins), mean-reversion characterization
(AR(1)/OU half-life), long-range dependence (Hurst, aggregated
variance), complexity (permutation entropy), drawdown profiling,
winsorized/trimmed robust rollups, and load-concentration (Gini).

Extends the reference's parametric detector family
(/root/reference/StatsTesting/arma_anm_detc.py fits mean/std
envelopes; /root/reference/StatsTesting/isofor_anm_detc.py sweeps a
threshold grid) with the NONPARAMETRIC and robust counterparts a
fleet-monitoring engine runs beside them: Mann-Kendall answers "is
this metric trending?" without normality assumptions, BH-FDR keeps
the fleet-wide false-alarm budget honest when thousands of
(series, day) tests fire at once, W1 drift complements the
sup-norm KS test and bin-ratio PSI already shipped, and the Hurst /
permutation-entropy pair characterizes series MEMORY — which
rolling-window sigma detectors silently assume away.

Scale shapes (plan-audited in tests/test_round4g_ops.py): every
operator collapses the raw corpus to a (series, bucket) tier with
ONE map-side-combined groupBy as its first move; all pair joins,
windows, and regressions run on tier-sized relations (≤ series ×
span-days rows). The only O(tier²) construct is Mann-Kendall's
within-series day-pair join, bounded by span-days² per series and
independent of corpus row count.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from yahoo_anomaly_detection_spark.functions.comoments import (
    OLS, PEARSON, Fit, comoments, comoments_sql, ols_slope, ols_slope_sql,
    pearson, pearson_sql,
)
from yahoo_anomaly_detection_spark.functions.portable import (
    portable_key,
    portable_key_sql,
    portable_round,
)

_R = 4

# scipy/statsmodels consistency constant: MAD*1.4826 estimates
# sigma for Gaussian data (same constant as tsanalytics.MAD_SIGMA)
MAD_SIGMA = 1.4826

ORACLE_SQL: dict[str, str] = {}


def _daily(events: DataFrame, key: str, ts_col: str,
           value_col: str) -> DataFrame:
    """(key, day, y, x) daily tier (mean + row count) — one
    map-side-combined aggregate; every operator in this module
    starts here or at the hourly analog, so the corpus is touched
    exactly once. The count column rides along so one shared tier
    feeds both the mean-based diagnostics and Croston's
    arrival-count demand series (see :func:`series_profile`)."""
    return (events.groupBy(
        F.col(key), F.date_trunc("day", F.col(ts_col)).alias("day"))
        .agg(F.avg(F.col(value_col).cast("double")).alias("y"),
             F.count(F.lit(1)).cast("double").alias("x")))


_DAILY_SQL = """
    SELECT event_type, date_trunc('day', ts) AS day,
           avg(CAST(value AS DOUBLE)) AS y
    FROM events GROUP BY 1, 2
"""


def _hourly(events: DataFrame, key: str, ts_col: str,
            value_col: str) -> DataFrame:
    """(key, h, y) hourly-mean tier with h = integer hours since
    epoch (portable across engines, no timezone arithmetic)."""
    return (events.groupBy(
        F.col(key),
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(3600))
        .alias("h"))
        .agg(F.avg(F.col(value_col).cast("double")).alias("y")))


_HOURLY_SQL = """
    SELECT event_type,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
           avg(CAST(value AS DOUBLE)) AS y
    FROM events GROUP BY 1, 2
"""


# ------------------------------------------------------ mann_kendall
def mann_kendall(events: DataFrame, z_crit: float = 1.96,
                 key: str = "event_type", ts_col: str = "ts",
                 value_col: str = "value",
                 daily: DataFrame | None = None) -> DataFrame:
    """Mann-Kendall monotonic-trend test per series on the daily
    tier: S = Σ_{i<j} sign(y_j − y_i) over day pairs, tie-corrected
    Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18, and the
    continuity-corrected Z = (S∓1)/√Var(S). ``trend`` is +1/−1 when
    |Z| exceeds ``z_crit`` (default 1.96 ≈ two-sided 5%), else 0 —
    the nonparametric answer to "is this metric drifting?" that
    needs no normality or linearity assumption, unlike the OLS
    ``trend_1d`` / ``capacity_forecast`` slope fits it complements.

    Output: (event_type, n_days, s, var_s, z, trend); var_s/z
    rounded to 4; a series with Var(S)=0 (all days tied) reports
    z=0, trend=0.

    Scale shape: corpus → daily tier (ONE map-side-combined
    groupBy). The pair join is a hash self-join of the TIER on the
    series key with an a.day < b.day filter — per-series cost is
    span-days² (≈ 10⁴ pairs for a month), independent of corpus row
    count; the tie and count aggregates are tier-sized, and the
    three per-series result relations join as single-row-per-key
    broadcasts.
    """
    if daily is None:
        from yahoo_anomaly_detection_spark import caching

        # the tier feeds the pair join (twice), the count and the
        # tie aggregate — materialize once so the corpus is scanned
        # once, not four times (caller releases via caching.scope()
        # / release_all(), the ensemble_flags contract)
        daily = caching.materialize(
            _daily(events, key, ts_col, value_col))
    a, b = daily.alias("a"), daily.alias("b")
    s = (a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a.day") < F.col("b.day")))
         .groupBy(F.col(f"a.{key}").alias(key))
         .agg(F.sum(F.signum(F.col("b.y") - F.col("a.y")))
              .cast("long").alias("s")))
    n = daily.groupBy(key).agg(F.count(F.lit(1)).alias("n_days"))
    t = F.col("t").cast("double")
    ties = (daily.groupBy(key, "y").agg(F.count(F.lit(1)).alias("t"))
            .groupBy(key)
            .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("tt")))
    nd = F.col("n_days").cast("double")
    var_s = (nd * (nd - 1) * (2 * nd + 5) - F.col("tt")) / F.lit(18.0)
    sd = F.col("s").cast("double")
    z = (F.when(var_s <= 0, F.lit(0.0))
         .when(sd > 0, (sd - 1) / F.sqrt(var_s))
         .when(sd < 0, (sd + 1) / F.sqrt(var_s))
         .otherwise(F.lit(0.0)))
    out = (n.join(s, key).join(ties, key)
           .withColumn("var_s", var_s).withColumn("_z", z))
    zr = portable_round(F.col("_z"), _R)
    return out.select(
        key, "n_days", "s",
        portable_round(F.col("var_s"), _R).alias("var_s"),
        zr.alias("z"),
        (F.when(zr > F.lit(z_crit), F.lit(1))
         .when(zr < F.lit(-z_crit), F.lit(-1))
         .otherwise(F.lit(0))).alias("trend"),
    )


def _mann_kendall_sql(z_crit: float = 1.96) -> str:
    return f"""
WITH daily AS ({_DAILY_SQL}),
s AS (
    SELECT a.event_type, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day < b.day
    GROUP BY 1
),
n AS (
    SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1
),
ties AS (
    SELECT event_type,
           sum(CAST(t AS DOUBLE) * (t - 1) * (2 * t + 5)) AS tt
    FROM (SELECT event_type, y, count(*) AS t
          FROM daily GROUP BY 1, 2)
    GROUP BY 1
),
j AS (
    SELECT n.event_type, n.n_days, s.s,
           (CAST(n.n_days AS DOUBLE) * (n.n_days - 1)
            * (2 * n.n_days + 5) - ties.tt) / 18.0 AS var_s
    FROM n JOIN s USING (event_type) JOIN ties USING (event_type)
),
zz AS (
    SELECT *,
           round(CASE
                 WHEN var_s <= 0 THEN 0.0
                 WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                 WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                 ELSE 0.0 END, 4) AS z
    FROM j
)
SELECT event_type, n_days, s, round(var_s, 4) AS var_s, z,
       CASE WHEN z > {z_crit} THEN 1
            WHEN z < -{z_crit} THEN -1 ELSE 0 END AS trend
FROM zz
"""


ORACLE_SQL["mann_kendall"] = _mann_kendall_sql()


# ------------------------------------------------------ spearman_corr
def spearman_corr(events: DataFrame, key: str = "event_type",
                  ts_col: str = "ts",
                  value_col: str = "value",
                  daily: DataFrame | None = None) -> DataFrame:
    """Spearman rank correlation between every pair of series on
    the daily-mean tier — the robust, outlier-proof sibling of the
    Pearson ``xcorr_1d`` / ``metric_corr`` family: one broken day of
    one metric can swing a Pearson ρ arbitrarily but moves each
    rank by at most one step.

    Ranks use the standard average-tie convention, computed
    portably as min-rank + (tie_count − 1)/2; ρ is then the moment
    Pearson of the two rank columns over the days BOTH series
    observed (inner join on day). Pairs with zero rank variance on
    the common days (a constant series) report NULL.

    Numeric-portability audit (why this keeps the UNcentered moment
    form the Pearson family dropped): the inputs here are ranks —
    exact multiples of ½, whose sums and sums-of-products stay
    exactly representable far below 2^52 — so every partial sum is
    exact and summation ORDER cannot move a bit on either engine;
    the n·Σxy − ΣxΣy cancellation is computed over exact integers
    and is itself exact. Centered co-moments are only needed where
    the inputs are float aggregates (hourly/daily means).

    Output: (type_a, type_b, n_days, rho) for type_a < type_b,
    rho rounded to 4.

    Scale shape: corpus → daily tier once; the rank window
    partitions on the series key over ≤ span-days rows; the pair
    join is a day-keyed hash join of the tier with itself
    (|types|² × days rows — types is small by construction); the
    final moment aggregate is one row per pair.
    """
    if daily is None:
        daily = _daily(events, key, ts_col, value_col)
    kwin = W.partitionBy(key)
    r = (F.rank().over(kwin.orderBy("y"))
         + (F.count(F.lit(1)).over(W.partitionBy(key, "y")) - 1)
         / F.lit(2.0))
    from yahoo_anomaly_detection_spark import caching

    # the ranked tier self-joins on day — materialize it so the
    # corpus scan + rank window run once, not twice
    ranked = caching.materialize(
        daily.select(key, "day", r.alias("r")))
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = a.join(b, (F.col("a.day") == F.col("b.day"))
                   & (F.col(f"a.{key}") < F.col(f"b.{key}")))
    g = (pairs.groupBy(F.col(f"a.{key}").alias("type_a"),
                       F.col(f"b.{key}").alias("type_b"))
         .agg(F.count(F.lit(1)).cast("double").alias("n"),
              F.sum("a.r").alias("sa"), F.sum("b.r").alias("sb"),
              F.sum(F.col("a.r") * F.col("b.r")).alias("sab"),
              F.sum(F.col("a.r") * F.col("a.r")).alias("saa"),
              F.sum(F.col("b.r") * F.col("b.r")).alias("sbb")))
    n = F.col("n")
    cov = n * F.col("sab") - F.col("sa") * F.col("sb")
    va = n * F.col("saa") - F.col("sa") * F.col("sa")
    vb = n * F.col("sbb") - F.col("sb") * F.col("sb")
    rho = F.when((va > 0) & (vb > 0), cov / F.sqrt(va * vb))
    return g.select(
        "type_a", "type_b", n.cast("long").alias("n_days"),
        portable_round(rho, _R).alias("rho"))


_SPEARMAN_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
ranked AS (
    SELECT event_type, day,
           rank() OVER (PARTITION BY event_type ORDER BY y)
           + (count(*) OVER (PARTITION BY event_type, y) - 1) / 2.0
               AS r
    FROM daily
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.r AS ra, b.r AS rb
    FROM ranked a JOIN ranked b
      ON a.day = b.day AND a.event_type < b.event_type
),
m AS (
    SELECT type_a, type_b, CAST(count(*) AS DOUBLE) AS n,
           sum(ra) AS sa, sum(rb) AS sb, sum(ra * rb) AS sab,
           sum(ra * ra) AS saa, sum(rb * rb) AS sbb
    FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n_days,
       round(CASE WHEN n * saa - sa * sa > 0
                   AND n * sbb - sb * sb > 0
             THEN (n * sab - sa * sb)
                  / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
             END, 4) AS rho
FROM m
"""

ORACLE_SQL["spearman_corr"] = _SPEARMAN_SQL


# ----------------------------------------------------------- bh_fdr
# Abramowitz & Stegun 7.1.26 erf polynomial (max abs error 1.5e-7):
# identical closed-form arithmetic on both engines, so the oracle
# reproduces p-values bit-comparably after rounding — neither Spark
# SQL nor DuckDB exposes erf/erfc as a builtin.
_ERF_A = (0.254829592, -0.284496736, 1.421413741,
          -1.453152027, 1.061405429)
_ERF_P = 0.3275911


def _p_two_sided(z_abs: Column) -> Column:
    """two-sided normal p-value 1 − erf(|z|/√2) via A&S 7.1.26."""
    x = z_abs / F.lit(math.sqrt(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * x)
    poly = F.lit(0.0)
    for a in reversed(_ERF_A):
        poly = (poly + F.lit(a)) * t
    return poly * F.exp(-x * x)


def _p_two_sided_sql(z_abs: str) -> str:
    x = f"({z_abs} / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_ERF_P} * {x}))"
    poly = "0.0"
    for a in reversed(_ERF_A):
        poly = f"(({poly} + {a}) * {t})"
    return f"({poly} * exp(-{x} * {x}))"


def bh_fdr(events: DataFrame, q: float = 0.05,
           key: str = "event_type", ts_col: str = "ts",
           value_col: str = "value") -> DataFrame:
    """Benjamini-Hochberg FDR control over the fleet's per-day
    anomaly tests: each (series, day) daily mean is z-scored
    against its own series (population σ), converted to a two-sided
    normal p-value, and the BH step-up rule rejects the largest
    prefix of p-ascending tests with p_(i) ≤ i·q/m. This is the
    multiple-testing discipline a fleet dashboard needs: at 10⁴
    series × 365 days, a naive per-test 5% threshold fires ~10⁵
    false alarms; BH caps the EXPECTED FALSE-DISCOVERY FRACTION at
    q regardless of m.

    p-values use the A&S 7.1.26 erf polynomial (documented 1.5e-7
    max error) on the ROUNDED z — identical arithmetic on both
    engines, which makes the p-sorted rank deterministic
    cross-engine (ties broken by (p, series, day)). Degenerate
    series (σ=0) contribute no tests.

    Output: (event_type, day, z, p, rnk, crit, reject), z/p/crit
    rounded to 4.

    Scale shape: corpus → daily tier once; per-series mean/σ are
    tier windows. The p-ascending rank is DISTRIBUTED (the
    ``roc_auc`` idiom): range-repartition on (p, series, day),
    row_number within each range partition, plus an offset from a
    prefix sum over the ONE-ROW-PER-PARTITION counts — no
    single-task window ever sees the tier. m and the step-up
    cutoff k* are plain global aggregates broadcast back as one
    row.
    """
    daily = _daily(events, key, ts_col, value_col)
    kwin = W.partitionBy(key)
    mu = F.avg("y").over(kwin)
    sd = F.stddev_pop("y").over(kwin)
    zed = daily.select(
        key, "day",
        F.try_divide(F.col("y") - mu, sd).alias("_z"),
    ).where(F.col("_z").isNotNull())
    zr = portable_round(F.col("_z"), _R)
    p = _p_two_sided(F.abs(zr))
    scored = zed.select(key, "day", zr.alias("z"), p.alias("_p"))
    # distributed global rank: range partitions carry the total
    # order; within-partition row_number + per-partition offsets
    from yahoo_anomaly_detection_spark import caching

    P = max(events.sparkSession.sparkContext.defaultParallelism, 2)
    part = (scored.repartitionByRange(P, "_p", key, "day")
            .withColumn("_pid", F.spark_partition_id()))
    inwin = W.partitionBy("_pid").orderBy("_p", key, "day")
    # consumed by the size counts, the offset join, m and the
    # step-up cutoff — materialize so the corpus scans once
    part = caching.materialize(
        part.withColumn("_r_in", F.row_number().over(inwin)))
    sizes = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offw = (W.orderBy("_pid")
            .rowsBetween(W.unboundedPreceding, -1))
    offsets = sizes.select(
        "_pid",
        F.coalesce(F.sum("_n").over(offw), F.lit(0)).alias("_off"))
    ranked = (part.join(F.broadcast(offsets), "_pid")
              .withColumn("rnk", F.col("_r_in") + F.col("_off")))
    m_row = ranked.agg(
        F.count(F.lit(1)).alias("_m")).withColumn("_j", F.lit(1))
    ranked = (ranked.withColumn("_j", F.lit(1))
              .join(F.broadcast(m_row), "_j"))
    crit = F.col("rnk") * F.lit(q) / F.col("_m")
    ranked = ranked.withColumn("_crit", crit)
    k_row = (ranked
             .agg(F.max(F.when(F.col("_p") <= F.col("_crit"),
                               F.col("rnk")).otherwise(F.lit(0)))
                  .alias("_kmax"))
             .withColumn("_j", F.lit(1)))
    return (ranked.join(F.broadcast(k_row), "_j")
            .select(
                key, "day", "z",
                portable_round(F.col("_p"), _R).alias("p"),
                "rnk",
                portable_round(F.col("_crit"), _R).alias("crit"),
                (F.col("rnk") <= F.col("_kmax")).cast("int")
                .alias("reject")))


def _bh_fdr_sql(q: float = 0.05) -> str:
    p_expr = _p_two_sided_sql("abs(z)")
    return f"""
WITH daily AS ({_DAILY_SQL}),
zed AS (
    SELECT event_type, day,
           round((y - avg(y) OVER w)
                 / nullif(stddev_pop(y) OVER w, 0), 4) AS z
    FROM daily
    WINDOW w AS (PARTITION BY event_type)
),
scored AS (
    SELECT event_type, day, z, {p_expr} AS p
    FROM zed WHERE z IS NOT NULL
),
ranked AS (
    SELECT *,
           row_number() OVER (ORDER BY p, event_type, day) AS rnk,
           count(*) OVER () AS m
    FROM scored
),
cut AS (
    SELECT *, rnk * {q} / m AS crit,
           max(CASE WHEN p <= rnk * {q} / m THEN rnk ELSE 0 END)
               OVER () AS kmax
    FROM ranked
)
SELECT event_type, day, z, round(p, 4) AS p, rnk,
       round(crit, 4) AS crit,
       CAST(rnk <= kmax AS INT) AS reject
FROM cut
"""


ORACLE_SQL["bh_fdr"] = _bh_fdr_sql()


# ------------------------------------------------ wasserstein_drift
# fixed histogram boundaries shared with hist_quantile / psi_drift
# (tsanalytics.HIST_BOUNDARIES) — re-declared here so the module's
# oracles stay self-contained and literal-identical on both engines
W1_BOUNDARIES = (1.0, 5.0, 10.0, 25.0, 50.0, 100.0, 200.0, 400.0)


def _bin_expr(value: Column, bs: tuple[float, ...]) -> Column:
    """bin index = #{boundaries < value} as a chained sum of
    comparisons — the same branch-free JVM-side binning idiom as
    ``hist_quantile`` (no UDF, codegen-friendly)."""
    e = F.lit(0)
    for b in bs:
        e = e + (value > F.lit(b)).cast("int")
    return e


def _bin_sql(value: str, bs: tuple[float, ...]) -> str:
    return "(" + " + ".join(
        f"CAST({value} > {b} AS INT)" for b in bs) + ")"


def wasserstein_drift(events: DataFrame,
                      boundaries: tuple[float, ...] = W1_BOUNDARIES,
                      key: str = "event_type", ts_col: str = "ts",
                      value_col: str = "value") -> DataFrame:
    """Day-over-day distribution drift per series as the binned
    1-Wasserstein (earth-mover) distance: with the day's value
    histogram over the fixed ``boundaries`` grid, W1 = Σ_j
    |CDF_today(b_j) − CDF_prev(b_j)| · (b_{j+1} − b_j) over interior
    boundaries — the integral-of-CDF-gap form of W1 restricted to
    the bin grid. Complements the sup-norm ``ks_drift_1d`` (max CDF
    gap: sensitive to one sharp shift) and the likelihood-ratio
    ``psi_drift_1d`` (unstable on near-empty bins): W1 measures HOW
    FAR mass moved in value units, so a 10ms→12ms latency creep and
    a 10ms→400ms collapse score proportionally, not identically.

    "prev" is the series' previous OBSERVED day (lag over the dense
    (series, day) skeleton); the first observed day reports NULL.
    Output: (event_type, day, prev_day, w1), w1 rounded to 4 (value
    units).

    Scale shape: corpus → (series, day, bin) counts in ONE
    map-side-combined groupBy (≤ series × days × B rows); the dense
    skeleton is distinct (series, day) × B literal boundary rows;
    CDFs are a bin-ordered running sum per (series, day); the
    prev-day CDF is a lag over (series, bin) ordered by day — all
    tier-sized, one corpus scan.
    """
    bs = [float(b) for b in boundaries]
    nb = len(bs) - 1  # interior boundaries b_0 .. b_{B-2}
    gaps = [bs[j + 1] - bs[j] for j in range(nb)]
    from yahoo_anomaly_detection_spark import caching

    # the bin-count tier feeds both the dense skeleton and the CDF
    # pass — materialize so the corpus scans once
    cnts = caching.materialize(events.groupBy(
        F.col(key), F.date_trunc("day", F.col(ts_col)).alias("day"),
        _bin_expr(F.col(value_col).cast("double"), tuple(bs))
        .alias("bin"))
        .agg(F.count(F.lit(1)).alias("c")))
    skel = (cnts.select(key, "day").distinct()
            .select(key, "day",
                    F.explode(F.array(*[F.lit(j) for j in range(nb)]))
                    .alias("j")))
    gap_col = F.element_at(
        F.array(*[F.lit(g) for g in gaps]), F.col("j") + 1)
    binw = W.partitionBy(key, "day").orderBy("bin") \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = F.sum("c").over(W.partitionBy(key, "day"))
    # CDF at boundary b_j = P(bin <= j); reuse the counts relation
    # via a <= join expressed as cum-sum lookup on the skeleton
    cum = (cnts
           .withColumn("cum", F.sum("c").over(binw))
           .withColumn("tot", tot)
           .select(key, "day", F.col("bin").alias("j"),
                   (F.col("cum") / F.col("tot")).alias("cdf_at")))
    # carry each (key, day)'s step CDF onto the dense grid: last
    # observed bin <= j, via a forward-fill over the skeleton
    grid = (skel.join(cum, [key, "day", "j"], "left")
            .withColumn(
                "cdf",
                F.coalesce(
                    F.last("cdf_at", ignorenulls=True).over(
                        W.partitionBy(key, "day").orderBy("j")
                        .rowsBetween(W.unboundedPreceding,
                                     W.currentRow)),
                    F.lit(0.0))))
    lagw = W.partitionBy(key, "j").orderBy("day")
    diffed = (grid
              .withColumn("prev_cdf", F.lag("cdf").over(lagw))
              .withColumn("prev_day", F.lag("day").over(lagw)))
    return (diffed.groupBy(key, "day")
            .agg(F.max("prev_day").alias("prev_day"),
                 portable_round(
                     F.sum(F.when(
                         F.col("prev_cdf").isNotNull(),
                         F.abs(F.col("cdf") - F.col("prev_cdf"))
                         * gap_col)), _R).alias("w1")))


def _wasserstein_sql(bs: tuple[float, ...] = W1_BOUNDARIES) -> str:
    bl = [float(b) for b in bs]
    nb = len(bl) - 1
    gaps = ", ".join(str(bl[j + 1] - bl[j]) for j in range(nb))
    js = ", ".join(str(j) for j in range(nb))
    return f"""
WITH cnts AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           {_bin_sql('CAST(value AS DOUBLE)', tuple(bl))} AS bin,
           count(*) AS c
    FROM events GROUP BY 1, 2, 3
),
skel AS (
    SELECT event_type, day, j
    FROM (SELECT DISTINCT event_type, day FROM cnts)
    CROSS JOIN unnest([{js}]) AS t(j)
),
cum AS (
    SELECT event_type, day, bin AS j,
           sum(c) OVER (PARTITION BY event_type, day ORDER BY bin)
           / CAST(sum(c) OVER (PARTITION BY event_type, day)
                  AS DOUBLE) AS cdf_at
    FROM cnts
),
grid AS (
    SELECT s.event_type, s.day, s.j,
           coalesce(
               last_value(c.cdf_at IGNORE NULLS) OVER (
                   PARTITION BY s.event_type, s.day ORDER BY s.j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0.0) AS cdf
    FROM skel s
    LEFT JOIN cum c ON c.event_type = s.event_type
                   AND c.day = s.day AND c.j = s.j
),
diffed AS (
    SELECT *,
           lag(cdf) OVER w AS prev_cdf,
           lag(day) OVER w AS prev_day
    FROM grid
    WINDOW w AS (PARTITION BY event_type, j ORDER BY day)
)
SELECT event_type, day, max(prev_day) AS prev_day,
       round(sum(CASE WHEN prev_cdf IS NOT NULL
                 THEN abs(cdf - prev_cdf) * ([{gaps}])[j + 1]
                 END), 4) AS w1
FROM diffed GROUP BY 1, 2
"""


ORACLE_SQL["wasserstein_drift"] = _wasserstein_sql()


# -------------------------------------------------------- ou_halflife
def ou_halflife(events: DataFrame, key: str = "event_type",
                ts_col: str = "ts",
                value_col: str = "value",
                hourly: DataFrame | None = None) -> DataFrame:
    """Mean-reversion characterization per series: fit the AR(1)
    map y_t = c + φ·y_{t−1} + ε by OLS over CONSECUTIVE-hour pairs
    of the hourly tier (pairs separated by gaps are excluded, so
    sparse stretches don't fake dynamics), and report the OU
    half-life −ln2/lnφ — "after a shock, how many hours until the
    metric has covered half the distance back to baseline?". This
    is the quantity an alert-cooldown or capacity planner actually
    wants from the reference's AR residual detectors
    (/root/reference/StatsTesting/arma_anm_detc.py models the
    residual; this models the RECOVERY RATE). half_life_hours is
    NULL when φ ∉ (0,1) (no mean reversion: random-walk or
    oscillating) or the fit is degenerate; mu is the implied
    equilibrium c/(1−φ).

    Output: (event_type, n_pairs, phi, mu, half_life_hours),
    floats rounded to 4.

    Scale shape: corpus → hourly tier (ONE map-side-combined
    groupBy); the lag pairs come from a series-keyed window over
    the tier; the OLS fit is one moment aggregate per series.
    """
    if hourly is None:
        hourly = _hourly(events, key, ts_col, value_col)
    lw = W.partitionBy(key).orderBy("h")
    pairs = (hourly
             .withColumn("ylag", F.lag("y").over(lw))
             .withColumn("hlag", F.lag("h").over(lw))
             .where(F.col("hlag") == F.col("h") - 1))
    m = comoments(pairs, [key], OLS,
                  Fit({"x": F.col("ylag"), "y": F.col("y")}), means=True)
    phi = ols_slope(2)
    c = F.col("my") - phi * F.col("mx")
    mu = F.when(phi.isNotNull() & (phi != 1.0),
                c / (F.lit(1.0) - phi))
    hl = F.when(phi.isNotNull() & (phi > 0) & (phi < 1),
                F.lit(-math.log(2.0)) / F.log(phi))
    return m.select(
        key, F.col("n").alias("n_pairs"),
        portable_round(phi, _R).alias("phi"),
        portable_round(mu, _R).alias("mu"),
        portable_round(hl, _R).alias("half_life_hours"))


_OU_SQL = f"""
WITH hourly AS ({_HOURLY_SQL}),
pairs AS (
    SELECT * FROM (
        SELECT event_type, y,
               lag(y) OVER w AS ylag, lag(h) OVER w AS hlag, h
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h))
    WHERE hlag = h - 1
),
{comoments_sql("m", "pairs", ["event_type"], OLS,
               Fit({"x": "ylag", "y": "y"}), means=True)},
f AS (SELECT *, {ols_slope_sql(2)} AS phi FROM m),
g AS (
    SELECT *,
           CASE WHEN phi IS NOT NULL AND phi <> 1.0
                THEN (my - phi * mx) / (1.0 - phi) END AS mu,
           CASE WHEN phi > 0 AND phi < 1
                THEN -ln(2.0) / ln(phi) END AS hl
    FROM f
)
SELECT event_type, n AS n_pairs,
       round(phi, 4) AS phi, round(mu, 4) AS mu,
       round(hl, 4) AS half_life_hours
FROM g
"""

ORACLE_SQL["ou_halflife"] = _OU_SQL


# ----------------------------------------------------- hurst_exponent
HURST_SCALES = (1, 2, 4, 8, 16)


def hurst_exponent(events: DataFrame,
                   scales: tuple[int, ...] = HURST_SCALES,
                   key: str = "event_type", ts_col: str = "ts",
                   value_col: str = "value",
                   hourly: DataFrame | None = None) -> DataFrame:
    """Hurst exponent per series by the aggregated-variance method
    on the hourly tier: for each block size m ∈ ``scales``, average
    the series over consecutive m-hour blocks and take the
    population variance of the block means; for a self-similar
    process Var(m) ∝ m^(2H−2), so H = 1 + slope/2 where slope is
    the OLS fit of ln Var(m) on ln m. H ≈ 0.5 is memoryless noise
    (rolling-sigma detectors are calibrated), H → 1 means
    long-range dependence (z-score envelopes will both under- and
    over-alarm because "n independent samples" is a fiction), H <
    0.5 is anti-persistent mean-reversion. Scales with zero
    variance or fewer than 2 blocks are dropped; series with < 2
    usable scales report NULL.

    Output: (event_type, n_scales, h), h rounded to 4.

    Scale shape: corpus → hourly tier once; the tier is replicated
    |scales|× by a literal explode (still tier-sized), block means
    and per-scale variances are two more map-side-combined
    aggregates, and the log-log fit is one centered co-moment
    aggregate per series. No corpus re-scan.
    """
    if hourly is None:
        hourly = _hourly(events, key, ts_col, value_col)
    m_col = F.explode(F.array(*[F.lit(int(m)) for m in scales]))
    rep = hourly.select(key, "h", "y", m_col.alias("m"))
    blocks = (rep.groupBy(key, "m",
                          F.floor(F.col("h") / F.col("m"))
                          .alias("blk"))
              .agg(F.avg("y").alias("by")))
    per_scale = (blocks.groupBy(key, "m")
                 .agg(F.var_pop("by").alias("v"),
                      F.count(F.lit(1)).alias("nb"))
                 .where((F.col("v") > 0) & (F.col("nb") >= 2)))
    fit = comoments(per_scale, [key], OLS, Fit({
        "x": F.log(F.col("m").cast("double")), "y": F.log("v")}))
    return fit.select(
        key, F.col("n").alias("n_scales"),
        portable_round(F.lit(1.0) + ols_slope(2) / 2, _R).alias("h"))


def _hurst_sql(scales: tuple[int, ...] = HURST_SCALES) -> str:
    ms = ", ".join(str(int(m)) for m in scales)
    return f"""
WITH hourly AS ({_HOURLY_SQL}),
rep AS (
    SELECT event_type, h, y, m
    FROM hourly CROSS JOIN unnest([{ms}]) AS t(m)
),
blocks AS (
    SELECT event_type, m, h // m AS blk, avg(y) AS by
    FROM rep GROUP BY 1, 2, 3
),
per_scale AS (
    SELECT event_type, m, var_pop(by) AS v, count(*) AS nb
    FROM blocks GROUP BY 1, 2
    HAVING var_pop(by) > 0 AND count(*) >= 2
),
{comoments_sql("fit", "per_scale", ["event_type"], OLS,
               Fit({"x": "ln(CAST(m AS DOUBLE))", "y": "ln(v)"}))}
SELECT event_type, n AS n_scales,
       round(1.0 + ({ols_slope_sql(2)}) / 2, 4) AS h
FROM fit
"""


ORACLE_SQL["hurst_exponent"] = _hurst_sql()


# ------------------------------------------------------ perm_entropy
def perm_entropy(events: DataFrame, key: str = "event_type",
                 ts_col: str = "ts",
                 value_col: str = "value",
                 hourly: DataFrame | None = None) -> DataFrame:
    """Order-3 permutation entropy per series on the hourly tier:
    slide over consecutive tier POSITIONS (gaps close up — ordinal
    patterns care about order, not spacing), classify each triple
    (y0,y1,y2) into one of 6 ordinal patterns, and report the
    Shannon entropy of the pattern distribution normalized by ln 6.
    pe ≈ 1 → the series' local ups-and-downs are
    indistinguishable from noise; pe → 0 → strongly patterned
    (monotone ramps, clean sawtooth), where envelope detectors
    should switch to residual-based scoring. The standard
    complexity measure of Bandt & Pompe (2002), computed here
    without a UDF.

    Ties break toward the EARLIER index (a later equal value counts
    as "not smaller"), encoded branch-free as the 3-bit code
    4·[y1<y0] + 2·[y2<y0] + 1·[y2<y1] — the two codes 2 (y2<y0≤y1)
    and 5 (y1<y0, y2≥y0, y2<y1) are geometrically impossible, so ≤
    6 codes occur, one per permutation.

    Output: (event_type, n_windows, pe), pe rounded to 4; series
    with fewer than 3 tier points emit no row.

    Scale shape: corpus → hourly tier once; two leads over the
    series-keyed tier window; ONE (series, code) count aggregate
    (≤ 6 rows per series) and a per-series fold. The entropy is
    computed from counts, so the exchange after the tier carries 6
    rows per series.
    """
    if hourly is None:
        hourly = _hourly(events, key, ts_col, value_col)
    lw = W.partitionBy(key).orderBy("h")
    tri = (hourly
           .withColumn("y1", F.lead("y", 1).over(lw))
           .withColumn("y2", F.lead("y", 2).over(lw))
           .where(F.col("y2").isNotNull()))
    code = ((F.col("y1") < F.col("y")).cast("int") * 4
            + (F.col("y2") < F.col("y")).cast("int") * 2
            + (F.col("y2") < F.col("y1")).cast("int"))
    cnts = (tri.select(key, code.alias("code"))
            .groupBy(key, "code").agg(F.count(F.lit(1)).alias("c")))
    tot = F.sum("c")
    # -sum(c*ln c)/n + ln n  ==  -sum(p ln p), with exact integer
    # counts so both engines fold identically
    ent = (-F.sum(F.col("c").cast("double")
                  * F.log(F.col("c").cast("double"))) / tot
           + F.log(tot.cast("double")))
    return (cnts.groupBy(key)
            .agg(tot.cast("long").alias("n_windows"),
                 portable_round(ent / F.lit(math.log(6.0)), _R)
                 .alias("pe")))


_PERM_SQL = f"""
WITH hourly AS ({_HOURLY_SQL}),
tri AS (
    SELECT * FROM (
        SELECT event_type, y,
               lead(y, 1) OVER w AS y1, lead(y, 2) OVER w AS y2
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h))
    WHERE y2 IS NOT NULL
),
cnts AS (
    SELECT event_type,
           CAST(y1 < y AS INT) * 4 + CAST(y2 < y AS INT) * 2
           + CAST(y2 < y1 AS INT) AS code,
           count(*) AS c
    FROM tri GROUP BY 1, 2
)
SELECT event_type, CAST(sum(c) AS BIGINT) AS n_windows,
       round((-sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
              / sum(c) + ln(CAST(sum(c) AS DOUBLE)))
             / ln(6.0), 4) AS pe
FROM cnts GROUP BY 1
"""

ORACLE_SQL["perm_entropy"] = _PERM_SQL


# ------------------------------------------------------ max_drawdown
def max_drawdown(events: DataFrame, key: str = "event_type",
                 ts_col: str = "ts",
                 value_col: str = "value",
                 daily: DataFrame | None = None) -> DataFrame:
    """Maximum drawdown per series on the daily tier: with the
    running peak P_d = max_{d'≤d} y_d', the drawdown is
    (P_d − y_d)/P_d and the report is its maximum, the day it
    bottomed, and how many days the series spent "underwater"
    (strictly below a prior peak) — the canonical worst-case-drop /
    recovery profile, applied to capacity headroom or success-rate
    series rather than portfolios. Days whose running peak is ≤ 0
    are skipped (relative drawdown undefined).

    The trough day is selected on the ROUNDED drawdown (earliest
    day attaining the rounded max), so cross-engine float noise
    cannot flip the argmax.

    Output: (event_type, mdd, trough_day, underwater_days), mdd
    rounded to 4 (fraction of peak).

    Scale shape: corpus → daily tier once; running peak and the
    max/argmax are two passes of series-keyed tier windows plus one
    final per-series aggregate — all on ≤ span-days rows per
    series, one corpus scan.
    """
    if daily is None:
        daily = _daily(events, key, ts_col, value_col)
    peakw = (W.partitionBy(key).orderBy("day")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    dd = F.when(F.col("peak") > 0,
                (F.col("peak") - F.col("y")) / F.col("peak"))
    base = (daily
            .withColumn("peak", F.max("y").over(peakw))
            .withColumn("ddr", portable_round(dd, _R)))
    mddw = W.partitionBy(key)
    flagged = base.withColumn("mdd", F.max("ddr").over(mddw))
    return (flagged.groupBy(key)
            .agg(F.max("mdd").alias("mdd"),
                 F.min(F.when(F.col("ddr") == F.col("mdd"),
                              F.col("day"))).alias("trough_day"),
                 F.sum((F.col("ddr") > 0).cast("int"))
                 .alias("underwater_days")))


_MDD_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
base AS (
    SELECT event_type, day, y,
           max(y) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS peak
    FROM daily
),
ddx AS (
    SELECT event_type, day,
           round(CASE WHEN peak > 0 THEN (peak - y) / peak END, 4)
               AS ddr
    FROM base
),
fl AS (
    SELECT *, max(ddr) OVER (PARTITION BY event_type) AS mdd
    FROM ddx
)
SELECT event_type, max(mdd) AS mdd,
       min(CASE WHEN ddr = mdd THEN day END) AS trough_day,
       CAST(sum(CAST(ddr > 0 AS INT)) AS BIGINT) AS underwater_days
FROM fl GROUP BY 1
"""

ORACLE_SQL["max_drawdown"] = _MDD_SQL


# ------------------------------------------------------ winsor_rollup
def winsor_rollup(events: DataFrame, p: float = 0.05,
                  granularity: str = "hour",
                  key: str = "event_type", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """Robust hourly rollup: per (series, bucket), the plain mean
    next to the WINSORIZED mean (values clamped to the bucket's
    [p, 1−p] quantiles) and the TRIMMED mean (values outside
    dropped) — the robust location estimates a latency tier should
    publish beside avg, which one stuck 60-second retry can drag
    arbitrarily. Quantiles are exact linear-interpolation
    percentiles (matching ``quantile_cont``), evaluated as windows
    over the SAME (series, bucket) partition the final aggregate
    groups on, so the corpus shuffles once and AQE reuses the
    exchange.

    Output: (event_type, bucket, n, mean, wmean, tmean), floats
    rounded to 4.

    Scale shape: one (series, bucket) exchange serves both the
    quantile window and the aggregate; the per-task working set is
    one bucket of one series — bounded by per-bucket volume, not by
    series length. The exact per-bucket percentile sort is the same
    group-sized-reducer caveat as ``sessions.value_percentiles``
    (its documented ``rel_error`` sketch escape applies if buckets
    outgrow a task at extreme fan-in).
    """
    if not 0.0 < p < 0.5:
        raise ValueError(f"p must be in (0, 0.5), got {p}")
    bucket = F.date_trunc(granularity, F.col(ts_col))
    v = F.col(value_col).cast("double")
    base = events.select(F.col(key), bucket.alias("bucket"),
                         v.alias("v"))
    gw = W.partitionBy(key, "bucket")
    lo = F.percentile("v", F.lit(float(p))).over(gw)
    hi = F.percentile("v", F.lit(float(1.0 - p))).over(gw)
    clipped = base.withColumn("lo", lo).withColumn("hi", hi)
    wv = F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi"))
    inb = (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    return (clipped.groupBy(key, "bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 portable_round(F.avg("v"), _R).alias("mean"),
                 portable_round(F.avg(wv), _R).alias("wmean"),
                 portable_round(F.avg(F.when(inb, F.col("v"))), _R)
                 .alias("tmean"))
            .orderBy(key, "bucket"))


def _winsor_sql(p: float = 0.05, granularity: str = "hour") -> str:
    return f"""
WITH base AS (
    SELECT event_type,
           date_trunc('{granularity}', ts) AS bucket,
           CAST(value AS DOUBLE) AS v
    FROM events
),
q AS (
    SELECT *,
           quantile_cont(v, {float(p)}) OVER w AS lo,
           quantile_cont(v, {float(1.0 - p)}) OVER w AS hi
    FROM base
    WINDOW w AS (PARTITION BY event_type, bucket)
)
SELECT event_type, bucket, count(*) AS n,
       round(avg(v), 4) AS mean,
       round(avg(least(greatest(v, lo), hi)), 4) AS wmean,
       round(avg(CASE WHEN v >= lo AND v <= hi THEN v END), 4)
           AS tmean
FROM q GROUP BY 1, 2
"""


ORACLE_SQL["winsor_rollup"] = _winsor_sql()


# ------------------------------------------------- gini_concentration
def gini_concentration(events: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts") -> DataFrame:
    """Daily load-concentration Gini over per-user event counts:
    G = 2·Σ r·x_(r) / (N·Σx) − (N+1)/N with x_(r) the r-th smallest
    user's count — 0 when every user contributes equally, → 1 when
    one conversation IS the traffic. This is the single-number
    skew monitor that tells the partitioning layer when the salting
    path (``conv_stats_salted``) stops being optional; it
    complements ``key_skew`` (top-k shares and entropy) with the
    scale-free inequality index capacity dashboards plot.

    Ranks tie-break by user id, which leaves G unchanged (equal
    counts contribute the same regardless of order within the tie
    run — Σ r over the run is fixed) but makes the plan
    deterministic. Integer rank/count sums keep both engines exact
    until the single final division.

    Output: (day, n_users, gini), gini rounded to 4; a day with
    zero total events cannot occur (a user row exists only if it
    has events), so the denominator is always positive.

    Scale shape: corpus → (day, user) count tier (ONE map-side-
    combined groupBy); the within-day rank is DISTRIBUTED (the
    ``roc_auc`` two-level idiom) — range partitions split a hot
    day's users across tasks, row_number runs within (partition,
    day), and per-day offsets come from the partition×day count
    relation (≤ P rows per day) — so no single task ever holds a
    whole day's user list. One corpus scan; every later exchange
    is tier-sized or smaller.
    """
    daily = (events.groupBy(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.col(user_col).alias("u"))
        .agg(F.count(F.lit(1)).alias("x")))
    # distributed within-day rank (the roc_auc idiom): a day's users
    # split across range partitions; row_number within (partition,
    # day) + per-(day) offsets from the partition×day count relation
    # — no single task ever holds a whole day's users
    P = max(events.sparkSession.sparkContext.defaultParallelism, 2)
    from yahoo_anomaly_detection_spark import caching

    part = (daily.repartitionByRange(P, "day", "x", "u")
            .withColumn("_pid", F.spark_partition_id()))
    inwin = W.partitionBy("_pid", "day").orderBy("x", "u")
    # consumed by the size counts and the offset join — materialize
    # so the corpus scans once
    part = caching.materialize(
        part.withColumn("_r_in", F.row_number().over(inwin)))
    sizes = part.groupBy("_pid", "day").agg(
        F.count(F.lit(1)).alias("_n"))
    offw = (W.partitionBy("day").orderBy("_pid")
            .rowsBetween(W.unboundedPreceding, -1))
    offsets = sizes.select(
        "_pid", "day",
        F.coalesce(F.sum("_n").over(offw), F.lit(0)).alias("_off"))
    ranked = (part.join(F.broadcast(offsets), ["_pid", "day"])
              .withColumn("r", F.col("_r_in") + F.col("_off")))
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("x").cast("double")
    srx = F.sum(F.col("r").cast("long") * F.col("x")).cast("double")
    gini = (F.lit(2.0) * srx / (n * sx) - (n + 1) / n)
    return (ranked.groupBy("day")
            .agg(n.cast("long").alias("n_users"),
                 portable_round(gini, _R).alias("gini")))


_GINI_SQL = """
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, user_id AS u,
           count(*) AS x
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY day ORDER BY x, u)
              AS r
    FROM daily
)
SELECT day, count(*) AS n_users,
       round(2.0 * CAST(sum(CAST(r AS BIGINT) * x) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
             - (count(*) + 1.0) / count(*), 4) AS gini
FROM ranked GROUP BY 1
"""

ORACLE_SQL["gini_concentration"] = _GINI_SQL


# --------------------------------------------------------- ljung_box
LB_CHI2_CRIT_DF5 = 11.0705  # chi-square 0.95 quantile, df = 5


def ljung_box(events: DataFrame, max_lag: int = 5,
              crit: float = LB_CHI2_CRIT_DF5,
              key: str = "event_type", ts_col: str = "ts",
              value_col: str = "value",
              hourly: DataFrame | None = None) -> DataFrame:
    """Ljung-Box portmanteau whiteness test per series on the
    hourly tier: Q = n(n+2) Σ_{k=1..max_lag} ρ̂_k²/(n−k) with ρ̂_k
    the lag-k sample autocorrelation (positional lags over the tier
    order; the full-series mean in both numerator and denominator,
    textbook form). ``nonwhite=1`` when Q exceeds ``crit`` (default:
    χ²₀.₉₅ at df=5) — the go/no-go gate BEFORE trusting an
    i.i.d.-assuming detector threshold: a series that fails is
    autocorrelated, and its z-score envelope's false-alarm rate is
    not what the σ-multiplier promises. Complements ``acf_1d``
    (which reports the individual ρ_k) with the aggregate test
    statistic and decision.

    Output: (event_type, n, q, nonwhite); q rounded to 4; series
    with n ≤ max_lag or zero variance report NULL q and NULL flag.

    Scale shape: corpus → hourly tier once; ONE series-keyed sort
    serves all ``max_lag`` lag windows (pipelined, no extra
    exchange — plan-audited); the Q fold is one aggregate per
    series.
    """
    if hourly is None:
        hourly = _hourly(events, key, ts_col, value_col)
    kwin = W.partitionBy(key)
    lw = kwin.orderBy("h")
    d = F.col("y") - F.avg("y").over(kwin)
    base = hourly.withColumn("d", d)
    for k in range(1, max_lag + 1):
        base = base.withColumn(f"d{k}", F.lag("d", k).over(lw))
    aggs = [F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("d") * F.col("d")).alias("den")]
    for k in range(1, max_lag + 1):
        aggs.append(F.sum(F.col("d") * F.col(f"d{k}"))
                    .alias(f"num{k}"))
    m = base.groupBy(key).agg(*aggs)
    n = F.col("n")
    q = F.lit(0.0)
    for k in range(1, max_lag + 1):
        rho = F.col(f"num{k}") / F.col("den")
        q = q + rho * rho / (n - k)
    q = F.when((n > max_lag) & (F.col("den") > 0),
               n * (n + 2) * q)
    qr = portable_round(q, _R)
    return m.select(
        key, n.cast("long").alias("n"), qr.alias("q"),
        (qr > F.lit(crit)).cast("int").alias("nonwhite"))


def _ljung_box_sql(max_lag: int = 5,
                   crit: float = LB_CHI2_CRIT_DF5) -> str:
    lag_cols = ",\n           ".join(
        f"lag(d, {k}) OVER lw AS d{k}" for k in range(1, max_lag + 1))
    num_aggs = ",\n           ".join(
        f"sum(d * d{k}) AS num{k}" for k in range(1, max_lag + 1))
    q_terms = " + ".join(
        f"(num{k} / den) * (num{k} / den) / (n - {k})"
        for k in range(1, max_lag + 1))
    return f"""
WITH hourly AS ({_HOURLY_SQL}),
dev AS (
    SELECT event_type, h,
           y - avg(y) OVER (PARTITION BY event_type) AS d
    FROM hourly
),
lagged AS (
    SELECT event_type, d,
           {lag_cols}
    FROM dev
    WINDOW lw AS (PARTITION BY event_type ORDER BY h)
),
m AS (
    SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
           sum(d * d) AS den,
           {num_aggs}
    FROM lagged GROUP BY 1
),
qq AS (
    SELECT event_type, n,
           round(CASE WHEN n > {max_lag} AND den > 0
                 THEN n * (n + 2) * ({q_terms}) END, 4) AS q
    FROM m
)
SELECT event_type, CAST(n AS BIGINT) AS n, q,
       CAST(q > {crit} AS INT) AS nonwhite
FROM qq
"""


ORACLE_SQL["ljung_box"] = _ljung_box_sql()


# ------------------------------------------------------------ croston
def croston(events: DataFrame, alpha: float = 0.3,
            key: str = "event_type", ts_col: str = "ts",
            daily: DataFrame | None = None) -> DataFrame:
    """Croston intermittent-demand forecast per series over DAILY
    ARRIVAL COUNTS: simple exponential smoothing of the demand
    sizes on active days (z_hat), SES of the inter-demand intervals
    in days (p_hat), forecast = z_hat / p_hat events/day — the
    standard forecasting method for sparse, bursty series (error
    spikes, tool invocations, rare-event types) where per-day
    models see mostly zeros and Holt/Holt-Winters damp to nothing.
    Complements ``absent_1m`` (detects the silence) with the
    expected-rate figure (plans for it).

    SES is evaluated in closed form — ŷ = (1−α)^(n−1)·x₁ +
    Σ_{i≥2} α(1−α)^(n−i)·x_i — so no recursion or UDF: a
    row_number + per-series count over the active-day tier window
    and one weighted aggregate. The (1−α) base is the PYTHON float
    ``1.0 - alpha`` formatted exactly into the oracle, so both
    engines exponentiate the same double. Series with a single
    active day report p_hat/forecast NULL.

    Output: (event_type, n_demand_days, z_hat, p_hat, forecast),
    floats rounded to 4.

    Scale shape: corpus → (series, day, count) tier once; position
    index, series length and day-gap from ONE series-keyed tier
    window; two weighted folds per series. All post-tier relations
    are span-days-sized.
    """
    a = float(alpha)
    b = 1.0 - a
    if daily is None:
        daily = (events.groupBy(
            F.col(key),
            F.date_trunc("day", F.col(ts_col)).alias("day"))
            .agg(F.count(F.lit(1)).cast("double").alias("x")))
    lw = W.partitionBy(key).orderBy("day")
    seq = (daily
           .withColumn("i", F.row_number().over(lw))
           .withColumn("n", F.count(F.lit(1))
                       .over(W.partitionBy(key)).cast("double"))
           .withColumn(
               "gap",
               F.datediff(F.col("day"), F.lag("day").over(lw))
               .cast("double")))
    i, n = F.col("i"), F.col("n")
    zw = (F.when(i == 1, F.pow(F.lit(b), n - 1))
          .otherwise(F.lit(a) * F.pow(F.lit(b), n - i)))
    pw = (F.when(i == 2, F.col("gap") * F.pow(F.lit(b), n - 2))
          .when(i > 2, F.col("gap") * F.lit(a) * F.pow(F.lit(b), n - i)))
    m = seq.groupBy(key).agg(
        F.max("n").cast("long").alias("n_demand_days"),
        F.sum(F.col("x") * zw).alias("_z"),
        F.sum(pw).alias("_p"))
    p = F.when(F.col("n_demand_days") >= 2, F.col("_p"))
    return m.select(
        key, "n_demand_days",
        portable_round(F.col("_z"), _R).alias("z_hat"),
        portable_round(p, _R).alias("p_hat"),
        portable_round(F.try_divide(F.col("_z"), p), _R)
        .alias("forecast"))


def _croston_sql(alpha: float = 0.3) -> str:
    a, b = float(alpha), repr(1.0 - float(alpha))
    return f"""
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS DOUBLE) AS x
    FROM events GROUP BY 1, 2
),
seq AS (
    SELECT event_type, x,
           row_number() OVER w AS i,
           CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE)
               AS n,
           CAST(date_diff('day', lag(day) OVER w, day) AS DOUBLE)
               AS gap
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
m AS (
    SELECT event_type, CAST(max(n) AS BIGINT) AS n_demand_days,
           sum(x * CASE WHEN i = 1 THEN pow({b}, n - 1)
                   ELSE {a} * pow({b}, n - i) END) AS z,
           sum(CASE WHEN i = 2 THEN gap * pow({b}, n - 2)
                    WHEN i > 2 THEN gap * {a} * pow({b}, n - i)
               END) AS p
    FROM seq GROUP BY 1
)
SELECT event_type, n_demand_days,
       round(z, 4) AS z_hat,
       round(CASE WHEN n_demand_days >= 2 THEN p END, 4) AS p_hat,
       round(CASE WHEN n_demand_days >= 2 AND p <> 0
             THEN z / p END, 4) AS forecast
FROM m
"""


ORACLE_SQL["croston"] = _croston_sql()


# -------------------------------------------------------- corr_clusters
def corr_clusters(events: DataFrame, threshold: float = 0.6,
                  key: str = "event_type", ts_col: str = "ts",
                  value_col: str = "value") -> DataFrame:
    """Correlation clustering of series: connected components of
    the graph whose edges are series pairs with |Spearman ρ| ≥
    ``threshold`` — the "these metrics move together" grouping a
    dashboard uses to collapse a 40-series incident into 3 metric
    FAMILIES, and an alert-dedup layer uses to suppress co-firing
    siblings. Composes :func:`spearman_corr` (edge weights) with
    ``dedup.connected_components`` (min-label propagation), the
    same CC engine the near-dup clustering uses; the threshold is
    applied to the ROUNDED ρ so cross-engine float noise cannot
    add/drop an edge. Every series appears: self-loop edges are
    planted for all series, so singletons emerge as their own
    cluster without a separate left join.

    Output: (event_type, cluster) with cluster = lexicographically
    smallest series name in the component.

    Scale shape: the Spearman stage is tier-sized (see
    :func:`spearman_corr`); the CC loop runs on the |series|-node
    edge graph — trivially small, converging in ≤ diameter rounds;
    the corpus is scanned twice (once for ranks, once for the node
    list), both map-side-combined aggregates.
    """
    from yahoo_anomaly_detection_spark import caching
    from yahoo_anomaly_detection_spark.operators import dedup

    # one materialized daily tier serves the Spearman edge weights
    # AND the node list — single corpus scan
    daily = caching.materialize(
        _daily(events, key, ts_col, value_col))
    corr = spearman_corr(events, key=key, ts_col=ts_col,
                         value_col=value_col, daily=daily)
    edges = (corr.where(F.abs(F.col("rho")) >= F.lit(float(threshold)))
             .select(F.col("type_a").alias("doc_a"),
                     F.col("type_b").alias("doc_b")))
    loops = (daily.select(key).distinct()
             .select(F.col(key).alias("doc_a"),
                     F.col(key).alias("doc_b")))
    cc = dedup.connected_components(edges.unionByName(loops),
                                    max_iter=10)
    return (cc.select(F.col("doc_id").alias(key), "cluster")
            .orderBy(key))


def _corr_clusters_sql(threshold: float = 0.6) -> str:
    return f"""
WITH RECURSIVE daily AS ({_DAILY_SQL}),
ranked AS (
    SELECT event_type, day,
           rank() OVER (PARTITION BY event_type ORDER BY y)
           + (count(*) OVER (PARTITION BY event_type, y) - 1) / 2.0
               AS r
    FROM daily
),
rpairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.r AS ra, b.r AS rb
    FROM ranked a JOIN ranked b
      ON a.day = b.day AND a.event_type < b.event_type
),
mm AS (
    SELECT type_a, type_b, CAST(count(*) AS DOUBLE) AS n,
           sum(ra) AS sa, sum(rb) AS sb, sum(ra * rb) AS sab,
           sum(ra * ra) AS saa, sum(rb * rb) AS sbb
    FROM rpairs GROUP BY 1, 2
),
corr AS (
    SELECT type_a, type_b,
           round(CASE WHEN n * saa - sa * sa > 0
                       AND n * sbb - sb * sb > 0
                 THEN (n * sab - sa * sb)
                      / sqrt((n * saa - sa * sa)
                             * (n * sbb - sb * sb))
                 END, 4) AS rho
    FROM mm
),
edges AS (
    SELECT type_a AS src, type_b AS dst FROM corr
    WHERE abs(rho) >= {float(threshold)}
    UNION ALL
    SELECT type_b, type_a FROM corr WHERE abs(rho) >= {float(threshold)}
    UNION ALL
    SELECT event_type, event_type
    FROM (SELECT DISTINCT event_type FROM daily)
),
reach(node, lab) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS event_type, min(lab) AS cluster
FROM reach GROUP BY node
"""


ORACLE_SQL["corr_clusters"] = _corr_clusters_sql()


# ------------------------------------------------------ series_profile
def series_profile(events: DataFrame, key: str = "event_type",
                   ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """CAPSTONE: the one-row-per-series health profile a fleet
    dashboard's series detail page renders — trend (Mann-Kendall z
    + direction), memory (Hurst H), regularity (permutation
    entropy), whiteness (Ljung-Box flag), mean-reversion speed (OU
    half-life), worst historical drop (max drawdown) and the
    intermittency forecast (Croston) — composed from the layer's
    individually-oracled operators by equi-joining their outputs on
    the series key. The point of the composition: a z-score
    envelope alert on a series with H≈0.9, pe≈0.3 and a failing
    whiteness test is statistically meaningless, and this row says
    so BEFORE the detector fires.

    Output: (event_type, n_days, mk_z, trend, h, pe, nonwhite,
    half_life_hours, mdd, forecast).

    Scale shape: the corpus is scanned exactly TWICE — once into
    the shared daily tier (mean + count columns) and once into the
    shared hourly tier — each materialized through the caching
    registry (the ``ensemble_flags`` fan-out idiom; the CALLER
    releases via ``caching.scope()``/``release_all()``) and fanned
    out to all seven branches; the final join is |series|
    single-row relations equi-joined on the key — broadcast-sized
    by construction. On a deployment with materialized tier tables
    you'd pass those via the operators' ``daily=``/``hourly=``
    parameters and scan the corpus zero times.
    """
    from yahoo_anomaly_detection_spark import caching

    daily = caching.materialize(
        _daily(events, key, ts_col, value_col))
    hourly = caching.materialize(
        _hourly(events, key, ts_col, value_col))
    mk = mann_kendall(events, key=key, ts_col=ts_col,
                      value_col=value_col, daily=daily) \
        .select(key, "n_days", F.col("z").alias("mk_z"), "trend")
    hu = hurst_exponent(events, key=key, ts_col=ts_col,
                        value_col=value_col, hourly=hourly) \
        .select(key, "h")
    pe = perm_entropy(events, key=key, ts_col=ts_col,
                      value_col=value_col, hourly=hourly) \
        .select(key, "pe")
    lb = ljung_box(events, key=key, ts_col=ts_col,
                   value_col=value_col, hourly=hourly) \
        .select(key, "nonwhite")
    ou = ou_halflife(events, key=key, ts_col=ts_col,
                     value_col=value_col, hourly=hourly) \
        .select(key, "half_life_hours")
    dd = max_drawdown(events, key=key, ts_col=ts_col,
                      value_col=value_col, daily=daily) \
        .select(key, "mdd")
    cr = croston(events, key=key, ts_col=ts_col, daily=daily) \
        .select(key, "forecast")
    out = mk
    for piece in (hu, pe, lb, ou, dd, cr):
        out = out.join(piece, key, "left")
    return out


def _series_profile_sql() -> str:
    mk = ORACLE_SQL["mann_kendall"]
    hu = ORACLE_SQL["hurst_exponent"]
    pe = ORACLE_SQL["perm_entropy"]
    lb = ORACLE_SQL["ljung_box"]
    ou = ORACLE_SQL["ou_halflife"]
    dd = ORACLE_SQL["max_drawdown"]
    cr = ORACLE_SQL["croston"]
    return f"""
SELECT mk.event_type, mk.n_days, mk.z AS mk_z, mk.trend,
       hu.h, pe.pe, lb.nonwhite, ou.half_life_hours, dd.mdd,
       cr.forecast
FROM ({mk}) mk
LEFT JOIN ({hu}) hu USING (event_type)
LEFT JOIN ({pe}) pe USING (event_type)
LEFT JOIN ({lb}) lb USING (event_type)
LEFT JOIN ({ou}) ou USING (event_type)
LEFT JOIN ({dd}) dd USING (event_type)
LEFT JOIN ({cr}) cr USING (event_type)
"""


ORACLE_SQL["series_profile"] = _series_profile_sql()


# ------------------------------------------------------ variance_decomp
def variance_decomp(events: DataFrame, key: str = "event_type",
                    ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """Calendar variance decomposition per series: the fraction of
    hourly-tier variance explained by the HOUR-OF-DAY profile and
    by the DAY-OF-WEEK profile (one-way eta² for each factor:
    SS_factor / SS_total with SS_factor = Σ_g n_g·(ȳ_g − ȳ)²) —
    the "how seasonal is this metric, and on which clock?"
    diagnostic that decides between ``seasonal_zscore`` (hour
    template), ``weekend_effect`` (weekday split) and a plain
    envelope. Complements ``dominant_period`` (finds the cycle
    length) by QUANTIFYING how much each known calendar cycle
    actually explains; eta² near 0 on both says the calendar
    template buys nothing.

    Output: (event_type, n, eta2_hour, eta2_weekday, resid_frac);
    a constant series (SS_total = 0) reports NULLs. resid_frac =
    1 − eta2_hour − eta2_weekday can go negative when the factors
    overlap (confounded design) — reported as-is, the standard
    one-way-at-a-time caveat.

    Scale shape: corpus → hourly tier once; grand/hour/weekday
    stats are three map-side-combined aggregates of the tier (24-
    and 7-row group relations broadcast back); no windows, no
    sorts.
    """
    from yahoo_anomaly_detection_spark import caching

    hourly = _hourly(events, key, ts_col, value_col)
    # derive hour-of-day / weekday from the integer epoch-hour
    # (portable: no timezone arithmetic; epoch day 0 = Thursday = 3)
    hod = (F.col("h") % 24).alias("hod")
    wd = (F.floor(F.col("h") / 24) % 7).alias("wd")
    # grand + two factor aggregates consume the tier — materialize
    # so the corpus scans once
    base = caching.materialize(hourly.select(key, "y", hod, wd))
    grand = base.groupBy(key).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("y").alias("gm"),
        (F.var_pop("y") * F.count(F.lit(1))).alias("ss_tot"))
    def _factor(col: str, out: str) -> DataFrame:
        g = base.groupBy(key, col).agg(
            F.count(F.lit(1)).cast("double").alias("ng"),
            F.avg("y").alias("mg"))
        return (g.join(F.broadcast(grand.select(key, "gm")), key)
                .groupBy(key)
                .agg(F.sum(F.col("ng")
                           * F.pow(F.col("mg") - F.col("gm"), 2))
                     .alias(out)))
    out = (grand
           .join(_factor("hod", "ss_hour"), key)
           .join(_factor("wd", "ss_wd"), key))
    tot = F.col("ss_tot")
    e_h = F.when(tot > 0, F.col("ss_hour") / tot)
    e_w = F.when(tot > 0, F.col("ss_wd") / tot)
    return out.select(
        key, F.col("n").cast("long").alias("n"),
        portable_round(e_h, _R).alias("eta2_hour"),
        portable_round(e_w, _R).alias("eta2_weekday"),
        portable_round(F.when(tot > 0,
                              F.lit(1.0) - F.col("ss_hour") / tot
                              - F.col("ss_wd") / tot), _R)
        .alias("resid_frac"))


_VARDECOMP_SQL = f"""
WITH hourly AS ({_HOURLY_SQL}),
base AS (
    SELECT event_type, y,
           h % 24 AS hod, (h // 24) % 7 AS wd
    FROM hourly
),
grand AS (
    SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
           avg(y) AS gm, var_pop(y) * count(*) AS ss_tot
    FROM base GROUP BY 1
),
fh AS (
    SELECT g.event_type,
           sum(g.ng * (g.mg - gr.gm) * (g.mg - gr.gm)) AS ss_hour
    FROM (SELECT event_type, hod, CAST(count(*) AS DOUBLE) AS ng,
                 avg(y) AS mg
          FROM base GROUP BY 1, 2) g
    JOIN grand gr USING (event_type)
    GROUP BY 1
),
fw AS (
    SELECT g.event_type,
           sum(g.ng * (g.mg - gr.gm) * (g.mg - gr.gm)) AS ss_wd
    FROM (SELECT event_type, wd, CAST(count(*) AS DOUBLE) AS ng,
                 avg(y) AS mg
          FROM base GROUP BY 1, 2) g
    JOIN grand gr USING (event_type)
    GROUP BY 1
)
SELECT gr.event_type, CAST(gr.n AS BIGINT) AS n,
       round(CASE WHEN gr.ss_tot > 0
             THEN fh.ss_hour / gr.ss_tot END, 4) AS eta2_hour,
       round(CASE WHEN gr.ss_tot > 0
             THEN fw.ss_wd / gr.ss_tot END, 4) AS eta2_weekday,
       round(CASE WHEN gr.ss_tot > 0
             THEN 1.0 - fh.ss_hour / gr.ss_tot
                  - fw.ss_wd / gr.ss_tot END, 4) AS resid_frac
FROM grand gr JOIN fh USING (event_type) JOIN fw USING (event_type)
"""

ORACLE_SQL["variance_decomp"] = _VARDECOMP_SQL


# ------------------------------------------------------ matrix_profile
def matrix_profile(events: DataFrame, m: int = 4,
                   key: str = "event_type", ts_col: str = "ts",
                   value_col: str = "value",
                   hourly: DataFrame | None = None,
                   max_span_hours: int | None = None) -> DataFrame:
    """EXACT matrix profile over the hourly tier (Yeh et al.
    ICDM'16, the UCR matrix-profile definition): for every length-m
    window of consecutive hours, the z-normalized Euclidean
    distance to its nearest non-overlapping neighbor; the global
    minimum is the series' top MOTIF pair (its most-repeated
    shape), the maximum of the per-window minima is its top
    DISCORD (the subsequence least like anything else — the
    "primitive" anomaly definition that needs no threshold, model
    or distribution assumption). This is the exact baseline that
    VERIFIES the approximate ``sax_motifs``/``sax_discords``
    family, the same exact↔scale pairing as
    ``dedup_ngram_jaccard`` ↔ ``minhash_lsh_pairs``.

    Windows with zero variance (flat) are excluded (z-norm
    undefined); windows must cover m CONSECUTIVE hours (gaps break
    a window). The exclusion zone is |i−j| ≥ m (non-overlapping),
    the standard trivial-match guard.

    Argmin/argmax are made deterministic AND engine-portable by
    integer-encoding (rounded-distance, window-hour) into one
    BIGINT — min/max of that encoding ties-break on the earliest
    window, with exact integer arithmetic on both engines (no
    struct-ordering or arg_min tie semantics in play).

    Output: one row per series — (event_type, n_windows, motif_a,
    motif_b, motif_dist, discord_at, discord_dist), distances
    rounded to 4.

    Scale shape: corpus → hourly tier once; windows come from m−1
    leads on the series-keyed tier sort; the pair relation is the
    tier self-join with the |Δh| ≥ m filter — O(windows²) per
    series, bounded by span-hours², independent of corpus rows
    (exactly :func:`mann_kendall`'s boundedness argument). But the
    span grows with RETENTION length, so at long retention the
    unbounded profile quietly becomes quadratic in wall-clock:
    ``max_span_hours=S`` bounds it by restricting each window's
    neighbor search to the band ``m ≤ Δh ≤ S`` (the standard
    limited-search-radius profile). The banded self-join is an
    EQUI-join on (series, span-block) — each window probes its own
    ``i div S`` block plus the next, so cost is
    O(windows · S) ∝ #blocks, never span², and no θ-join/cartesian
    appears in the plan. Semantics under the band: motif/discord
    are relative to the within-S neighborhood (a discord is "least
    like anything within S hours"); with S ≥ span it is exactly the
    unbounded profile. Default None keeps the exact global
    definition (the oracle-gated shape); the further scale path for
    dense long series remains SAX-first candidate generation
    (``sax_discords``) with this operator verifying candidates.
    """
    from yahoo_anomaly_detection_spark import caching

    if m < 2:
        raise ValueError(f"m must be >= 2, got {m}")
    if hourly is None:
        hourly = _hourly(events, key, ts_col, value_col)
    lw = W.partitionBy(key).orderBy("h")
    win = hourly
    for i in range(1, m):
        win = win.withColumn(f"y{i}", F.lead("y", i).over(lw))
        win = win.withColumn(f"h{i}", F.lead("h", i).over(lw))
    cols = [F.col("y")] + [F.col(f"y{i}") for i in range(1, m)]
    mu = sum(cols[1:], cols[0]) / F.lit(float(m))
    sq = [c * c for c in cols]
    var = sum(sq[1:], sq[0]) / F.lit(float(m)) - mu * mu
    consec = F.col(f"h{m-1}") == F.col("h") + (m - 1)
    base = (win.where(consec & (var > 0))
            .select(key, F.col("h"), mu.alias("mu"),
                    F.sqrt(var).alias("sd"),
                    *[c.alias(f"v{i}") for i, c in enumerate(cols)]))
    # window-relative hour index (keeps the integer encodings small
    # and identical across engines)
    h0w = W.partitionBy(key)
    base = base.withColumn("i", F.col("h") - F.min("h").over(h0w))
    znorm = [((F.col(f"v{i}") - F.col("mu")) / F.col("sd"))
             .alias(f"z{i}") for i in range(m)]
    zed = caching.materialize(
        base.select(key, "i", *znorm))

    d2 = None
    for i in range(m):
        t = (F.col(f"a.z{i}") - F.col(f"b.z{i}"))
        d2 = t * t if d2 is None else d2 + t * t
    if max_span_hours is None:
        a, b = zed.alias("a"), zed.alias("b")
        cond = ((F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("b.i") >= F.col("a.i") + m))
    else:
        s = int(max_span_hours)
        if s < m:
            raise ValueError(
                f"max_span_hours must be >= m={m}, got {s}")
        # banded self-join as an EQUI-join: block = i div S; a pair
        # with m <= ib-ia <= S always lands in a's block or the
        # next, so the a side fans out to (block, block+1) and the
        # join keys are (series, block) — never a θ-join
        a = zed.withColumn(
            "_jb", F.explode(F.array(
                F.expr(f"i div {s}"),
                F.expr(f"i div {s} + 1")))).alias("a")
        b = zed.withColumn("_jb", F.expr(f"i div {s}")).alias("b")
        cond = ((F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a._jb") == F.col("b._jb"))
                & (F.col("b.i") >= F.col("a.i") + m)
                & (F.col("b.i") <= F.col("a.i") + s))
    pairs = (a.join(b, cond)
             .select(F.col(f"a.{key}").alias(key),
                     F.col("a.i").alias("ia"),
                     F.col("b.i").alias("ib"),
                     F.sqrt(d2).alias("d")))
    pairs = caching.materialize(
        pairs.withColumn("d4", portable_key(F.col("d"))))

    # motif: min over pairs of d4*1e12 + ia*1e6 + ib (ia, ib < 1e6)
    enc_m = (F.col("d4") * F.lit(1_000_000_000_000)
             + F.col("ia").cast("long") * F.lit(1_000_000)
             + F.col("ib").cast("long"))
    motif = pairs.groupBy(key).agg(F.min(enc_m).alias("em"))
    # per-window profile: min d4 over both roles, then discord =
    # max (d4, tie -> earliest window) via d4*1e6 + (999999 - i)
    prof = (pairs.select(key, F.col("ia").alias("i"), "d4")
            .unionByName(pairs.select(key, F.col("ib").alias("i"),
                                      "d4"))
            .groupBy(key, "i").agg(F.min("d4").alias("mp")))
    enc_d = (F.col("mp") * F.lit(1_000_000)
             + (F.lit(999_999) - F.col("i").cast("long")))
    discord = prof.groupBy(key).agg(
        F.max(enc_d).alias("ed"),
        F.count(F.lit(1)).alias("n_windows"))
    h_min = base.groupBy(key).agg(F.min("h").alias("h0"))

    out = motif.join(discord, key).join(h_min, key)
    def _ts(hour_expr):
        return F.timestamp_seconds(hour_expr * F.lit(3600))
    # exact BIGINT decode (div/% — Spark's / on longs is double
    # division, whose rounding could off-by-one extreme encodings)
    mot_d4 = F.expr("em div 1000000000000")
    mot_ia = F.expr("(em % 1000000000000) div 1000000")
    mot_ib = F.expr("em % 1000000")
    dis_d4 = F.expr("ed div 1000000")
    dis_i = F.expr("999999 - ed % 1000000")
    return out.select(
        key, "n_windows",
        _ts(F.col("h0") + mot_ia).alias("motif_a"),
        _ts(F.col("h0") + mot_ib).alias("motif_b"),
        (mot_d4.cast("double") / F.lit(1e4)).alias("motif_dist"),
        _ts(F.col("h0") + dis_i).alias("discord_at"),
        (dis_d4.cast("double") / F.lit(1e4)).alias("discord_dist"),
    )


def _matrix_profile_sql(m: int = 4,
                        max_span_hours: int | None = None) -> str:
    """Oracle mirror of :func:`matrix_profile`; with
    ``max_span_hours`` it adds the band predicate directly (the
    oracle needs only correctness — the Spark side's block-equi-join
    is the scale mechanism, the SEMANTICS are just m ≤ Δ ≤ S)."""
    band = ("" if max_span_hours is None
            else f" AND b.i <= a.i + {int(max_span_hours)}")
    leads_y = ",\n           ".join(
        f"lead(y, {i}) OVER w AS y{i}" for i in range(1, m))
    leads_h = ",\n           ".join(
        f"lead(h, {i}) OVER w AS h{i}" for i in range(1, m))
    allv = " + ".join(["y"] + [f"y{i}" for i in range(1, m)])
    allsq = " + ".join(["y*y"] + [f"y{i}*y{i}" for i in range(1, m)])
    zdiff = " + ".join(
        f"((a.v{i} - a.mu)/a.sd - (b.v{i} - b.mu)/b.sd)"
        f" * ((a.v{i} - a.mu)/a.sd - (b.v{i} - b.mu)/b.sd)"
        for i in range(m))
    vcols = ", ".join(["y AS v0"]
                      + [f"y{i} AS v{i}" for i in range(1, m)])
    return f"""
WITH hourly AS ({_HOURLY_SQL}),
led AS (
    SELECT event_type, h, y,
           {leads_y},
           {leads_h}
    FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)
),
stats AS (
    SELECT event_type, h,
           ({allv}) / {float(m)} AS mu,
           ({allsq}) / {float(m)}
           - (({allv}) / {float(m)}) * (({allv}) / {float(m)}) AS var,
           {vcols}
    FROM led
    WHERE h{m-1} = h + {m-1}
),
base AS (
    SELECT *, sqrt(var) AS sd,
           h - min(h) OVER (PARTITION BY event_type) AS i
    FROM stats WHERE var > 0
),
pairs AS (
    SELECT a.event_type, a.i AS ia, b.i AS ib,
           {portable_key_sql(f"sqrt({zdiff})")} AS d4
    FROM base a JOIN base b
      ON a.event_type = b.event_type AND b.i >= a.i + {m}{band}
),
motif AS (
    SELECT event_type,
           min(d4 * 1000000000000 + CAST(ia AS BIGINT) * 1000000
               + CAST(ib AS BIGINT)) AS em
    FROM pairs GROUP BY 1
),
prof AS (
    SELECT event_type, i, min(d4) AS mp
    FROM (SELECT event_type, ia AS i, d4 FROM pairs
          UNION ALL SELECT event_type, ib, d4 FROM pairs)
    GROUP BY 1, 2
),
discord AS (
    SELECT event_type,
           max(mp * 1000000 + (999999 - CAST(i AS BIGINT))) AS ed,
           count(*) AS n_windows
    FROM prof GROUP BY 1
),
h0 AS (
    SELECT event_type, min(h) AS h0 FROM (
        SELECT event_type, h FROM stats WHERE var > 0) GROUP BY 1
)
SELECT m.event_type, d.n_windows,
       to_timestamp((h0.h0 + (m.em % 1000000000000) // 1000000)
                    * 3600)::TIMESTAMP AS motif_a,
       to_timestamp((h0.h0 + m.em % 1000000) * 3600)::TIMESTAMP
           AS motif_b,
       CAST(m.em // 1000000000000 AS DOUBLE) / 1e4 AS motif_dist,
       to_timestamp((h0.h0 + (999999 - d.ed % 1000000)) * 3600)
           ::TIMESTAMP AS discord_at,
       CAST(d.ed // 1000000 AS DOUBLE) / 1e4 AS discord_dist
FROM motif m JOIN discord d USING (event_type)
JOIN h0 USING (event_type)
"""


ORACLE_SQL["matrix_profile"] = _matrix_profile_sql()
# the banded scale path gets its own oracle anchor: same semantics
# under the m <= delta <= S band, Spark side via the block equi-join
ORACLE_SQL["matrix_profile_banded"] = _matrix_profile_sql(
    max_span_hours=48)


# ------------------------------------------------------ spread_monitor
def spread_monitor(events: DataFrame, max_halflife_days: float = 7.0,
                   key: str = "event_type", ts_col: str = "ts",
                   value_col: str = "value") -> DataFrame:
    """Engle-Granger-style pair-spread monitor on the daily tier:
    for every series pair, fit the OLS hedge y = α + β·x on common
    days, then fit AR(1) on the residual SPREAD over consecutive
    days and report its mean-reversion half-life. A pair whose
    spread reverts fast (``stable=1`` when φ ∈ (0,1) and half-life
    ≤ ``max_halflife_days``) is a RELIABLE RATIO — alert on the
    spread, not the raw series, and the alert survives traffic
    growth that would whipsaw any fixed threshold on either leg
    (the error-rate-vs-traffic idiom). Correlation (``spearman_corr``)
    says the legs MOVE together; this says their GAP comes back —
    the property a derived-metric alert actually needs.

    Output: (type_a, type_b, n_days, beta, alpha, phi,
    half_life_days, stable), floats rounded to 4; pairs with
    degenerate fits (constant leg, < 3 common days, no consecutive
    days) report NULLs and stable=0.

    Scale shape: corpus → daily tier once (materialized, the
    fan-out contract); the pair relation is the day-keyed tier
    self-join (|types|²·days rows — types is small by
    construction); OLS coefficients are one aggregate per pair,
    broadcast back onto the pair rows for the spread; the AR pass
    is one window + one aggregate over the same relation.
    """
    from yahoo_anomaly_detection_spark import caching

    daily = caching.materialize(
        _daily(events, key, ts_col, value_col))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = caching.materialize(
        a.join(b, (F.col("a.day") == F.col("b.day"))
               & (F.col(f"a.{key}") < F.col(f"b.{key}")))
        .select(F.col(f"a.{key}").alias("type_a"),
                F.col(f"b.{key}").alias("type_b"),
                F.col("a.day").alias("day"),
                F.col("a.y").alias("x"), F.col("b.y").alias("y")))
    g = comoments(pairs, ["type_a", "type_b"], OLS,
                  Fit({"x": F.col("x"), "y": F.col("y")}), means=True)
    beta = ols_slope(3)
    coef = g.select(
        "type_a", "type_b", F.col("n").alias("n_days"),
        beta.alias("beta"),
        (F.col("my") - beta * F.col("mx")).alias("alpha"))
    sp = (pairs.join(F.broadcast(coef), ["type_a", "type_b"])
          .where(F.col("beta").isNotNull())
          .select("type_a", "type_b", "day",
                  (F.col("y") - F.col("alpha")
                   - F.col("beta") * F.col("x")).alias("s")))
    lw = W.partitionBy("type_a", "type_b").orderBy("day")
    lagged = (sp
              .withColumn("slag", F.lag("s").over(lw))
              .withColumn("dlag", F.lag("day").over(lw))
              .where(F.datediff(F.col("day"), F.col("dlag")) == 1))
    m = comoments(lagged, ["type_a", "type_b"], OLS,
                  Fit({"x": F.col("slag"), "y": F.col("s")}))
    phi = ols_slope(2)
    hl = F.when(phi.isNotNull() & (phi > 0) & (phi < 1),
                F.lit(-math.log(2.0)) / F.log(phi))
    hlr = portable_round(hl, _R)
    out = (coef.join(
        m.select("type_a", "type_b",
                 portable_round(phi, _R).alias("phi"),
                 hlr.alias("half_life_days")),
        ["type_a", "type_b"], "left"))
    return out.select(
        "type_a", "type_b", "n_days",
        portable_round(F.col("beta"), _R).alias("beta"),
        portable_round(F.col("alpha"), _R).alias("alpha"),
        "phi", "half_life_days",
        F.coalesce(
            (F.col("half_life_days") <= F.lit(max_halflife_days))
            .cast("int"), F.lit(0)).alias("stable"))


def _spread_monitor_sql(max_halflife_days: float = 7.0) -> str:
    return f"""
WITH daily AS ({_DAILY_SQL}),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.day, a.y AS x, b.y AS y
    FROM daily a JOIN daily b
      ON a.day = b.day AND a.event_type < b.event_type
),
{comoments_sql("g", "pairs", ["type_a", "type_b"], OLS,
               Fit({"x": "x", "y": "y"}), means=True)},
coef AS (
    SELECT type_a, type_b, n AS n_days,
           {ols_slope_sql(3)} AS beta, mx, my
    FROM g
),
coef2 AS (
    SELECT type_a, type_b, n_days, beta,
           my - beta * mx AS alpha
    FROM coef
),
sp AS (
    SELECT p.type_a, p.type_b, p.day,
           p.y - c.alpha - c.beta * p.x AS s
    FROM pairs p JOIN coef2 c USING (type_a, type_b)
    WHERE c.beta IS NOT NULL
),
lagged AS (
    SELECT * FROM (
        SELECT type_a, type_b, s,
               lag(s) OVER w AS slag, day, lag(day) OVER w AS dlag
        FROM sp
        WINDOW w AS (PARTITION BY type_a, type_b ORDER BY day))
    WHERE date_diff('day', dlag, day) = 1
),
{comoments_sql("m", "lagged", ["type_a", "type_b"], OLS,
               Fit({"x": "slag", "y": "s"}))},
f AS (SELECT type_a, type_b, {ols_slope_sql(2)} AS phi FROM m),
h AS (
    SELECT type_a, type_b, round(phi, 4) AS phi,
           round(CASE WHEN phi > 0 AND phi < 1
                 THEN -ln(2.0) / ln(phi) END, 4) AS half_life_days
    FROM f
)
SELECT c.type_a, c.type_b, c.n_days,
       round(c.beta, 4) AS beta, round(c.alpha, 4) AS alpha,
       h.phi, h.half_life_days,
       CAST(coalesce(h.half_life_days <= {max_halflife_days}, false)
            AS INT) AS stable
FROM coef2 c LEFT JOIN h USING (type_a, type_b)
"""


ORACLE_SQL["spread_monitor"] = _spread_monitor_sql()


# --------------------------------------------------------- granger_1d
def granger_1d(events: DataFrame, f_crit: float = 4.0,
               key: str = "event_type", ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """Granger-style lagged-predictor test per ORDERED series pair
    on the daily tier: does adding x's yesterday to y's own
    yesterday improve the one-step forecast of y? Restricted model
    y_t ~ y_{t−1}; full model y_t ~ y_{t−1} + x_{t−1}; report the
    F-statistic ((RSS_r − RSS_f)/1) / (RSS_f/(n−3)) and
    ``leads=1`` when F > ``f_crit`` (≈ the 5% critical value for
    (1, n−3) dof at moderate n). The DIRECTIONAL complement of
    ``leadlag_1h``/``spearman_corr``: correlation is symmetric,
    Granger asks which one helps PREDICT the other — x→y and y→x
    are separate rows and often disagree (traffic leads errors;
    errors don't lead traffic).

    Both fits are closed-form from one pass of moment sums
    (2-predictor OLS via the normal equations / Cramer's rule), so
    the whole test is: tier → day-join pairs → lag window → ONE
    moment aggregate per ordered pair. Degenerate fits (collinear
    or constant predictors, n < 4) report NULL F and leads=0.

    Output: (x_type, y_type, n, f_stat, leads), f rounded to 4.

    Scale shape: corpus → daily tier once (materialized); ordered
    pairs from the day-keyed tier self-join (|types|²·days rows);
    consecutive-day lags from one pair-keyed window; ten moment
    sums in ONE map-side-combined aggregate per pair.
    """
    from yahoo_anomaly_detection_spark import caching

    daily = caching.materialize(
        _daily(events, key, ts_col, value_col))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (a.join(b, (F.col("a.day") == F.col("b.day"))
                    & (F.col(f"a.{key}") != F.col(f"b.{key}")))
             .select(F.col(f"a.{key}").alias("x_type"),
                     F.col(f"b.{key}").alias("y_type"),
                     F.col("a.day").alias("day"),
                     F.col("a.y").alias("x"),
                     F.col("b.y").alias("y")))
    lw = W.partitionBy("x_type", "y_type").orderBy("day")
    lagged = (pairs
              .withColumn("yl", F.lag("y").over(lw))
              .withColumn("xl", F.lag("x").over(lw))
              .withColumn("dl", F.lag("day").over(lw))
              .where(F.datediff(F.col("day"), F.col("dl")) == 1))
    mom = comoments(
        lagged, ["x_type", "y_type"], ("ya", "yb", "aa", "bb", "ab", "yy"),
        Fit({"y": F.col("y"), "a": F.col("yl"), "b": F.col("xl")}))
    n = F.col("n")
    c11, c22, c12 = F.col("saa"), F.col("sbb"), F.col("sab")
    cy1, cy2, cyy = F.col("sya"), F.col("syb"), F.col("syy")
    # restricted: y ~ yl -> RSS_r = cyy - cy1^2/c11
    rss_r = cyy - cy1 * cy1 / c11
    # full: y ~ yl + xl (Cramer) -> RSS_f = cyy - b1*cy1 - b2*cy2
    det = c11 * c22 - c12 * c12
    b1 = (cy1 * c22 - cy2 * c12) / det
    b2 = (cy2 * c11 - cy1 * c12) / det
    rss_f = cyy - b1 * cy1 - b2 * cy2
    f_ok = (n >= 4) & (c11 > 0) & (det > 0) & (rss_f > 0)
    f_stat = F.when(f_ok, (rss_r - rss_f) / (rss_f / (n - 3)))
    fr = portable_round(f_stat, _R)
    return mom.select(
        "x_type", "y_type", "n", fr.alias("f_stat"),
        F.coalesce((fr > F.lit(float(f_crit))).cast("int"),
                   F.lit(0)).alias("leads"))


def _granger_sql(f_crit: float = 4.0) -> str:
    return f"""
WITH daily AS ({_DAILY_SQL}),
pairs AS (
    SELECT a.event_type AS x_type, b.event_type AS y_type,
           a.day, a.y AS x, b.y AS y
    FROM daily a JOIN daily b
      ON a.day = b.day AND a.event_type <> b.event_type
),
lagged AS (
    SELECT * FROM (
        SELECT x_type, y_type, day, y,
               lag(y) OVER w AS yl, lag(x) OVER w AS xl,
               lag(day) OVER w AS dl
        FROM pairs
        WINDOW w AS (PARTITION BY x_type, y_type ORDER BY day))
    WHERE date_diff('day', dl, day) = 1
),
{comoments_sql("m", "lagged", ["x_type", "y_type"],
               ("ya", "yb", "aa", "bb", "ab", "yy"),
               Fit({"y": "y", "a": "yl", "b": "xl"}))},
c AS (
    SELECT x_type, y_type, n, saa AS c11, sbb AS c22, sab AS c12,
           sya AS cy1, syb AS cy2, syy AS cyy
    FROM m
),
f AS (
    SELECT x_type, y_type, n,
           CASE WHEN n >= 4 AND c11 > 0
                 AND c11 * c22 - c12 * c12 > 0
                 AND cyy - ((cy1 * c22 - cy2 * c12)
                            / (c11 * c22 - c12 * c12)) * cy1
                       - ((cy2 * c11 - cy1 * c12)
                          / (c11 * c22 - c12 * c12)) * cy2 > 0
           THEN ((cyy - cy1 * cy1 / c11)
                 - (cyy - ((cy1 * c22 - cy2 * c12)
                           / (c11 * c22 - c12 * c12)) * cy1
                        - ((cy2 * c11 - cy1 * c12)
                           / (c11 * c22 - c12 * c12)) * cy2))
                / ((cyy - ((cy1 * c22 - cy2 * c12)
                           / (c11 * c22 - c12 * c12)) * cy1
                        - ((cy2 * c11 - cy1 * c12)
                           / (c11 * c22 - c12 * c12)) * cy2)
                   / (n - 3))
           END AS f_stat
    FROM c
)
SELECT x_type, y_type, n,
       round(f_stat, 4) AS f_stat,
       CAST(coalesce(round(f_stat, 4) > {float(f_crit)}, false)
            AS INT) AS leads
FROM f
"""


ORACLE_SQL["granger_1d"] = _granger_sql()


# --------------------------------------------------------- seasonal_mk
def seasonal_mk(events: DataFrame, z_crit: float = 1.96,
                key: str = "event_type", ts_col: str = "ts",
                value_col: str = "value") -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch & Slack 1984) on the daily
    tier with WEEKDAY seasons: compute S and tie-corrected Var(S)
    within each weekday separately (Mondays compared only to other
    Mondays), then sum across seasons — a trend test that a strong
    weekly cycle cannot fool, where the plain :func:`mann_kendall`
    inflates |S| by comparing weekend troughs to weekday peaks.
    Weekday = epoch-day mod 7 (a pure grouping label — the test is
    invariant to which day is "0").

    Output: (event_type, n_days, s, var_s, z, trend), same
    contract as :func:`mann_kendall`.

    Scale shape: identical to :func:`mann_kendall` with the pair
    join further restricted to same-weekday pairs (×7 fewer
    pairs); one materialized tier, three tier-sized aggregates.
    """
    from yahoo_anomaly_detection_spark import caching

    daily = caching.materialize(
        _daily(events, key, ts_col, value_col)
        .withColumn("wd", F.floor(
            F.unix_timestamp("day") / F.lit(86400)) % 7))
    a, b = daily.alias("a"), daily.alias("b")
    s = (a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a.wd") == F.col("b.wd"))
                & (F.col("a.day") < F.col("b.day")))
         .groupBy(F.col(f"a.{key}").alias(key))
         .agg(F.sum(F.signum(F.col("b.y") - F.col("a.y")))
              .cast("long").alias("s")))
    n_tot = daily.groupBy(key).agg(F.count(F.lit(1)).alias("n_days"))
    per_wd = daily.groupBy(key, "wd").agg(
        F.count(F.lit(1)).cast("double").alias("ng"))
    t = F.col("t").cast("double")
    ties = (daily.groupBy(key, "wd", "y")
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy(key, "wd")
            .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("ttg")))
    var_g = (per_wd.join(ties, [key, "wd"])
             .select(key,
                     ((F.col("ng") * (F.col("ng") - 1)
                       * (2 * F.col("ng") + 5) - F.col("ttg"))
                      / F.lit(18.0)).alias("vg"))
             .groupBy(key).agg(F.sum("vg").alias("var_s")))
    sd = F.col("s").cast("double")
    var_s = F.col("var_s")
    z = (F.when(var_s <= 0, F.lit(0.0))
         .when(sd > 0, (sd - 1) / F.sqrt(var_s))
         .when(sd < 0, (sd + 1) / F.sqrt(var_s))
         .otherwise(F.lit(0.0)))
    out = n_tot.join(s, key).join(var_g, key).withColumn("_z", z)
    zr = portable_round(F.col("_z"), _R)
    return out.select(
        key, "n_days", "s",
        portable_round(var_s, _R).alias("var_s"),
        zr.alias("z"),
        (F.when(zr > F.lit(z_crit), F.lit(1))
         .when(zr < F.lit(-z_crit), F.lit(-1))
         .otherwise(F.lit(0))).alias("trend"))


def _seasonal_mk_sql(z_crit: float = 1.96) -> str:
    return f"""
WITH daily AS (
    SELECT *, CAST(epoch(day) // 86400 % 7 AS BIGINT) AS wd
    FROM ({_DAILY_SQL})
),
s AS (
    SELECT a.event_type, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.wd = b.wd
     AND a.day < b.day
    GROUP BY 1
),
n AS (
    SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1
),
pw AS (
    SELECT event_type, wd, CAST(count(*) AS DOUBLE) AS ng
    FROM daily GROUP BY 1, 2
),
ties AS (
    SELECT event_type, wd,
           sum(CAST(t AS DOUBLE) * (t - 1) * (2 * t + 5)) AS ttg
    FROM (SELECT event_type, wd, y, count(*) AS t
          FROM daily GROUP BY 1, 2, 3)
    GROUP BY 1, 2
),
v AS (
    SELECT p.event_type,
           sum((p.ng * (p.ng - 1) * (2 * p.ng + 5) - t.ttg)
               / 18.0) AS var_s
    FROM pw p JOIN ties t USING (event_type, wd)
    GROUP BY 1
),
zz AS (
    SELECT n.event_type, n.n_days, s.s, v.var_s,
           round(CASE
                 WHEN v.var_s <= 0 THEN 0.0
                 WHEN s.s > 0 THEN (s.s - 1) / sqrt(v.var_s)
                 WHEN s.s < 0 THEN (s.s + 1) / sqrt(v.var_s)
                 ELSE 0.0 END, 4) AS z
    FROM n JOIN s USING (event_type) JOIN v USING (event_type)
)
SELECT event_type, n_days, s, round(var_s, 4) AS var_s, z,
       CASE WHEN z > {z_crit} THEN 1
            WHEN z < -{z_crit} THEN -1 ELSE 0 END AS trend
FROM zz
"""


ORACLE_SQL["seasonal_mk"] = _seasonal_mk_sql()


# ---------------------------------------------------------- corr_break
def corr_break(events: DataFrame, z_crit: float = 1.96,
               key: str = "event_type", ts_col: str = "ts",
               value_col: str = "value") -> DataFrame:
    """Correlation-regime break per series pair: Pearson r on the
    daily tier BEFORE vs AFTER the corpus midpoint day, compared
    with Fisher's z — flag when |z₁ − z₂| / √(1/(n₁−3) + 1/(n₂−3))
    exceeds ``z_crit``. This is the DECOUPLING alarm: "errors used
    to track traffic and stopped" fires here while each leg's own
    envelope stays green and the full-window correlation still
    looks healthy. Complements :func:`spread_monitor` (is the gap
    mean-reverting?) and ``did_impact`` (level shift vs fleet) with
    the RELATIONSHIP-shift test. atanh is spelled ½·ln((1+r)/(1−r))
    so both engines evaluate the identical closed form; |r| is
    clamped to 1−1e-12 against division blow-up on perfectly
    correlated halves.

    Output: (type_a, type_b, n_before, n_after, r_before, r_after,
    z_diff, broken), floats rounded to 4; halves with < 4 common
    days or zero variance report NULLs and broken=0.

    Scale shape: corpus → daily tier once (materialized); the
    midpoint day is one 2-value aggregate broadcast via cross
    join; pair moments are ONE conditional map-side-combined
    aggregate over the day-keyed tier self-join.
    """
    from yahoo_anomaly_detection_spark import caching

    daily = caching.materialize(
        _daily(events, key, ts_col, value_col))
    bounds = daily.agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (a.join(b, (F.col("a.day") == F.col("b.day"))
                    & (F.col(f"a.{key}") < F.col(f"b.{key}")))
             .select(F.col(f"a.{key}").alias("type_a"),
                     F.col(f"b.{key}").alias("type_b"),
                     F.col("a.day").alias("day"),
                     F.col("a.y").alias("x"), F.col("b.y").alias("y"))
             .crossJoin(F.broadcast(bounds)))
    # midpoint by elapsed time — compared in integer epoch seconds
    # on BOTH engines (no timestamp construction, no tz semantics)
    mid = ((F.unix_timestamp("_d0") + F.unix_timestamp("_d1"))
           .cast("long") / F.lit(2))
    early = F.unix_timestamp("day") < mid
    xy = {"x": F.col("x"), "y": F.col("y")}
    mom = comoments(pairs, ["type_a", "type_b"], PEARSON,
                    Fit(xy, early, "1"), Fit(xy, ~early, "2"))

    def _fz(r: Column) -> Column:
        rc = F.least(F.greatest(r, F.lit(-1.0 + 1e-12)),
                     F.lit(1.0 - 1e-12))
        return F.lit(0.5) * F.log((1 + rc) / (1 - rc))

    r1, r2 = pearson("1", min_n=4), pearson("2", min_n=4)
    zd = F.when(
        r1.isNotNull() & r2.isNotNull(),
        F.abs(_fz(r1) - _fz(r2))
        / F.sqrt(1 / (F.col("n1") - 3) + 1 / (F.col("n2") - 3)))
    zr = portable_round(zd, _R)
    return mom.select(
        "type_a", "type_b",
        F.col("n1").alias("n_before"), F.col("n2").alias("n_after"),
        portable_round(r1, _R).alias("r_before"),
        portable_round(r2, _R).alias("r_after"),
        zr.alias("z_diff"),
        F.coalesce((zr > F.lit(float(z_crit))).cast("int"),
                   F.lit(0)).alias("broken"))


def _corr_break_sql(z_crit: float = 1.96) -> str:
    xy = {"x": "x", "y": "y"}
    fz = ("0.5 * ln((1 + least(greatest({r}, -1 + 1e-12), "
          "1 - 1e-12)) / (1 - least(greatest({r}, -1 + 1e-12), "
          "1 - 1e-12)))")
    return f"""
WITH daily AS ({_DAILY_SQL}),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.day, a.y AS x, b.y AS y,
           epoch(a.day) < (epoch(bo.d0) + epoch(bo.d1)) / 2.0 AS early
    FROM daily a
    JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
    CROSS JOIN bounds bo
),
{comoments_sql("mom", "pairs", ["type_a", "type_b"], PEARSON,
               Fit(xy, "early", "1"), Fit(xy, "NOT early", "2"))},
rr AS (
    SELECT *, {pearson_sql("1", min_n=4)} AS r1,
           {pearson_sql("2", min_n=4)} AS r2
    FROM mom
),
zz AS (
    SELECT *,
           round(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
                 THEN abs({fz.format(r='r1')} - {fz.format(r='r2')})
                      / sqrt(1.0 / (n1 - 3) + 1.0 / (n2 - 3))
                 END, 4) AS z_diff
    FROM rr
)
SELECT type_a, type_b, n1 AS n_before, n2 AS n_after,
       round(r1, 4) AS r_before, round(r2, 4) AS r_after, z_diff,
       CAST(coalesce(z_diff > {float(z_crit)}, false) AS INT)
           AS broken
FROM zz
"""


ORACLE_SQL["corr_break"] = _corr_break_sql()


# ---------------------------------------------------------- coflag_lift
def coflag_lift(events: DataFrame, k: float = 3.0,
                min_support: int = 2, lift_min: float = 2.0,
                key: str = "event_type", ts_col: str = "ts",
                value_col: str = "value") -> DataFrame:
    """Alert co-firing lift per series pair: robust-flag each
    (series, day) (|daily mean − series median| > k·MAD·1.4826,
    the ``mad_flags`` convention at the day grain), then for each
    pair report lift = P(both flag) / (P(a)·P(b)) over common days
    and ``grouped=1`` when lift ≥ ``lift_min`` with at least
    ``min_support`` co-firing days. This is EMPIRICAL alert
    grouping — :func:`corr_clusters` groups series whose VALUES
    co-move; this groups series whose ANOMALIES co-occur, which is
    what an incident-dedup layer actually keys on (two metrics can
    be uncorrelated day-to-day yet break together under the same
    root cause).

    Output: (type_a, type_b, n_days, a_days, b_days, both_days,
    lift, grouped); lift rounded to 4, NULL when either side never
    flags.

    Scale shape: corpus → daily tier once (materialized); per-
    series median/MAD are tier windows; the flag relation is
    tier-sized and the pair aggregate is ONE conditional
    map-side-combined groupBy over its day-keyed self-join.
    """
    from yahoo_anomaly_detection_spark import caching

    daily = _daily(events, key, ts_col, value_col)
    kwin = W.partitionBy(key)
    med = F.percentile("y", F.lit(0.5)).over(kwin)
    base = daily.withColumn("_med", med)
    mad = F.percentile(F.abs(F.col("y") - F.col("_med")),
                       F.lit(0.5)).over(kwin)
    flag = (F.coalesce(
        (F.abs(F.col("y") - F.col("_med"))
         > F.lit(float(k)) * mad * F.lit(MAD_SIGMA)).cast("int"),
        F.lit(0)))
    flags = caching.materialize(
        base.select(key, "day", flag.alias("f")))
    a, b = flags.alias("a"), flags.alias("b")
    g = (a.join(b, (F.col("a.day") == F.col("b.day"))
                & (F.col(f"a.{key}") < F.col(f"b.{key}")))
         .groupBy(F.col(f"a.{key}").alias("type_a"),
                  F.col(f"b.{key}").alias("type_b"))
         .agg(F.count(F.lit(1)).alias("n_days"),
              F.sum("a.f").alias("a_days"),
              F.sum("b.f").alias("b_days"),
              F.sum(F.col("a.f") * F.col("b.f")).alias("both_days")))
    n = F.col("n_days").cast("double")
    lift = F.when(
        (F.col("a_days") > 0) & (F.col("b_days") > 0),
        (F.col("both_days") / n)
        / ((F.col("a_days") / n) * (F.col("b_days") / n)))
    lr = portable_round(lift, _R)
    return g.select(
        "type_a", "type_b", "n_days",
        F.col("a_days").cast("long").alias("a_days"),
        F.col("b_days").cast("long").alias("b_days"),
        F.col("both_days").cast("long").alias("both_days"),
        lr.alias("lift"),
        F.coalesce(
            ((lr >= F.lit(float(lift_min)))
             & (F.col("both_days") >= F.lit(int(min_support))))
            .cast("int"), F.lit(0)).alias("grouped"))


def _coflag_sql(k: float = 3.0, min_support: int = 2,
                lift_min: float = 2.0) -> str:
    return f"""
WITH daily AS ({_DAILY_SQL}),
st AS (
    SELECT *, quantile_cont(y, 0.5)
              OVER (PARTITION BY event_type) AS med
    FROM daily
),
fl AS (
    SELECT event_type, day,
           CAST(coalesce(abs(y - med)
                > {float(k)} * (quantile_cont(abs(y - med), 0.5)
                    OVER (PARTITION BY event_type)) * {MAD_SIGMA},
                false) AS INT) AS f
    FROM st
),
g AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_days,
           CAST(sum(a.f) AS BIGINT) AS a_days,
           CAST(sum(b.f) AS BIGINT) AS b_days,
           CAST(sum(a.f * b.f) AS BIGINT) AS both_days
    FROM fl a JOIN fl b
      ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY 1, 2
),
lf AS (
    SELECT *,
           round(CASE WHEN a_days > 0 AND b_days > 0
                 THEN (CAST(both_days AS DOUBLE) / n_days)
                      / ((CAST(a_days AS DOUBLE) / n_days)
                         * (CAST(b_days AS DOUBLE) / n_days))
                 END, 4) AS lift
    FROM g
)
SELECT type_a, type_b, n_days, a_days, b_days, both_days, lift,
       CAST(coalesce(lift >= {float(lift_min)}
                     AND both_days >= {int(min_support)}, false)
            AS INT) AS grouped
FROM lf
"""


ORACLE_SQL["coflag_lift"] = _coflag_sql()
