"""Gap-based sessionization over the events stream table.

Splits each user's event sequence into sessions wherever the
inter-arrival gap exceeds a threshold, then aggregates per-session
stats — the sessionize → aggregate shape every clickstream/agent-log
pipeline runs before feature extraction. (No reference counterpart —
the reference has no event-log layer; this is an engine-side
data-pipeline operator.)

Scale shape: ONE hash shuffle on ``user_id`` serves both window
phases (the lag that detects breaks and the running sum that numbers
sessions use the same partitioning, so Catalyst plans a single
exchange with two pipelined window stages); ``session_stats`` then
reuses the same partitioning for its groupBy — map-side combined,
no second wide exchange of raw events. Ordering is made total with
the ``(ts, event_id)`` tie-break so results are deterministic and
engine-portable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from yahoo_anomaly_detection_spark.functions.portable import portable_round

_R = 4


def _tagged(events: DataFrame, gap_seconds: int) -> DataFrame:
    """(event_id, user_id, ts, value, session_id): session-numbered
    events — the single source of the break-detection/numbering
    logic shared by :func:`sessionize` and :func:`session_stats`
    (mirrors the SQL oracle's single ``_session_sql_body``)."""
    order = [F.col("ts"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    # events.ts is TIMESTAMP_NTZ in the driver parquet; the session
    # runs UTC so the cast is an identity relabel
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    brk = (
        F.when((us - F.lag(us).over(w)) / F.lit(1e6) > gap_seconds, 1)
        .otherwise(0)
        .alias("brk")
    )
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return events.select("event_id", "user_id", "ts", "value", brk).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum("brk").over(run).cast("long").alias("session_id"),
    )


def sessionize(events: DataFrame, gap_seconds: int = 28800) -> DataFrame:
    """(event_id, user_id, session_id): 0-based session number per
    user; a new session starts when the gap since the previous event
    exceeds ``gap_seconds``. First event of a user is session 0
    (NULL lag compares false, same in ANSI SQL)."""
    return _tagged(events, gap_seconds).select(
        "event_id", "user_id", "session_id"
    )


def session_stats(events: DataFrame,
                  gap_seconds: int = 28800) -> DataFrame:
    """Per-session aggregates: event count, duration (seconds),
    summed value — the session-level feature table."""
    tagged = _tagged(events, gap_seconds)
    return tagged.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.unix_micros(F.max(F.col("ts").cast("timestamp")))
          - F.unix_micros(F.min(F.col("ts").cast("timestamp"))))
         / F.lit(1e6)).alias("duration_s"),
        # rounded: float summation order differs across engines
        portable_round(F.sum("value"), _R).alias("sum_value"),
    )


def _session_sql_body(gap_seconds: int) -> str:
    return f"""
g AS (
    SELECT event_id, user_id, ts, value,
           CASE WHEN (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1e6
                     > {gap_seconds}
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT event_id, user_id, ts, value,
           CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM g
)"""


def _sessionize_sql(gap_seconds: int) -> str:
    return (
        "WITH " + _session_sql_body(gap_seconds)
        + "\nSELECT event_id, user_id, session_id FROM s"
    )


def _session_stats_sql(gap_seconds: int) -> str:
    return (
        "WITH " + _session_sql_body(gap_seconds)
        + """
SELECT user_id, session_id, count(*) AS n_events,
       (epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 AS duration_s,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY 1, 2
"""
    )


def value_percentiles(events: DataFrame,
                      rel_error: float | None = None) -> DataFrame:
    """p50/p95/p99 of ``value`` per (event_type, day) — the
    percentile rollup every latency/observability pipeline runs.

    ``rel_error=None`` (default, the oracle path): exact linear-
    interpolated percentiles (``F.percentile`` ≡ ANSI
    ``percentile_cont`` ≡ DuckDB ``quantile_cont``), matched
    bit-for-bit after portable rounding. Exact percentile is a
    sort-based aggregate — each group's values land on one reducer.
    Fine while groups are (type × day)-sized; a straggler/OOM once a
    single group outgrows a task.

    ``rel_error=r`` (the 100 TB path): ``F.approx_percentile`` with
    ``accuracy = ceil(1/r)`` — a mergeable Greenwald-Khanna-style
    sketch with map-side partial aggregation, so no group ever
    concentrates on one reducer and per-task memory is
    O(accuracy·log n) regardless of group size. Same schema; rank
    error bounded by r·n per group (bounded-vs-exact pytest on the
    sf0.001 fixture). Note approx_percentile returns an OBSERVED
    value (no interpolation), so tolerance is a rank bound, not a
    value-equality bound."""
    day = F.date_trunc("DAY", F.col("ts").cast("timestamp")).alias("day")
    v = F.col("value")
    if rel_error is None:
        pct = [F.percentile(v, q) for q in (0.5, 0.95, 0.99)]
    else:
        if not 0.0 < rel_error <= 0.5:
            raise ValueError(f"rel_error must be in (0, 0.5], got {rel_error}")
        acc = math.ceil(1.0 / rel_error)
        pct = [F.approx_percentile(v, F.lit(q), F.lit(acc))
               for q in (0.5, 0.95, 0.99)]
    return (
        events.groupBy("event_type", day)
        .agg(
            F.count(F.lit(1)).alias("n"),
            portable_round(pct[0], _R).alias("p50"),
            portable_round(pct[1], _R).alias("p95"),
            portable_round(pct[2], _R).alias("p99"),
        )
    )


_PERCENTILES_SQL = """
SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY 1, 2
"""


def distinct_counts(events: DataFrame,
                    rsd: float | None = None) -> DataFrame:
    """Distinct active ids per (event_type, day) — the cardinality
    rollup (DAU/MAU, unique-error fingerprints) every
    product-analytics and observability pipeline runs next to its
    percentiles.

    ``rsd=None`` (default, the oracle path): exact
    ``count_distinct``. Spark plans mixed distinct/plain aggregates
    as a two-phase expand: map-side partial dedup of
    ``(keys, user_id)``, then the count — correct, but the shuffle
    still carries every surviving distinct id once per map task.

    ``rsd=r`` (the 100 TB path): ``approx_count_distinct`` — a
    mergeable HyperLogLog++ sketch with map-side partial
    aggregation, so the shuffle carries one FIXED-SIZE sketch per
    group per map task no matter how many distinct ids the group
    holds, and no group ever concentrates its id set on one reducer.
    Same schema; relative standard deviation ≤ r (bounded-vs-exact
    pytest on the sf0.001 fixture). NULL ids are ignored by both
    paths (and by the oracle's ``count(DISTINCT …)``).
    """
    day = F.date_trunc("DAY", F.col("ts").cast("timestamp")).alias("day")
    if rsd is None:
        cnt = F.count_distinct(F.col("user_id"))
    else:
        if not 0.0 < rsd <= 0.4:
            raise ValueError(f"rsd must be in (0, 0.4], got {rsd}")
        cnt = F.approx_count_distinct("user_id", rsd)
    return (
        events.groupBy("event_type", day)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            cnt.alias("n_users"),
        )
    )


_DISTINCT_SQL = """
SELECT event_type, date_trunc('day', ts) AS day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def rolling_actives(events: DataFrame, window_days: int = 7,
                    sketch: bool = False) -> DataFrame:
    """Sliding-window distinct actives — for each OBSERVED day, the
    distinct users and total events over the trailing ``window_days``
    days ending that day (the 7-day-active / WAU-by-day product
    metric, the sliding sibling of :func:`distinct_counts`).

    The naive formulation is a time-range self-join (every day joined
    to its trailing week of raw events) — quadratic blowup and a
    range-join Spark can only plan as a nested loop. This operator
    never builds it — the corpus crosses exactly ONE
    map-side-combined exchange on either path, and the sliding-window
    arithmetic runs on the small post-aggregate relation:

    * exact path (default, the oracle): ``groupBy(user, day).count()``
      is the single corpus-touching stage; one relation bounded by
      users × days then serves everything — explode each row to the
      ≤ ``window_days`` window-end days it contributes to (map-side),
      ``count_distinct(user)`` per end day for actives, ``sum`` of
      the carried per-(user, day) counts for event totals. The DuckDB
      oracle deliberately USES the range-join formulation, so the
      driver gate proves explode ≡ range join.
    * ``sketch=True`` (the 100 TB path): ``groupBy(day)`` with
      ``hll_sketch_agg(user)`` + ``count(*)`` — the corpus exchange
      carries a fixed-size HyperLogLog sketch per (day, map task),
      never the id sets — then the trailing-window union is
      ``hll_union_agg`` over the exploded PER-DAY relation (#days ×
      window rows TOTAL). Unlike ``approx_count_distinct``, sketches
      of overlapping windows merge without touching the ids again —
      the property that makes sliding distinct-counts tractable when
      a single window no longer fits anywhere. Same schema; estimate
      error is HLL's (bounded-vs-exact pytest).

    Days with no events do not appear (there is no skeleton; compose
    ``gapfill`` upstream if a dense calendar is wanted).

    Output: (day, n_active, n_events) — trailing-window totals
    keyed by window END day.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.date_trunc("DAY", F.col("ts").cast("timestamp")).alias("day")
    shift = "make_interval(0,0,0,_off,0,0,0)"

    if sketch:
        per_day = events.groupBy(day).agg(
            F.hll_sketch_agg(F.col("user_id")).alias("_sk"),
            F.count(F.lit(1)).alias("_c"),
        )
        base_day, carried = "day", ["_sk", "_c"]
    else:
        per_day = events.groupBy(F.col("user_id"), day).agg(
            F.count(F.lit(1)).alias("_c"))
        base_day, carried = "day", ["user_id", "_c"]

    exploded = (
        per_day.select(
            *carried, base_day,
            F.explode(F.array(*[F.lit(i)
                                for i in range(window_days)])).alias("_off"),
        )
        .select(*carried, "_off",
                (F.col(base_day) + F.expr(shift)).alias("_end"))
    )
    if sketch:
        agg = exploded.groupBy("_end").agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col("_sk"))).alias("n_active"),
            F.sum("_c").alias("n_events"),
            F.max(F.when(F.col("_off") == 0, True)).alias("_obs"),
        )
    else:
        agg = exploded.groupBy("_end").agg(
            F.count_distinct(F.col("user_id")).alias("n_active"),
            F.sum("_c").alias("n_events"),
            F.max(F.when(F.col("_off") == 0, True)).alias("_obs"),
        )
    # the explode emits phantom end days past the data's last observed
    # day; an end day is OBSERVED iff some row reached it at offset 0
    # — a flag riding the same aggregate, no extra scan or join
    return (
        agg.where(F.col("_obs"))
        .select(F.col("_end").alias("day"), "n_active", "n_events")
    )


_ROLLING_ACTIVES_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
days AS (SELECT DISTINCT day FROM ud),
ec AS (
    SELECT date_trunc('day', ts) AS day, count(*) AS c
    FROM events GROUP BY 1
)
SELECT d.day,
       (SELECT count(DISTINCT u.user_id) FROM ud u
        WHERE u.day <= d.day
          AND u.day > d.day - INTERVAL 7 DAY) AS n_active,
       CAST((SELECT sum(e.c) FROM ec e
             WHERE e.day <= d.day
               AND e.day > d.day - INTERVAL 7 DAY) AS BIGINT) AS n_events
FROM days d
"""


def funnel(events: DataFrame,
           steps: tuple[str, ...] = ("view", "click", "purchase"),
           user_col: str = "user_id", type_col: str = "event_type",
           ts_col: str = "ts") -> DataFrame:
    """Ordered funnel analysis — the product-analytics staple: how
    many users performed step 0, then step 1 strictly AFTER their
    step-0 time, then step 2 after that, … Each user's stage-k time
    is the EARLIEST step-k event after their stage-(k−1) time (the
    standard first-touch funnel, so a user who clicks before ever
    viewing does not convert).

    Shape: one filtered, column-pruned pass per step (the
    ``event_type`` predicate pushes into the scan) feeding a
    min-aggregate; stage k joins step-k events to the stage-(k−1)
    user set on the user key — every groupBy/join hashes the SAME
    key, so AQE reuses the exchange where sizes allow, and the stage
    relations only SHRINK down the funnel. Stage counts are
    single-row aggregates unioned JVM-side — no collect, no window
    over the corpus.

    Output: (stage, step, n_users), one row per step in order.
    """
    if len(steps) < 2:
        raise ValueError(f"need at least 2 steps, got {steps!r}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"steps must be distinct, got {steps!r}")
    ev = events.select(
        user_col,
        F.col(type_col).alias("_type"),
        F.col(ts_col).cast("timestamp").alias("_ts"),
    )
    cur = (
        ev.where(F.col("_type") == steps[0])
        .groupBy(user_col).agg(F.min("_ts").alias("_t"))
    )
    stages = [cur]
    for s in steps[1:]:
        cur = (
            ev.where(F.col("_type") == s)
            .join(cur.select(user_col, "_t"), user_col)
            .where(F.col("_ts") > F.col("_t"))
            .groupBy(user_col).agg(F.min("_ts").alias("_t"))
        )
        stages.append(cur)
    rows = [
        st.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("stage"),
            F.lit(steps[i]).alias("step"),
            "n_users",
        )
        for i, st in enumerate(stages)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def retention_cohorts(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Cohort retention matrix — the other product-analytics staple
    next to :func:`funnel`: group users by their first-activity day
    (the cohort), then for each later day report how many and what
    fraction of the cohort came back (``day_offset`` days after
    first touch).

    Shape: one (user, day) dedup aggregate over the corpus, one
    min-aggregate for first-touch — both hash the user key, so AQE
    reuses the exchange — then everything downstream (the cohort ×
    offset matrix) is cohort-cardinality-sized. Because activity is
    deduped per (user, day) and each user has exactly one cohort,
    the matrix count is a plain ``count(*)``, not a distinct;
    cohort size comes from the offset-0 row via an unbounded window
    over the TINY matrix relation, never the corpus.

    Output: (cohort, day_offset, n_active, retention) — retention =
    n_active / cohort size, 1.0 at offset 0 by construction.
    """
    day = F.date_trunc("DAY", F.col(ts_col).cast("timestamp"))
    act = events.select(
        F.col(user_col).alias("_u"), day.alias("_day")).distinct()
    first = act.groupBy("_u").agg(F.min("_day").alias("cohort"))
    per = (
        act.join(first, "_u")
        .groupBy(
            "cohort",
            F.datediff(F.col("_day"), F.col("cohort")).cast("long")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    size = F.max(
        F.when(F.col("day_offset") == 0, F.col("n_active"))
    ).over(W.partitionBy("cohort"))
    return per.select(
        "cohort", "day_offset", "n_active",
        portable_round(
            F.col("n_active").cast("double") / size.cast("double"),
            _R).alias("retention"),
    )


_RETENTION_SQL = """
WITH act AS (
    SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day
    FROM events
),
first AS (SELECT u, min(day) AS cohort FROM act GROUP BY 1),
per AS (
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.day) AS BIGINT)
               AS day_offset,
           count(*) AS n_active
    FROM act a JOIN first f USING (u) GROUP BY 1, 2
)
SELECT cohort, day_offset, n_active,
       round(CAST(n_active AS DOUBLE)
             / max(CASE WHEN day_offset = 0 THEN n_active END)
               OVER (PARTITION BY cohort), 4) AS retention
FROM per
"""


def _funnel_sql(steps: tuple[str, ...] = ("view", "click",
                                          "purchase")) -> str:
    ctes = [
        f"s0 AS (SELECT user_id, min(ts) AS t FROM events "
        f"WHERE event_type = '{steps[0]}' GROUP BY 1)"
    ]
    for k in range(1, len(steps)):
        ctes.append(
            f"s{k} AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            f"JOIN s{k - 1} p ON e.user_id = p.user_id "
            f"WHERE e.event_type = '{steps[k]}' AND e.ts > p.t "
            f"GROUP BY 1)"
        )
    selects = [
        f"SELECT {k} AS stage, '{s}' AS step, count(*) AS n_users "
        f"FROM s{k}"
        for k, s in enumerate(steps)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" \
        + "\nUNION ALL ".join(selects)


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              value_cols: tuple[str, ...],
              bucket_seconds: int | None = None) -> DataFrame:
    """Scalable as-of join: every left row picks up the latest right
    row with ``right_ts <= left_ts`` for the same key.

    Built as the union+window formulation — tag both sides, sort by
    (key, ts, side) with right rows first on ties, and forward-fill
    the right-side values with ``last(..., ignorenulls)`` — so the
    plan is ONE shuffle on the key and a single window pass; the
    naive range join (``l.ts >= r.ts`` + max-per-row) explodes to
    |l|×|r| per key and is never planned here.

    ``bucket_seconds=None`` windows by the key alone — the right
    shape for a HIGH-CARDINALITY key (market-data as-of joins
    partition by symbol). A low-cardinality key (like event_type in
    :func:`events_vs_trailing_p95`) would funnel each key's full
    history through ONE window task — fine at per-type volumes that
    fit a task, a straggler/OOM beyond that. For that regime pass
    ``bucket_seconds`` (e.g. 86400): the TWO-PHASE formulation
    windows within (key, coarse time bucket) partitions — per-task
    input is one key-bucket's rows, bounded regardless of total
    history length — and covers rows that precede their bucket's
    first right row via a carry-in join:

    1. per (key, bucket): forward-fill inside the bucket (window
       partitioned by BOTH columns);
    2. bucket-last relation: the latest right row of each (key,
       bucket) — ONE row per key-bucket, corpus-size-independent;
    3. carry-in: running last over the bucket-last relation,
       partitioned by key alone — safe, it's bucket-count-sized;
    4. join carry-in back on (key, bucket) (reuses the phase-1
       partitioning) and coalesce(in-bucket fill, carry-in).

    Same contract, same results (oracle-verified), one extra
    bucket-sized shuffle. The bucket spine is derived by two extra
    column-pruned scans of the inputs (key + ts only — parquet reads
    two columns); deriving it from the phase-1 window output would
    save those scans but force materializing the full corpus between
    phases, a worse trade at every scale. NULL-bearing right values
    keep the single-phase per-column semantics: the bucket-last
    relation carries each column's last NON-NULL value per (key,
    bucket) (``max_by`` with a null-gated ordering key), not the last
    right row — so a bucket whose newest right row is NULL in one
    column still exposes that column's older value to later buckets,
    exactly as ``last(c, ignorenulls=True)`` does in one pass."""
    lt = left.withColumn("_ts", F.col(left_ts).cast("timestamp")) \
             .withColumn("_side", F.lit(1))
    for c in value_cols:
        lt = lt.withColumn(c, F.lit(None).cast("double"))
    rt = right.select(
        key,
        F.col(right_ts).cast("timestamp").alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    u = lt.unionByName(rt.select(*lt.columns))
    out_cols = [c for c in lt.columns
                if c not in value_cols + ("_ts", "_side")]

    if bucket_seconds is None:
        w = (
            W.partitionBy(key)
            .orderBy("_ts", "_side")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        filled = u.select(
            *out_cols, "_ts", "_side",
            *[
                F.last(F.col(c), ignorenulls=True).over(w).alias(c)
                for c in value_cols
            ],
        )
        return filled.where(F.col("_side") == 1).drop("_side", "_ts")

    # ---- two-phase path (low-cardinality keys) ----
    u = u.withColumn(
        "_bkt",
        F.floor(F.unix_micros("_ts") / F.lit(bucket_seconds * 1_000_000)),
    )
    wb = (
        W.partitionBy(key, "_bkt")
        .orderBy("_ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    infill = u.select(
        *out_cols, "_ts", "_side", "_bkt",
        *[
            F.last(F.col(c), ignorenulls=True).over(wb).alias(f"_in_{c}")
            for c in value_cols
        ],
    )
    # bucket-last: each column's latest NON-NULL value per (key,
    # bucket) — the null-gated ordering key makes max_by skip NULL
    # rows for that column, matching last(c, ignorenulls=True); value
    # columns break right-ts ties so the pick is deterministic on any
    # engine
    vals = F.struct(*[F.col(c) for c in value_cols])
    rlast = (
        u.where(F.col("_side") == 0)
        .groupBy(key, "_bkt")
        .agg(*[
            F.max_by(
                F.col(c),
                F.when(F.col(c).isNotNull(),
                       F.struct(F.col("_ts"), vals)),
            ).alias(f"_bl_{c}")
            for c in value_cols
        ])
    )
    # complete (key, bucket) spine (buckets with left rows but no
    # right rows still need a carry-in), then carry forward each
    # column's last non-null bucket value — STRICTLY earlier buckets
    spine = u.select(key, "_bkt").distinct().join(
        rlast, on=[key, "_bkt"], how="left"
    )
    wc = (
        W.partitionBy(key)
        .orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carry = spine.select(
        key, "_bkt",
        *[
            F.last(F.col(f"_bl_{c}"), ignorenulls=True).over(wc)
            .alias(f"_carry_{c}")
            for c in value_cols
        ],
    )
    joined = infill.join(carry, on=[key, "_bkt"], how="left")
    filled = joined.select(
        *out_cols, "_side",
        *[
            F.coalesce(F.col(f"_in_{c}"), F.col(f"_carry_{c}")).alias(c)
            for c in value_cols
        ],
    )
    return filled.where(F.col("_side") == 1).drop("_side")


def events_vs_trailing_p95(events: DataFrame) -> DataFrame:
    """Flag events whose value exceeds their event_type's trailing
    daily p95 — the percentile rollup applied back onto the raw
    stream via an as-of join. Each day's rollup becomes effective at
    the NEXT day's midnight (no same-day leakage); the first day of
    each type has no trailing baseline (NULL → flag 0).

    event_type is a LOW-cardinality key, so this runs the two-phase
    as-of join (1-day buckets): per-task window input is one type's
    single day, bounded no matter how long the stream grows — the
    single-phase path would funnel each type's full history through
    one task."""
    p = value_percentiles(events).select(
        "event_type",
        (F.col("day") + F.expr("INTERVAL 1 DAY")).alias("effective"),
        "p95",
    )
    ev = events.select("event_id", "event_type", "ts", "value")
    joined = asof_join(
        ev, p, key="event_type", left_ts="ts", right_ts="effective",
        value_cols=("p95",), bucket_seconds=86400,
    )
    return joined.select(
        "event_id",
        "event_type",
        "value",
        F.col("p95").alias("trail_p95"),
        F.when(F.col("value") > F.col("p95"), 1).otherwise(0)
        .alias("above"),
    )


def key_skew(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Exact key-skew profile of any keyed relation — the hot-key /
    shuffle-planning diagnostic (SURVEY §4's salting rewrite needs to
    KNOW which relations are skewed; this is the operator that tells
    you, and the DQ read-out for "one conversation is 40% of the
    corpus"). One row: total rows, distinct keys, max per-key count,
    exact p50/p90/p99 of the per-key count distribution, the largest
    key's share, and the exact Gini coefficient of rows-over-keys
    (0 = uniform, → 1 = one key owns everything).

    The whole profile is exact WITHOUT any corpus- or key-cardinality
    sort, via the count-of-counts (frequency-of-frequencies, the
    Good–Turing relation): per-key counts (ONE map-side-combined
    corpus exchange) roll up to (count value c, #keys with that count
    m) — a relation whose size is the number of DISTINCT count
    values, tiny even when keys number in the billions (it is bounded
    by max-count and in practice by ~hundreds). Percentiles are
    cumulative sums over it (inverse ECDF, lowest c with cum ≥ q·n);
    Gini uses the tie-block rank identity
    ``Σ_i rank_i·c_i = Σ_c c·(below·m + m(m+1)/2)`` (ties share equal
    c, so any within-tie rank order gives the same sum), then
    ``G = 2S/(nT) − (n+1)/n``. The only window runs over the tiny
    count-of-counts relation.
    """
    counts = events.groupBy(key).agg(F.count(F.lit(1)).alias("_c"))
    cc = counts.groupBy("_c").agg(F.count(F.lit(1)).alias("_m"))
    w = W.orderBy("_c").rowsBetween(W.unboundedPreceding, 0)
    cum = cc.select("_c", "_m", F.sum("_m").over(w).alias("_cum"))
    c, m = F.col("_c"), F.col("_m")
    totals = cum.agg(
        F.sum(m).alias("n_keys"),
        F.sum(c * m).alias("n_rows"),
        F.max(c).alias("max_cnt"),
        F.sum(c * ((F.col("_cum") - m) * m
                   + m * (m + 1) / F.lit(2.0))).alias("_s"),
    )
    joined = cum.crossJoin(F.broadcast(totals))
    nn = F.first("n_keys").cast("double")
    tt = F.first("n_rows").cast("double")

    def pctq(q: float, name: str) -> Column:
        return F.min(
            F.when(F.col("_cum") >= F.lit(q) * F.col("n_keys"), c)
        ).alias(name)

    return joined.agg(
        F.first("n_rows").alias("n_rows"),
        F.first("n_keys").alias("n_keys"),
        F.first("max_cnt").alias("max_cnt"),
        pctq(0.5, "p50_cnt"), pctq(0.9, "p90_cnt"), pctq(0.99, "p99_cnt"),
        portable_round(
            F.first("max_cnt").cast("double") / tt, 4).alias("top1_share"),
        portable_round(
            F.lit(2.0) * F.first("_s") / (nn * tt) - (nn + 1) / nn, 4
        ).alias("gini"),
    )


_KEY_SKEW_SQL = """
WITH counts AS (
    SELECT user_id, count(*) AS c FROM events GROUP BY 1
),
cc AS (SELECT c, count(*) AS m FROM counts GROUP BY 1),
cum AS (
    SELECT c, m,
           sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum
    FROM cc
),
tot AS (
    SELECT sum(m) AS n_keys, sum(c * m) AS n_rows, max(c) AS max_cnt,
           sum(c * ((cum - m) * m + m * (m + 1) / 2.0)) AS s
    FROM cum
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_keys AS BIGINT) AS n_keys, max_cnt,
       (SELECT min(c) FROM cum WHERE cum >= 0.5 * tot.n_keys) AS p50_cnt,
       (SELECT min(c) FROM cum WHERE cum >= 0.9 * tot.n_keys) AS p90_cnt,
       (SELECT min(c) FROM cum WHERE cum >= 0.99 * tot.n_keys) AS p99_cnt,
       round(CAST(max_cnt AS DOUBLE) / n_rows, 4) AS top1_share,
       round(2.0 * s / (CAST(n_keys AS DOUBLE) * n_rows)
             - (n_keys + 1.0) / n_keys, 4) AS gini
FROM tot
"""


_ASOF_P95_SQL = """
WITH p AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY 1, 2
),
u AS (
    SELECT NULL::BIGINT AS event_id, event_type,
           day + INTERVAL 1 DAY AS ts2, NULL::DOUBLE AS value,
           0 AS side, p95 FROM p
    UNION ALL
    SELECT event_id, event_type, ts, value, 1 AS side,
           NULL::DOUBLE AS p95 FROM events
),
f AS (
    SELECT event_id, event_type, value, side,
           last_value(p95 IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY ts2, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS trail_p95
    FROM u
)
SELECT event_id, event_type, value, trail_p95,
       CASE WHEN value > trail_p95 THEN 1 ELSE 0 END AS above
FROM f WHERE side = 1
"""


ORACLE_SQL = {
    "sessionize": _sessionize_sql(28800),
    "session_stats": _session_stats_sql(28800),
    "value_percentiles": _PERCENTILES_SQL,
    "active_users_1d": _DISTINCT_SQL,
    "rolling_actives_7d": _ROLLING_ACTIVES_SQL,
    "funnel_steps": _funnel_sql(),
    "retention_cohorts": _RETENTION_SQL,
    "events_vs_trailing_p95": _ASOF_P95_SQL,
    "key_skew": _KEY_SKEW_SQL,
}


def funnel_latency(events: DataFrame, step_a: str = "view",
                   step_b: str = "purchase",
                   user_col: str = "user_id",
                   type_col: str = "event_type",
                   ts_col: str = "ts") -> DataFrame:
    """Time-to-convert distribution for a two-step funnel: for each
    user, the seconds from their FIRST ``step_a`` to their first
    ``step_b`` strictly after it, rolled up by conversion day into
    (day, n_conversions, p50_s, p90_s, mean_s) — the "how long does
    view→purchase take, and is it drifting" metric that the step
    COUNTS (:func:`funnel`) cannot answer.

    First-touch attribution matches :func:`funnel`'s semantics: one
    conversion per user at most, anchored at the user's earliest
    ``step_a``; a ``step_b`` at the exact same timestamp does not
    count (strictly after, consistent with the funnel's ordering
    rule).

    Scale shape: the sessionize idiom — the per-user anchor
    (min ``step_a`` time) is a conditional min WINDOW over the
    user partition, the conversion is a conditional min over the
    same partition filtered to later ``step_b`` rows, so the corpus
    hashes ONCE on the user key; the day rollup is a map-side-
    combined aggregate over ≤ one row per converting user. Exact
    percentiles over (day) groups — same caveat/SLA as
    :func:`value_percentiles`, with ``approx_percentile`` as the
    documented 100 TB path.
    """
    w = W.partitionBy(user_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ta = F.min(F.when(F.col(type_col) == step_a, us)).over(w)
    tagged = events.select(
        F.col(user_col), F.col(type_col), us.alias("_us"),
        ta.alias("_ta"))
    tb = (tagged
          .where((F.col(type_col) == step_b)
                 & F.col("_ta").isNotNull()
                 & (F.col("_us") > F.col("_ta")))
          .groupBy(user_col)
          .agg(F.min("_us").alias("_tb"), F.min("_ta").alias("_ta2")))
    conv = tb.select(
        F.date_trunc(
            "day", F.timestamp_micros(F.col("_tb"))).alias("day"),
        ((F.col("_tb") - F.col("_ta2")) / F.lit(1e6)).alias("_lat"))
    return conv.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        portable_round(
            F.expr("percentile(_lat, 0.5)"), _R).alias("p50_s"),
        portable_round(
            F.expr("percentile(_lat, 0.9)"), _R).alias("p90_s"),
        portable_round(F.avg("_lat"), _R).alias("mean_s"),
    )


def _funnel_latency_sql(step_a: str = "view",
                        step_b: str = "purchase") -> str:
    return f"""
WITH t AS (
    SELECT user_id, event_type, epoch_us(ts) AS us,
           min(CASE WHEN event_type = '{step_a}' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS ta
    FROM events
),
tb AS (
    SELECT user_id, min(us) AS tb, min(ta) AS ta2
    FROM t
    WHERE event_type = '{step_b}' AND ta IS NOT NULL AND us > ta
    GROUP BY 1
),
conv AS (
    SELECT date_trunc('day', make_timestamp(tb)) AS day,
           (tb - ta2) / 1e6 AS lat
    FROM tb
)
SELECT day, count(*) AS n_conversions,
       round(quantile_cont(lat, 0.5), 4) AS p50_s,
       round(quantile_cont(lat, 0.9), 4) AS p90_s,
       round(avg(lat), 4) AS mean_s
FROM conv GROUP BY 1
"""


ORACLE_SQL["funnel_latency"] = _funnel_latency_sql()


def quota_violations(events: DataFrame, quota: int = 1,
                     window_seconds: int = 60,
                     user_col: str = "user_id",
                     ts_col: str = "ts",
                     id_col: str = "event_id") -> DataFrame:
    """Sliding-window rate-limit audit per user: at every event,
    count the user's events in the trailing ``window_seconds``
    (inclusive RANGE frame — the standard fixed-window-free rate
    limiter); an event whose trailing count exceeds ``quota`` is a
    violation. Output per user: (user_id, n_events, n_violations,
    max_rpm) — ``max_rpm`` the largest trailing-window count
    observed. The abuse/quota-enforcement audit an API gateway runs
    offline to calibrate its online limiter.

    Scale shape: ONE user-key exchange — the RANGE window partitions
    on the user and the per-user rollup reuses the same hash
    partitioning (sessionize idiom); per-task input is one user's
    stream, the frame is time-bounded so state is bounded by
    in-window events.
    """
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    counted = events.select(
        F.col(user_col), F.col(id_col),
        F.count(F.lit(1)).over(
            W.partitionBy(user_col).orderBy(us)
            .rangeBetween(-(window_seconds * 1_000_000 - 1), 0)
        ).alias("_rpm"))
    return counted.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("_rpm") > quota).cast("long"))
        .alias("n_violations"),
        F.max("_rpm").alias("max_rpm"),
    )


def _quota_sql(quota: int = 1, window_seconds: int = 60) -> str:
    return f"""
WITH c AS (
    SELECT user_id,
           count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {window_seconds * 1_000_000 - 1}
                     PRECEDING AND CURRENT ROW
           ) AS rpm
    FROM events
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN rpm > {quota} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations,
       CAST(max(rpm) AS BIGINT) AS max_rpm
FROM c GROUP BY 1
"""


ORACLE_SQL["quota_violations"] = _quota_sql()


def session_lift(events: DataFrame, gap_seconds: int = 28800,
                 min_sessions: int = 2) -> DataFrame:
    """Market-basket lift of event-type co-occurrence, with sessions
    as baskets: for each unordered type pair,
    ``lift = P(a ∧ b in session) / (P(a)·P(b))`` — lift > 1 means
    the types travel together (a flow), < 1 means they repel
    (alternative paths). The association-rule view of journeys that
    the ORDERED operators (`event_transitions`, `trigram_flows`)
    cannot give: co-presence regardless of order or distance within
    the session.

    Output: (type_a, type_b, n_a, n_b, n_both, lift) with
    type_a < type_b, lift rounded to 4; pairs seen in fewer than
    ``min_sessions`` baskets are dropped (support floor).

    Scale shape: the corpus collapses to the DISTINCT
    (user, session, type) relation (rides the sessionize exchange —
    map-side combinable); the pair join is a self-join on the
    session key with per-session fan-out ≤ |types|² (types are
    low-cardinality by construction); per-type and total counts are
    tiny relations broadcast/windowed back. Raw rows shuffle once.
    """
    tagged = _tagged(events, gap_seconds)
    baskets = (tagged
               .join(events.select("event_id", "event_type"),
                     "event_id")
               .select("user_id", "session_id", "event_type")
               .distinct())
    # one-row total as a broadcast relation, not a driver .count():
    # the operator stays lazy and composable (the shared baskets
    # subtree is served by AQE's ReusedExchange)
    ns = (baskets.select("user_id", "session_id").distinct()
          .agg(F.count(F.lit(1)).cast("double").alias("_ns")))
    per_type = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t"))
    a = baskets.select(F.col("user_id"), F.col("session_id"),
                       F.col("event_type").alias("type_a"))
    b = baskets.select(F.col("user_id"), F.col("session_id"),
                       F.col("event_type").alias("type_b"))
    pairs = (a.join(b, ["user_id", "session_id"])
             .where(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("n_both"))
             .where(F.col("n_both") >= min_sessions))
    pa = per_type.select(F.col("event_type").alias("type_a"),
                         F.col("n_t").alias("n_a"))
    pb = per_type.select(F.col("event_type").alias("type_b"),
                         F.col("n_t").alias("n_b"))
    out = (pairs.join(F.broadcast(pa), "type_a")
           .join(F.broadcast(pb), "type_b")
           .crossJoin(F.broadcast(ns)))
    lift = (F.col("n_both").cast("double") * F.col("_ns")
            / (F.col("n_a").cast("double") * F.col("n_b")))
    return out.select("type_a", "type_b", "n_a", "n_b", "n_both",
                      portable_round(lift, _R).alias("lift"))


def _session_lift_sql(gap_seconds: int = 28800,
                      min_sessions: int = 2) -> str:
    return ("WITH " + _session_sql_body(gap_seconds) + f""",
bk AS (
    SELECT DISTINCT s.user_id, s.session_id, e.event_type
    FROM s JOIN events e USING (event_id)
),
ns AS (SELECT count(*) AS n FROM
       (SELECT DISTINCT user_id, session_id FROM bk)),
pt AS (SELECT event_type, count(*) AS n_t FROM bk GROUP BY 1),
pr AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_both
    FROM bk a JOIN bk b
      ON a.user_id = b.user_id AND a.session_id = b.session_id
     AND a.event_type < b.event_type
    GROUP BY 1, 2
    HAVING count(*) >= {min_sessions}
)
SELECT pr.type_a, pr.type_b,
       pa.n_t AS n_a, pb.n_t AS n_b, pr.n_both,
       round(CAST(pr.n_both AS DOUBLE) * (SELECT n FROM ns)
             / (CAST(pa.n_t AS DOUBLE) * pb.n_t), 4) AS lift
FROM pr
JOIN pt pa ON pa.event_type = pr.type_a
JOIN pt pb ON pb.event_type = pr.type_b
""")


ORACLE_SQL["session_lift"] = _session_lift_sql()


def touch_attribution(events: DataFrame, conv_type: str = "purchase",
                      user_col: str = "user_id",
                      type_col: str = "event_type",
                      ts_col: str = "ts",
                      id_col: str = "event_id") -> DataFrame:
    """Multi-touch conversion attribution: for each user's FIRST
    ``conv_type`` event, credit the distinct touch types that
    occurred strictly before it — LINEAR credit (1/n_touch_types
    each) and LAST-TOUCH credit (1 to the latest touch) side by
    side, per touch type. The two models bracket the attribution
    spectrum; a type whose linear ≫ last-touch credit is an
    early-funnel assist the last-touch model systematically starves
    (the classic marketing-mix blind spot).

    Output: (event_type, n_users, linear_credit, last_touch_credit)
    — linear rounded to 4, last-touch an integer user count.

    Scale shape: the sessionize idiom again — first-conversion time
    is a conditional min WINDOW over the user partition; the
    distinct (user, touch-type, first-ts, last-ts) relation collapses
    map-side on the same exchange; per-user touch counts and the
    last-touch argmax run on that user-sized relation; the final
    per-type rollup is map-side combined. Raw rows shuffle once.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = W.partitionBy(user_col)
    conv_ts = F.min(
        F.when(F.col(type_col) == conv_type, us)).over(w)
    tagged = events.select(
        F.col(user_col), F.col(type_col), us.alias("_us"),
        conv_ts.alias("_conv"))
    touches = (tagged
               .where(F.col("_conv").isNotNull()
                      & (F.col("_us") < F.col("_conv"))
                      & (F.col(type_col) != conv_type))
               .groupBy(user_col, type_col)
               .agg(F.max("_us").alias("_last")))
    per_user = touches.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("_nt"),
        F.max_by(F.col(type_col), F.struct(F.col("_last"),
                                           F.col(type_col)))
        .alias("_last_type"))
    credited = touches.join(F.broadcast(per_user), user_col)
    return credited.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("n_users"),
        portable_round(
            F.sum(F.lit(1.0) / F.col("_nt")), _R)
        .alias("linear_credit"),
        F.sum((F.col(type_col) == F.col("_last_type")).cast("long"))
        .alias("last_touch_credit"),
    )


def _touch_attribution_sql(conv_type: str = "purchase") -> str:
    return f"""
WITH t AS (
    SELECT user_id, event_type, epoch_us(ts) AS us,
           min(CASE WHEN event_type = '{conv_type}'
                    THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS conv
    FROM events
),
touches AS (
    SELECT user_id, event_type, max(us) AS last_us
    FROM t
    WHERE conv IS NOT NULL AND us < conv
      AND event_type <> '{conv_type}'
    GROUP BY 1, 2
),
cnt AS (SELECT user_id, count(*) AS nt FROM touches GROUP BY 1),
lt AS (
    SELECT user_id, event_type AS last_type
    FROM (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY last_us DESC, event_type DESC) AS rn
        FROM touches
    ) WHERE rn = 1
),
pu AS (
    SELECT cnt.user_id, cnt.nt, lt.last_type
    FROM cnt JOIN lt USING (user_id)
)
SELECT touches.event_type,
       count(*) AS n_users,
       round(sum(1.0 / pu.nt), 4) AS linear_credit,
       CAST(sum(CASE WHEN touches.event_type = pu.last_type
                     THEN 1 ELSE 0 END) AS BIGINT)
           AS last_touch_credit
FROM touches JOIN pu USING (user_id)
GROUP BY 1
"""


ORACLE_SQL["touch_attribution"] = _touch_attribution_sql()
