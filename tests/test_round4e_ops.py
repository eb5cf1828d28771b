"""Round-4 wave-e operators: trigram journey flows, per-doc shingle
novelty, and the corpus Zipf power-law fit."""

import datetime as dt
import math

from pyspark.sql import functions as F

from conftest import count_exchanges, docs_df
from yahoo_anomaly_detection_spark.operators import (
    curation,
    journeys,
    textstats,
)


# ------------------------------------------------- trigram_flows
def _user_type_events(spark, rows):
    t0 = dt.datetime(2024, 6, 1)
    data = [(i, t0 + dt.timedelta(seconds=i), u, t, 1.0)
            for i, (u, t) in enumerate(rows)]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double")


def test_trigram_flows_counts_and_user_boundaries(spark):
    """Two users: trigrams never cross the user boundary, counts are
    exact, users with < 3 events contribute nothing."""
    ev = _user_type_events(spark, [
        (1, "a"), (1, "b"), (1, "c"), (1, "a"), (1, "b"), (1, "c"),
        (2, "x"), (2, "y"),  # depth 2 -> no trigram
    ])
    out = {(r.t1, r.t2, r.t3): r.n for r in
           journeys.trigram_flows(ev).collect()}
    assert out == {("a", "b", "c"): 2, ("b", "c", "a"): 1,
                   ("c", "a", "b"): 1}


def test_trigram_flows_topk_deterministic_tiebreak(spark):
    """At the k boundary, ties break by (t1, t2, t3) asc."""
    ev = _user_type_events(spark, [(1, "b"), (1, "b"), (1, "b"),
                     (2, "a"), (2, "a"), (2, "a")])
    out = journeys.trigram_flows(ev, k=1).collect()
    assert len(out) == 1
    assert (out[0].t1, out[0].t2, out[0].t3) == ("a", "a", "a")


def test_trigram_flows_single_exchange_before_agg(spark):
    """Both leads ride ONE user-key exchange; with the tiny groupBy
    and the top-k that's at most 2 shuffles total, never 3."""
    ev = _user_type_events(spark, [(1, "a")] * 5)
    assert count_exchanges(journeys.trigram_flows(ev)) <= 2


# ------------------------------------------------- shingle_novelty
def test_shingle_novelty_first_doc_owns_everything(spark):
    """doc0 introduces all its shingles (novelty 1); an exact copy at
    doc1 introduces none (novelty 0); a half-overlap doc scores in
    between; a too-short doc gets NULL."""
    base = "w1 w2 w3 w4 w5"           # 3-shingles: 3
    out = {r.doc_id: r for r in curation.shingle_novelty(docs_df(spark, [
        base,                          # doc0: all novel
        base,                          # doc1: exact copy -> 0
        "w3 w4 w5 w6 w7",              # doc2: shares (w3 w4 w5) only
        "w1 w2",                       # doc3: < n tokens -> no shingles
    ]), n=3).collect()}
    assert out[0].n_shingles == 3 and out[0].novelty == 1.0
    assert out[1].n_shingles == 3 and out[1].novelty == 0.0
    assert out[2].n_shingles == 3 and out[2].n_novel == 2
    assert abs(out[2].novelty - round(2 / 3, 4)) < 1e-9
    assert out[3].n_shingles == 0 and out[3].novelty is None


def test_shingle_novelty_every_shingle_charged_once(spark):
    """Conservation: sum(n_novel) == count of distinct shingles in the
    corpus (each distinct shingle is novel for exactly one doc)."""
    texts = ["a b c d e", "c d e f g", "f g h a b", "a b c d e f g h"]
    df = curation.shingle_novelty(docs_df(spark, texts), n=3)
    total_novel = df.agg(F.sum("n_novel")).collect()[0][0]
    distinct = set()
    for t in texts:
        w = t.split()
        distinct |= {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    assert total_novel == len(distinct)


# ------------------------------------------------- zipf_fit
def test_zipf_fit_recovers_planted_power_law(spark):
    """Plant counts n(r) = round(1000 * r^-0.8): the fit must recover
    slope ~ -0.8 with r2 ~ 1 (exact OLS vs math.log10 replica)."""
    texts = []
    toks = []
    for r in range(1, 51):
        toks += [f"tok{r:03d}"] * round(1000 * r ** -0.8)
    # spread tokens over a few docs (split is per-doc, counts global)
    step = len(toks) // 7 + 1
    texts = [" ".join(toks[i:i + step]) for i in range(0, len(toks), step)]
    row = textstats.zipf_fit(docs_df(spark, texts), k=50).collect()[0]
    assert row.n_terms == 50
    # exact replica: ranks are count-desc, token-asc
    counts = sorted(
        ((round(1000 * r ** -0.8), f"tok{r:03d}") for r in range(1, 51)),
        key=lambda p: (-p[0], p[1]))
    xs = [math.log10(i + 1) for i in range(50)]
    ys = [math.log10(c) for c, _ in counts]
    n = 50.0
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert abs(row.slope - round(slope + 1e-9, 4)) < 2e-4
    assert -0.85 < row.slope < -0.75
    assert row.r2 > 0.99


def test_zipf_fit_degenerate_single_term(spark):
    """One distinct token: var(x) = 0 -> slope/intercept/r2 NULL, not
    NaN/zero-division."""
    row = textstats.zipf_fit(docs_df(spark, ["solo solo solo"]),
                             k=10).collect()[0]
    assert row.n_terms == 1
    assert row.slope is None and row.intercept is None and row.r2 is None


# ------------------------------------------------- survival_km
def test_survival_km_textbook_small_sample(spark):
    """5 users, cutoff day 10: deaths at ages 2 (u1) and 5 (u2, u3
    censored at 5 is separate), one censored mid-range, two censored
    at the edge. Hand-computed KM product."""
    import datetime as dt
    d0 = dt.datetime(2024, 1, 1)

    def u(uid, first, last):
        return [(uid * 100, d0 + dt.timedelta(days=first), uid, "a", 1.0),
                (uid * 100 + 1, d0 + dt.timedelta(days=last), uid, "a", 1.0)]

    rows = (u(1, 0, 2)      # dies at age 2
            + u(2, 0, 5)    # dies at age 5
            + u(3, 5, 10)   # last == cutoff -> censored at age 5
            + u(4, 3, 10)   # censored at age 7
            + u(5, 0, 10))  # censored at age 10
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = {r.t_day: r for r in journeys.survival_km(ev).collect()}
    # ages: 2 (1 death, risk 5), 5 (1 death + 1 censored, risk 4),
    #       7 (censored, risk 2), 10 (censored, risk 1)
    assert out[2].n_risk == 5 and out[2].n_events == 1
    assert out[5].n_risk == 4 and out[5].n_events == 1 \
        and out[5].n_censored == 1
    assert out[7].n_risk == 2 and out[7].n_events == 0
    assert out[10].n_risk == 1 and out[10].n_censored == 1
    s2 = 1 - 1 / 5
    s5 = s2 * (1 - 1 / 4)
    assert abs(out[2].survival - round(s2 + 1e-9, 4)) < 1e-9
    assert abs(out[5].survival - round(s5 + 1e-9, 4)) < 1e-9
    # censoring-only ages don't move the curve
    assert out[7].survival == out[5].survival
    assert out[10].survival == out[5].survival


def test_survival_km_total_collapse_hits_zero(spark):
    """Everyone dies at the same age before the cutoff -> survival 0
    exactly (the ln(0) guard), and a later censored age stays 0."""
    import datetime as dt
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    for uid in (1, 2):
        rows += [(uid * 10, d0, uid, "a", 1.0),
                 (uid * 10 + 1, d0 + dt.timedelta(days=3), uid, "a", 1.0)]
    rows += [(90, d0, 9, "a", 1.0),
             (91, d0 + dt.timedelta(days=8), 9, "a", 1.0)]  # sets cutoff
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = {r.t_day: r for r in journeys.survival_km(ev).collect()}
    assert out[3].n_risk == 3 and out[3].n_events == 2
    assert out[8].n_risk == 1 and out[8].n_events == 0
    assert out[3].survival == round((1 - 2 / 3) + 1e-9, 4)
    assert out[8].survival == out[3].survival


# ------------------------------------------------- apdex
def test_apdex_bands_and_score(spark):
    from yahoo_anomaly_detection_spark.operators import tsanalytics
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 12, 10)
    vals = [10.0, 50.0, 51.0, 200.0, 201.0, None]  # sat,sat,tol,tol,fru,drop
    rows = [(i, t0 + dt.timedelta(seconds=i), 1, "a", v)
            for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = tsanalytics.apdex(ev, t_sat=50.0).collect()
    assert len(out) == 1
    r = out[0]
    assert r.bucket_start == dt.datetime(2024, 1, 1, 12, 0)
    assert (r.n, r.n_sat, r.n_tol) == (5, 2, 2)
    assert abs(r.apdex - round((2 + 1) / 5 + 1e-9, 4)) < 1e-9


# ------------------------------------------------- quantization_error
def test_quantization_error_exact_tiny_vectors(spark):
    """DIM=64 corpus of two vectors with hand-checkable scales: the
    max-|x| vector reconstructs exactly on its extreme dims; mse
    matches a numpy replica of the same quantizer."""
    import numpy as np
    from yahoo_anomaly_detection_spark.operators import similarity
    rng = np.random.default_rng(11)
    a = rng.normal(size=64).astype(np.float32)
    b = rng.normal(size=64).astype(np.float32)
    embs = spark.createDataFrame(
        [(1, a.tolist()), (2, b.tolist())],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           similarity.quantization_error(embs, qmax=127).collect()}
    s = np.maximum(np.abs(a.astype(np.float64)),
                   np.abs(b.astype(np.float64)))
    for vid, v in ((1, a), (2, b)):
        v = v.astype(np.float64)
        q = np.sign(v) * np.floor(np.abs(v) / s * 127.0 + 0.5)
        w = q * s / 127.0
        mse = float(np.mean((v - w) ** 2))
        cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        assert abs(out[vid].mse - round(mse + 1e-9, 8)) < 1e-7
        assert abs(out[vid].cos_sim - round(cos + 1e-9, 8)) < 1e-7
        assert out[vid].cos_sim > 0.999


def test_quantization_error_zero_dim_and_zero_vector(spark):
    """An all-zero dimension (scale 0) dequantizes to 0 without a
    division blowup; an all-zero vector gets cos_sim NULL, mse 0."""
    from yahoo_anomaly_detection_spark.operators import similarity
    z = [0.0] * 64
    v = [0.0] * 63 + [2.0]
    embs = spark.createDataFrame(
        [(1, z), (2, v)], "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           similarity.quantization_error(embs).collect()}
    assert out[1].mse == 0.0 and out[1].cos_sim is None
    assert out[2].mse == 0.0 and out[2].cos_sim == 1.0
    import pytest as _pt
    with _pt.raises(ValueError):
        similarity.quantization_error(embs, qmax=0)


# ------------------------------------------------- bitmap_actives
def test_bitmap_actives_matches_exact_distinct(spark):
    """Packed-bitmap distinct equals COUNT(DISTINCT) exactly —
    including ids that share a chunk, ids 32 apart (same bit,
    different chunk), duplicates, and a multi-day key."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for day, key, uids in [
        (0, "a", [0, 1, 31, 32, 63, 64, 64, 1]),   # dup ids collapse
        (0, "b", [5]),
        (1, "a", [0, 1000000, 1000032]),            # sparse chunks
    ]:
        for u in uids:
            rows.append((eid, t0 + dt.timedelta(days=day, seconds=eid),
                         u, key, 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double")
    from yahoo_anomaly_detection_spark.operators import sketches
    got = {(r.event_type, r.day.day, r.n_users)
           for r in sketches.bitmap_actives(ev).collect()}
    exact = {(r.event_type, r.day.day, r.n)
             for r in ev.groupBy("event_type",
                                 F.date_trunc("day", "ts").alias("day"))
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == exact
    assert ("a", 1, 6) in got  # dups collapsed: {0,1,31,32,63,64}


def test_bitmap_actives_weekly_tier_merge_is_exact(spark):
    """The chunk relation is a mergeable tier: OR-ing daily chunk
    bitmaps and popcounting gives the exact weekly distinct (repeat
    visitors counted once), which sum(daily distinct) gets wrong."""
    t0 = dt.datetime(2024, 6, 3)
    rows = []
    eid = 0
    for day in range(7):
        for u in [1, 2, day + 10]:  # 1,2 visit every day
            rows.append((eid, t0 + dt.timedelta(days=day), u, "k", 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double")
    from yahoo_anomaly_detection_spark.operators import sketches
    uid = F.col("user_id")
    daily = (ev.groupBy("event_type",
                        F.date_trunc("day", "ts").alias("day"),
                        F.expr("user_id div 32").alias("chunk"))
             .agg(F.expr("bit_or(shiftleft(1L, "
                         "cast(user_id % 32 as int)))").alias("bm")))
    weekly = (daily.groupBy("event_type",
                            F.date_trunc("week", "day").alias("week"),
                            "chunk")
              .agg(F.expr("bit_or(bm)").alias("bm"))
              .groupBy("event_type", "week")
              .agg(F.sum(F.bit_count("bm")).alias("n_users")))
    [r] = weekly.collect()
    assert r.n_users == 9  # {1,2} once + {10..16}, not 7*3=21
