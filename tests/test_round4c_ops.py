"""Round-4 final-wave operators: leakage-safe cluster-granular
train/val/test splitting and token-budget mixture sampling."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import count_exchanges, plan_str
from yahoo_anomaly_detection_spark.operators import (
    alerting,
    curation,
    dedup,
    sessions,
    textstats,
    tsanalytics,
)


@pytest.fixture(scope="module")
def docs80(spark):
    return spark.range(80).select(
        F.col("id").alias("doc_id"),
        # doc-unique vocabulary: no cross-doc shingle collisions, so
        # the only near-dup clusters are the planted 3-member chains
        F.expr(
            "concat_ws(' ', transform(sequence(0, 19), "
            "i -> concat('d', id, 'w', i)))"
        ).alias("text"),
    )


def test_cluster_split_no_leakage_across_splits(spark, docs80):
    """Every near-dup cluster lands in exactly ONE split — the whole
    point of the operator: no val/test doc may have a near-copy in
    train."""
    out = dedup.cluster_split(docs80).cache()
    per_key = (
        out.groupBy("split_key")
        .agg(F.countDistinct("split").alias("n_splits"),
             F.count("*").alias("members"))
    )
    assert per_key.where(F.col("n_splits") != 1).count() == 0
    # the planted 3-member dup chains exist and are split-atomic
    assert per_key.where(F.col("members") >= 3).count() > 0
    # cross-check against the cluster relation itself: cluster id IS
    # the split key for every clustered doc
    cc = dedup.dup_clusters(docs80)
    joined = out.join(cc, "doc_id", "inner")
    assert joined.where(
        F.col("split_key") != F.col("cluster")).count() == 0
    out.unpersist()


def test_cluster_split_covers_corpus_exactly_once(spark, docs80):
    out = dedup.cluster_split(docs80)
    corpus = dedup.with_dup_chains(docs80).select("doc_id")
    assert out.count() == corpus.count()
    assert out.select("doc_id").distinct().count() == corpus.count()
    assert out.join(corpus, "doc_id", "left_anti").count() == 0


def test_cluster_split_deterministic_and_salt_independent(spark, docs80):
    a = {(r.doc_id, r.split) for r in
         dedup.cluster_split(docs80, salt="cs0").collect()}
    b = {(r.doc_id, r.split) for r in
         dedup.cluster_split(docs80, salt="cs0").collect()}
    assert a == b
    c = {(r.doc_id, r.split) for r in
         dedup.cluster_split(docs80, salt="other").collect()}
    assert a != c  # an independent draw reassigns someone


def test_cluster_split_ratios_approximate(spark, docs80):
    out = dedup.cluster_split(docs80, ratios=(0.8, 0.1))
    keys = out.select("split_key", "split").distinct()
    n = keys.count()
    train = keys.where(F.col("split") == "train").count()
    # 80 distinct keys at p=0.8: allow a generous binomial band
    assert 0.6 < train / n < 0.95
    assert keys.where(F.col("split").isin("val", "test")).count() > 0


# ------------------------------------------------- mixture sampling
@pytest.fixture(scope="module")
def mix_docs(spark):
    """3 sources x 100 docs x 10 tokens each = 1000 tokens/source."""
    return spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string"))
        .alias("source"),
        F.expr("concat_ws(' ', transform(sequence(0, 9), "
               "i -> concat('t', id, '_', i)))").alias("text"),
    )


def test_mixture_sample_caps_overasked_source(spark, mix_docs):
    # s0 desired = 3000 * (2/4) = 1500 > 1000 available -> frac 1.0,
    # every s0 doc survives; s1 desired = 750 -> frac 0.75
    out = curation.mixture_sample(
        mix_docs, {"s0": 2.0, "s1": 1.0, "s2": 1.0}, 3000).cache()
    s0 = out.where(F.col("source") == "s0")
    assert s0.count() == 100
    assert s0.select("frac").distinct().collect()[0][0] == 1.0
    fr1 = out.where(F.col("source") == "s1") \
             .select("frac").distinct().collect()[0][0]
    assert fr1 == 0.75
    out.unpersist()


def test_mixture_sample_excludes_unweighted_sources(spark, mix_docs):
    out = curation.mixture_sample(mix_docs, {"s0": 1.0}, 500)
    assert out.where(F.col("source") != "s0").count() == 0
    # s0 frac = 500/1000 = 0.5: a real subset, not empty
    n = out.count()
    assert 0 < n < 100


def test_mixture_sample_expected_token_mass(spark, mix_docs):
    # all docs are 10 tokens, so realized tokens = 10 * kept docs;
    # binomial(100, 0.5) stays within +-4 sigma = +-20 of 50
    out = curation.mixture_sample(mix_docs, {"s1": 1.0}, 500)
    got = out.agg(F.sum("n_tokens")).collect()[0][0]
    assert 300 <= got <= 700


def test_mixture_sample_deterministic_and_salted(spark, mix_docs):
    w = {"s0": 1.0, "s1": 1.0}
    a = {r.doc_id for r in
         curation.mixture_sample(mix_docs, w, 1000, salt="mx0").collect()}
    b = {r.doc_id for r in
         curation.mixture_sample(mix_docs, w, 1000, salt="mx0").collect()}
    c = {r.doc_id for r in
         curation.mixture_sample(mix_docs, w, 1000, salt="zz").collect()}
    assert a == b
    assert a != c


# ------------------------------------------------- season strength
@pytest.fixture(scope="module")
def stl_series(spark):
    """Three planted series on a 4-hour minute grid: a pure linear
    trend, a pure minute-of-hour pattern, and a constant."""
    return spark.range(240).select(
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(id as int),0)")
        .alias("bucket_start"),
        F.col("id"),
    ).selectExpr(
        "stack(3, "
        " 'trend',  cast(id as double), bucket_start,"
        " 'season', cast(case when id % 60 < 30 then 10 else -10 end as double), bucket_start,"
        " 'flat',   cast(5.0 as double), bucket_start"
        ") as (conv_id, mean_v, bucket_start)"
    )


def test_season_strength_planted_components(spark, stl_series):
    rows = {r.conv_id: r for r in tsanalytics.season_strength(
        stl_series, "mean_v").collect()}
    # linear series: centered rolling mean tracks it exactly except
    # frame edges -> trend explains nearly everything
    assert rows["trend"].trend_strength > 0.95
    # minute-of-hour square wave: phase means capture it
    assert rows["season"].seasonal_strength > 0.8
    assert rows["season"].seasonal_strength > rows["trend"].seasonal_strength
    # constant series: zero variance everywhere -> NULL, never 0/0
    assert rows["flat"].trend_strength is None
    assert rows["flat"].seasonal_strength is None
    assert all(r.n_points == 240 for r in rows.values())


def test_season_strength_single_exchange(spark, stl_series):
    out = tsanalytics.season_strength(stl_series, "mean_v")
    # decomposition windows + strength rollup all ride ONE conv_id
    # hash exchange (the stack source is a local relation)
    assert count_exchanges(out) == 1


# ------------------------------------------------- exact KS drift
def _ks_numpy(a, b):
    """sup_x |F_a(x) - F_b(x)| evaluated at every pooled sample."""
    a, b = np.sort(np.asarray(a, float)), np.sort(np.asarray(b, float))
    pts = np.concatenate([a, b])
    fa = np.searchsorted(a, pts, side="right") / len(a)
    fb = np.searchsorted(b, pts, side="right") / len(b)
    return float(np.abs(fa - fb).max())


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [(t, ts, float(v)) for t, ts, v in rows],
        "event_type string, ts timestamp, value double")


def test_ks_drift_planted_identical_and_disjoint(spark):
    import datetime as dt
    rows = []
    for d, base in ((1, 0), (2, 0), (3, 100)):  # day2 == day1, day3 shifted
        for i in range(10):
            rows.append(("a", dt.datetime(2024, 1, d, 12, 0, i), base + i))
    out = {r.bucket_start.day: r for r in
           tsanalytics.ks_drift(_mk_events(spark, rows)).collect()}
    assert set(out) == {2, 3}  # first day has no predecessor
    assert out[2].ks == 0.0          # identical distributions
    assert out[3].ks == 1.0          # disjoint supports
    assert out[2].n_cur == out[2].n_ref == 10
    assert out[3].prev_bucket.day == 2


def test_ks_drift_matches_numpy_replica(spark):
    import datetime as dt
    import random
    rng = random.Random(7)
    rows, by_day = [], {1: [], 2: [], 3: []}
    for d in by_day:
        for i in range(rng.randrange(8, 40)):
            v = round(rng.gauss(d * 2.0, 1.0 + d), 3)
            by_day[d].append(v)
            rows.append(("m", dt.datetime(2024, 2, d, 3, 0, 0)
                         + dt.timedelta(seconds=i), v))
    out = {r.bucket_start.day: r.ks for r in
           tsanalytics.ks_drift(_mk_events(spark, rows)).collect()}
    for d in (2, 3):
        exp = round(_ks_numpy(by_day[d], by_day[d - 1]) + 1e-9, 4)
        assert abs(out[d] - exp) < 1e-9, (d, out[d], exp)


def test_ks_drift_plan_broadcasts_pairs(spark):
    import datetime as dt
    rows = [("a", dt.datetime(2024, 1, 1 + d, 0, 0, i), float(i))
            for d in range(3) for i in range(5)]
    out = tsanalytics.ks_drift(_mk_events(spark, rows))
    p = plan_str(out)
    assert "BroadcastHashJoin" in p       # pair relation never shuffles pts
    assert "SortMergeJoin" not in p
    # exchanges: days distinct + lag window (both day-relation-sized)
    # + the single corpus (key, pair-day) exchange
    assert count_exchanges(out) <= 3


# ------------------------------------------------- char entropy
def test_char_entropy_planted_distributions(spark):
    docs = spark.createDataFrame(
        [(1, "aaaaaaaa"),          # zero entropy, single char
         (2, "abababab"),          # exactly 1 bit/char, norm = 1
         (3, "abcdabcd"),          # exactly 2 bits/char
         (4, "aaab")],             # H = 2 - (3*log2 3)/4
        "doc_id long, text string")
    rows = {r.doc_id: r for r in textstats.char_entropy(docs).collect()}
    assert rows[1].entropy_bits == 0.0
    assert rows[1].norm_entropy is None        # d = 1: NULL, not 0/0
    assert rows[1].n_distinct_chars == 1
    assert rows[2].entropy_bits == 1.0
    assert rows[2].norm_entropy == 1.0
    assert rows[3].entropy_bits == 2.0
    import math
    exp = round(2 - 3 * math.log2(3) / 4 + 1e-9, 4)
    assert rows[4].entropy_bits == exp
    assert rows[4].n_chars_counted == 4


def test_char_entropy_python_replica(spark):
    import collections
    import math
    import random
    rng = random.Random(3)
    texts = ["".join(rng.choice("abcdefgh XYZ01") for _ in
                     range(rng.randrange(5, 200))) for _ in range(25)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: r.entropy_bits for r in
           textstats.char_entropy(docs).collect()}
    for i, t in enumerate(texts):
        c = collections.Counter(t.lower())
        n = sum(c.values())
        h = -sum(k / n * math.log2(k / n) for k in c.values())
        assert abs(got[i] - round(h + 1e-9, 4)) < 2e-4, i


# ------------------------------------------------- per-sample rate
def _mk_counter(spark, rows):
    return spark.createDataFrame(
        [(c, i, ts, None if v is None else float(v))
         for c, i, ts, v in rows],
        "conv_id string, event_id long, ts timestamp, value double")


def test_rate_range_resets_and_window_bounds(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    s = dt.timedelta(seconds=1)
    rows = [
        ("a", 0, t0, 10.0),            # first sample: no baseline
        ("a", 1, t0 + 100 * s, 15.0),  # +5
        ("a", 2, t0 + 200 * s, 3.0),   # reset -> +3
        ("a", 3, t0 + 500 * s, 4.0),   # +1; samples 0,1 out of 5m window
    ]
    out = {r.event_id: r for r in tsanalytics.rate_range(
        _mk_counter(spark, rows), window_seconds=300,
        order_cols=("event_id",)).collect()}
    assert out[0].increase_w is None and out[0].rate_per_s is None
    assert out[1].increase_w == 5.0
    assert out[2].increase_w == 8.0          # 5 + 3 within (t-300, t]
    # at event 3 (t=500): events at 200 (inc 3) and 500 (inc 1) are in
    # (200, 500]; event 1 at t=100 is out; event 2 at exactly t-300=200
    # is EXCLUDED (half-open)
    assert out[3].increase_w == 1.0
    assert out[3].rate_per_s == round(1.0 / 300 + 1e-9, 4)


def test_rate_range_half_open_boundary_exact(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 3, 1)
    rows = [("b", 0, t0, 0.0),
            ("b", 1, t0 + dt.timedelta(seconds=300), 7.0)]
    out = {r.event_id: r for r in tsanalytics.rate_range(
        _mk_counter(spark, rows), window_seconds=300,
        order_cols=("event_id",)).collect()}
    # inc at event 1 is 7; its own sample is in the window, the
    # boundary sample at exactly t-300 contributes no inc anyway
    # (first sample, NULL) -> increase 7
    assert out[1].increase_w == 7.0


def test_rate_range_single_exchange(spark):
    import datetime as dt
    rows = [("a", i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
             float(i)) for i in range(10)]
    out = tsanalytics.rate_range(_mk_counter(spark, rows),
                                 window_seconds=60,
                                 order_cols=("event_id",))
    assert count_exchanges(out) == 1
    assert out.where(F.col("rate_per_s").isNotNull()).count() == 9


# ------------------------------------------------- bigram perplexity
def test_bigram_logppl_word_order_sensitivity(spark):
    """Same unigram bag, different order: the coherent doc (made of
    the corpus's dominant transitions) must score LOWER than the
    shuffled doc — the signal unigram_logppl cannot see."""
    base = ["the cat sat on the mat"] * 8
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)]
        + [(100, "the cat sat on the mat"),
           (101, "mat the on sat cat the")],   # same bag, scrambled
        "doc_id long, text string")
    uni = {r.doc_id: r.logppl for r in
           curation.unigram_logppl(docs).collect()}
    bi = {r.doc_id: r.logppl for r in
          curation.bigram_logppl(docs).collect()}
    assert uni[100] == uni[101]          # unigram LM is order-blind
    assert bi[100] < bi[101]             # bigram LM is not
    assert bi[100] == bi[0]              # identical docs score equal


def test_bigram_logppl_python_replica(spark):
    import collections
    import math
    texts = ["a b a c", "b a", "c c c", "a", "x y"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.logppl) for r in
           curation.bigram_logppl(docs, smoothing=0.5).collect()}
    # python replica
    c12, c1 = collections.Counter(), collections.Counter()
    vocab = set()
    for t in texts:
        ws = t.split(" ")
        vocab |= set(ws)
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    V = len(vocab)
    for i, t in enumerate(texts):
        ws = t.split(" ")
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            assert i not in got      # single-token doc: absent
            continue
        lp = [math.log((c12[p] + 0.5) / (c1[p[0]] + 0.5 * V))
              for p in pairs]
        exp = round(-sum(lp) / len(lp) + 1e-9, 4)
        assert got[i][0] == len(pairs)
        assert abs(got[i][1] - exp) < 2e-4, i


# ------------------------------------------------- key skew profile
def _gini_numpy(counts):
    c = np.sort(np.asarray(counts, float))
    n = len(c)
    ranks = np.arange(1, n + 1)
    return float(2 * (ranks * c).sum() / (n * c.sum()) - (n + 1) / n)


def test_key_skew_numpy_replica_and_percentiles(spark):
    import random
    rng = random.Random(11)
    # skewed: key k appears k times for k in 1..40, plus a hot key
    rows = [(f"k{k}",) for k in range(1, 41) for _ in range(k)]
    rows += [("hot",)] * 500
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "user_id string")
    r = sessions.key_skew(df, key="user_id").collect()[0]
    counts = list(range(1, 41)) + [500]
    assert r.n_keys == 41
    assert r.n_rows == sum(counts)
    assert r.max_cnt == 500
    assert r.top1_share == round(500 / sum(counts) + 1e-9, 4)
    assert r.gini == round(_gini_numpy(counts) + 1e-9, 4)
    # inverse-ECDF percentiles: lowest count with cum keys >= q*n
    sc = sorted(counts)
    for q, got in ((0.5, r.p50_cnt), (0.9, r.p90_cnt), (0.99, r.p99_cnt)):
        import math as _m
        exp = sc[_m.ceil(q * len(sc)) - 1]
        assert got == exp, (q, got, exp)


def test_key_skew_uniform_gini_zero(spark):
    df = spark.createDataFrame(
        [(f"u{i}",) for i in range(20) for _ in range(7)],
        "user_id string")
    r = sessions.key_skew(df).collect()[0]
    assert r.gini == 0.0
    assert r.p50_cnt == r.p99_cnt == r.max_cnt == 7
    assert r.top1_share == round(7 / 140 + 1e-9, 4)


# ------------------------------------------------- SAX discords
def test_sax_discords_planted_unique_shape(spark):
    """Two series repeat the same hour shape for 6 hours; one hour of
    series b is a planted inverted shape unique in the corpus -> it
    must be b's discord with corpus count 1."""
    import datetime as dt
    rows = []
    t0 = dt.datetime(2024, 5, 1)
    for conv in ("a", "b"):
        for h in range(6):
            for mnt in range(60):
                # rising-then-falling shape, identical every hour
                v = float(mnt if mnt < 30 else 60 - mnt)
                if conv == "b" and h == 3:
                    v = -v       # planted inversion: unique shape
                rows.append((conv, t0 + dt.timedelta(hours=h,
                                                     minutes=mnt), v))
    df = spark.createDataFrame(rows,
                               "conv_id string, ts timestamp, value double")
    out = {r.conv_id: r for r in tsanalytics.sax_discords(
        df, n_frames=2, alphabet=4).collect()}
    assert out["b"].bucket_start.hour == 3
    assert out["b"].n_occurrences == 1
    # series a: every hour shares the corpus-dominant word; tie-break
    # picks its earliest hour
    assert out["a"].bucket_start.hour == 0
    assert out["a"].n_occurrences > 1


# ------------------------------------------------- anomaly movers
def test_anomaly_movers_planted_deterioration(spark):
    """Series 'bad' goes from 0 breaches on day 1 to many on day 2;
    series 'calm' stays flat -> 'bad' must be day-2's rank 1 with a
    positive delta, 'calm' delta 0."""
    import datetime as dt
    rows = []
    for d in (1, 2):
        for i in range(50):
            rows.append(("calm", dt.datetime(2024, 6, d, 1, 0, i), 10.0))
            v = 200.0 if (d == 2 and i < 20) else 10.0
            rows.append(("bad", dt.datetime(2024, 6, d, 1, 0, i), v))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double")
    out = {r.event_type: r for r in alerting.anomaly_movers(
        df, y=1.0).collect()}
    # only day 2 appears (day 1 has no predecessor)
    assert all(r.bucket_start.day == 2 for r in out.values())
    assert out["bad"].day_rank == 1
    assert out["bad"].delta > 0.3
    assert out["bad"].rate == 0.4 and out["bad"].prev_rate == 0.0
    assert out["calm"].delta == 0.0
    assert out["calm"].day_rank == 2
