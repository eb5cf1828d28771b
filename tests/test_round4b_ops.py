"""Round-4 late-wave operators: exact heavy hitters over a
Misra-Gries candidate sketch, substring-level duplicate-span
profiling, BPE pair statistics, and PAA+SAX symbolization."""

import random

import pytest
from pyspark.sql import functions as F

from conftest import count_exchanges, plan_str
from yahoo_anomaly_detection_spark.operators import (
    curation,
    dedup,
    textstats,
    tsanalytics,
)
from yahoo_anomaly_detection_spark.operators.textstats import _mg_merge


pytestmark = pytest.mark.usefixtures("release_caches")


# ------------------------------------------------- Misra-Gries sketch
def _mg_run(stream, k, n_parts):
    """Partition a stream round-robin, run the mergeable-MG kernel
    per partition batch-wise, return the candidate union."""
    import numpy as np

    cands = set()
    for p in range(n_parts):
        part = stream[p::n_parts]
        summary = {}
        # feed in two batches to exercise cross-batch merging
        for half in (part[: len(part) // 2], part[len(part) // 2:]):
            if not half:
                continue
            toks, counts = np.unique(np.array(half), return_counts=True)
            _mg_merge(summary, toks, counts, k)
        cands |= set(summary)
    return cands


def test_mg_candidate_union_superset_property():
    """Any token with global count > N/(k+1) must survive in at least
    one partition summary — the guarantee heavy_hitters' exactness
    rests on. Randomized over skewed streams."""
    rng = random.Random(42)
    for trial in range(20):
        n = rng.randrange(200, 2000)
        # Zipf-ish skew: token id = floor(1/u) capped
        stream = [f"t{min(int(1 / max(rng.random(), 1e-9)), 50)}"
                  for _ in range(n)]
        k = rng.choice([5, 10, 25])
        parts = rng.choice([1, 3, 7])
        cands = _mg_run(stream, k, parts)
        from collections import Counter
        exact = Counter(stream)
        for tok, c in exact.items():
            if c > n / (k + 1):
                assert tok in cands, (
                    f"trial {trial}: {tok} count={c} > {n}/(k+1) "
                    f"missing from candidates")


def test_mg_summary_never_exceeds_k():
    import numpy as np

    rng = random.Random(7)
    summary = {}
    for _ in range(50):
        batch = [f"x{rng.randrange(500)}" for _ in range(100)]
        toks, counts = np.unique(np.array(batch), return_counts=True)
        _mg_merge(summary, toks, counts, 16)
        assert len(summary) <= 16


# ------------------------------------------------- heavy hitters
def test_heavy_hitters_exact_vs_bruteforce(spark):
    rows = [(i, " ".join(
        ["the"] * 5 + ["of"] * 3 + [f"rare{i}"])) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.token: (r.cnt, r.freq)
           for r in textstats.heavy_hitters(
               docs, phi=0.05, counters=50).collect()}
    # N = 40*9 = 360; the: 200 (0.5556), of: 120 (0.3333); each rareN
    # appears once (1/360 < 5%)
    assert set(out) == {"the", "of"}
    assert out["the"] == (200, round(200 / 360 + 1e-9, 4))
    assert out["of"] == (120, round(120 / 360 + 1e-9, 4))


def test_heavy_hitters_phi_guard(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="phi"):
        textstats.heavy_hitters(docs, phi=0.001, counters=100)


def test_heavy_hitters_verify_is_broadcast_semi_plan(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " + f"w{i}") for i in range(30)],
        "doc_id long, text string")
    out = textstats.heavy_hitters(docs, phi=0.02, counters=100)
    plan = plan_str(out)
    # candidate set joins broadcast; the only hash exchange is the
    # map-side-combined recount groupBy
    assert "BroadcastHashJoin" in plan
    assert count_exchanges(out) == 1, plan


# ------------------------------------------------- duplicate spans
def test_dup_ngram_spans_planted_span_and_short_doc(spark):
    shared = "one two three four"  # a single shared 4-gram
    docs = spark.createDataFrame(
        [
            (1, shared + " uniq1a uniq1b"),   # 3 grams, 1 shared
            (2, "pre2 " + shared),            # 2 grams, 1 shared
            (3, "u3a u3b u3c u3d u3e"),       # 2 grams, none shared
            (4, "too short"),                 # < n words
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           dedup.dup_ngram_spans(docs, n=4).collect()}
    assert out[1].n_grams == 3 and out[1].shared_grams == 1
    assert out[1].dup_frac == round(1 / 3 + 1e-9, 4)
    assert out[2].n_grams == 2 and out[2].shared_grams == 1
    assert out[3].shared_grams == 0 and out[3].dup_frac == 0.0
    assert out[4].n_grams == 0 and out[4].dup_frac is None


def test_dup_ngram_spans_within_doc_repeat_not_shared(spark):
    # the same 4-gram twice inside ONE doc: distinct-per-doc shingles
    # mean it is not cross-doc shared
    docs = spark.createDataFrame(
        [(1, "a b c d x a b c d"), (2, "p q r s t")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           dedup.dup_ngram_spans(docs, n=4).collect()}
    assert out[1].shared_grams == 0


def test_dup_ngram_spans_no_cartesian_no_gram_broadcast(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} epsilon zeta") for i in
         range(40)],
        "doc_id long, text string")
    out = dedup.dup_ngram_spans(docs, n=4)
    plan = plan_str(out)
    assert "CartesianProduct" not in plan
    # the gram relation is exchanged on the hashed-shingle key for
    # the count/join, never collected: bounded exchange count (the
    # local plan may broadcast the SMALL count side under AQE — fine;
    # what must never appear is a broadcast of `sh` itself, which the
    # exchange bound rules out together with the cartesian check)
    assert count_exchanges(out) <= 4, plan


# ------------------------------------------------- BPE pair counts
def test_bpe_pairs_hand_counts(spark):
    docs = spark.createDataFrame(
        [(1, "aba ab"), (2, "ba x")], "doc_id long, text string")
    # pairs: aba -> ab, ba; ab -> ab; ba -> ba; x dropped (len 1)
    out = {r.pair: (r.cnt, r.rank) for r in
           curation.bpe_pair_counts(docs, k=10).collect()}
    assert out == {"ab": (2, 1), "ba": (2, 2)}


def test_bpe_pairs_take_ordered_not_global_sort(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(50)],
        "doc_id long, text string")
    plan = plan_str(curation.bpe_pair_counts(docs, k=5))
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------- SAX
def _sax_events(spark, vals):
    base = 1699999200  # hour-aligned (22:00 UTC)
    rows = [("c1", i, base + i * 450, v) for i, v in enumerate(vals)]
    return spark.createDataFrame(
        rows, "conv_id string, event_id long, epoch long, value double"
    ).select("conv_id", "event_id",
             F.timestamp_seconds("epoch").alias("ts"), "value")


def test_sax_constant_series_is_all_c(spark):
    out = tsanalytics.sax_words(
        _sax_events(spark, [5.0] * 8), n_frames=4, alphabet=4).collect()
    assert len(out) == 1
    r = out[0]
    # sd = 0 -> z = 0 for every frame -> symbol 'c'; 8 points at 450 s
    # spacing fill all 4 frames of one hour
    assert r.word == "cccc" and r.n_frames == 4 and r.n == 8


def test_sax_shape_word(spark):
    # frame means 0,0,10,10 over one hour: mu=5, sd=5 -> z=-1,+1
    # -> word 'aadd'
    out = tsanalytics.sax_words(
        _sax_events(spark, [0.0, 0.0, 0.0, 0.0, 10.0, 10.0, 10.0, 10.0]),
        n_frames=4, alphabet=4).collect()
    assert out[0].word == "aadd"


def test_sax_alphabet_and_frames_guards(spark):
    ev = _sax_events(spark, [1.0])
    with pytest.raises(ValueError, match="alphabet"):
        tsanalytics.sax_words(ev, alphabet=9)
    with pytest.raises(ValueError, match="n_frames"):
        tsanalytics.sax_words(ev, n_frames=7)


def test_sax_plan_broadcast_stats_three_exchanges(spark):
    ev = _sax_events(spark, [float(i % 11) for i in range(64)])
    out = tsanalytics.sax_words(ev)
    plan = plan_str(out)
    assert "BroadcastExchange" in plan  # per-series stats
    # frame agg + stats agg + word agg; never a window over raw points
    assert count_exchanges(out) == 3, plan
    assert "Window" not in plan


def test_sax_motifs_counts_and_series(spark):
    rows = []
    base = 1699999200
    shapes = {0: [0.0] * 4 + [10.0] * 4,
              1: [0.0] * 4 + [10.0] * 4,
              2: [10.0] * 4 + [0.0] * 4}
    eid = 0
    for conv in ("c1", "c2"):
        for h, vals in shapes.items():
            for i, v in enumerate(vals):
                rows.append((conv, eid, base + h * 3600 + i * 450, v))
                eid += 1
    ev = spark.createDataFrame(
        rows, "conv_id string, event_id long, epoch long, value double"
    ).select("conv_id", "event_id",
             F.timestamp_seconds("epoch").alias("ts"), "value")
    out = tsanalytics.sax_motifs(ev, k=5, n_frames=2).collect()
    by_word = {r.word: r for r in out}
    # "ad" twice per series x 2 series; "da" once per series
    assert by_word["ad"].n_occurrences == 4
    assert by_word["ad"].n_series == 2 and by_word["ad"].rank == 1
    assert by_word["da"].n_occurrences == 2 and by_word["da"].n_series == 2


# ------------------------------------------------- sigma clipping
def _sigma_events(spark, vals):
    # 60 s spacing keeps every point inside ONE day bucket (the SAX
    # helper's 450 s spacing crosses midnight after 16 points)
    base = 1699999200
    rows = [("c1", i, base + i * 60, v) for i, v in enumerate(vals)]
    return spark.createDataFrame(
        rows, "conv_id string, event_id long, epoch long, value double"
    ).select("conv_id", "event_id",
             F.timestamp_seconds("epoch").alias("ts"), "value")


def test_sigma_clip_unmasks_second_outlier(spark):
    import numpy as np

    vals = [10.0] * 20 + [1000.0, 25.0]
    ev = _sigma_events(spark, vals)
    out = {r.event_id: r for r in
           tsanalytics.sigma_clip(ev, k=3.0, rounds=2).collect()}
    # independent numpy replay of the two rounds
    a = np.array(vals)
    z1 = np.abs(a - a.mean()) / a.std()
    assert z1[20] > 3.0 and z1[21] <= 3.0  # 1000 masks 25 in round 1
    surv = a[z1 <= 3.0]
    z2 = np.abs(25.0 - surv.mean()) / surv.std()
    assert z2 > 3.0  # unmasked in round 2
    assert out[20].clipped_round == 1
    assert out[21].clipped_round == 2
    assert all(out[i].clipped_round == 0 and out[i].flag == 0
               for i in range(20))
    assert out[21].flag == 1


def test_sigma_clip_constant_group_never_flags(spark):
    ev = _sigma_events(spark, [7.0] * 6)
    out = tsanalytics.sigma_clip(ev, k=3.0, rounds=2).collect()
    assert all(r.clipped_round == 0 and r.z_last is None for r in out)


def test_sigma_clip_rounds_guard_and_single_exchange(spark):
    ev = _sigma_events(spark, [float(i) for i in range(12)])
    with pytest.raises(ValueError, match="rounds"):
        tsanalytics.sigma_clip(ev, rounds=0)
    out = tsanalytics.sigma_clip(ev, k=3.0, rounds=3)
    # all rounds chain onto ONE (key, bucket) hash exchange
    assert count_exchanges(out) == 1, plan_str(out)


# ------------------------------------------------- lead-lag sweep
def _leadlag_events(spark):
    # metric "b" is metric "a" delayed by exactly 2 grid hours
    base = 1699999200
    a_vals = [0.0, 1.0, 2.0, 3.0, 1.0, 5.0, 0.0, 2.0, 4.0, 3.0]
    rows = []
    for h, v in enumerate(a_vals):
        rows.append((1000 + h, base + h * 3600 + 60, "a", v))
        rows.append((2000 + h, base + (h + 2) * 3600 + 120, "b", v))
    return spark.createDataFrame(
        rows, "event_id long, epoch long, event_type string, value double"
    ).select("event_id", F.timestamp_seconds("epoch").alias("ts"),
             "event_type", "value")


def test_leadlag_finds_planted_shift(spark):
    out = tsanalytics.leadlag_corr(
        _leadlag_events(spark), ("a", "b"), max_lag=3).collect()
    rows = {r.lag: r for r in out}
    assert len(rows) == 7
    best = [r for r in out if r.best == 1]
    assert len(best) == 1 and best[0].lag == 2
    assert rows[2].r == 1.0 and rows[2].n_pts == 10
    # metric_a always leads in the planted data
    assert rows[2].metric_a == "a" and rows[2].metric_b == "b"


def test_leadlag_guards(spark):
    ev = _leadlag_events(spark)
    with pytest.raises(ValueError, match="metrics"):
        tsanalytics.leadlag_corr(ev, ("a",))
    with pytest.raises(ValueError, match="max_lag"):
        tsanalytics.leadlag_corr(ev, ("a", "b"), max_lag=0)


def test_leadlag_grid_join_is_broadcast_no_cartesian(spark):
    out = tsanalytics.leadlag_corr(
        _leadlag_events(spark), ("a", "b"), max_lag=2)
    plan = plan_str(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # shifted-grid self-join
    # both lag-join sides read the CACHED grid (raw events cross the
    # grid aggregate once, at cache-fill time) — InMemoryTableScan's
    # printed subtree repeats the build plan's exchange, so the raw
    # count includes phantom cached exchanges; the live ones are the
    # lag groupBy + the best-rank window over the reduced relation
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert count_exchanges(out) <= 6, plan
