"""Curation-operator tests: Gopher repetition rules, benchmark
decontamination, PMI collocations, unigram-LM perplexity — python
replays on hand-built corpora, planted-signal checks, and plan audits
(broadcast probes stay broadcast, top-k never global-sorts)."""

import math
from collections import Counter

import numpy as np
import pytest

from conftest import count_exchanges, docs_df, plan_str
from yahoo_anomaly_detection_spark.operators import curation as cu


# ------------------------------------------------------------ repetition
def _rep_ref(text):
    tk = text.split(" ")
    n = len(tk)
    uniq = len(set(tk)) / n
    g2 = Counter(" ".join(tk[i:i + 2]) for i in range(n - 1))
    g3 = Counter(" ".join(tk[i:i + 3]) for i in range(n - 2))
    top2 = 2.0 * max(g2.values()) / n if g2 else None
    tot3 = sum(g3.values())
    dup3 = (tot3 - len(g3)) / tot3 if g3 else None
    return uniq, top2, dup3


def test_repetition_matches_python_counter_replay(spark):
    rng = np.random.default_rng(7)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(1, 40))))
             for _ in range(30)]
    texts += ["solo", "x y", "p q r"]  # below-n edge docs
    out = {r["doc_id"]: r for r in
           cu.doc_repetition(docs_df(spark, texts)).collect()}
    assert len(out) == len(texts)
    for i, t in enumerate(texts):
        uniq, top2, dup3 = _rep_ref(t)
        r = out[i]
        assert r["uniq_token_ratio"] == pytest.approx(uniq, abs=1e-4)
        for got, want in ((r["top2gram_frac"], top2),
                          (r["dup3gram_frac"], dup3)):
            if want is None:
                assert got is None
            else:
                assert got == pytest.approx(want, abs=1e-4)


def test_repetition_flags_boilerplate_not_prose(spark):
    # the Gopher failure mode: nav-bar spam vs ordinary varied text.
    # Overlapping repeats can push top2gram_frac above 1 (it counts
    # occurrences x 2 over tokens, not covered chars) — pinned here.
    spam = " ".join(["click here"] * 20)          # top 2-gram dominates
    loop = " ".join(["a b c"] * 10)               # duplicated 3-grams
    prose = "the quick brown fox jumps over one lazy dog near a river"
    out = {r["doc_id"]: r for r in cu.doc_repetition(
        docs_df(spark, [spam, loop, prose])).collect()}
    assert out[0]["repetitive"] == 1 and out[0]["top2gram_frac"] > 0.5
    assert out[1]["repetitive"] == 1 and out[1]["dup3gram_frac"] > 0.8
    assert out[2]["repetitive"] == 0
    dense = " ".join(["z z"] * 2)  # "z z z z": 3 overlapping 'z z'
    r = cu.doc_repetition(docs_df(spark, [dense])).collect()[0]
    assert r["top2gram_frac"] == pytest.approx(1.5, abs=1e-4)


def test_repetition_two_shrinking_exchanges(spark):
    df = cu.doc_repetition(docs_df(spark, ["a b c a b", "x y"]))
    assert count_exchanges(df) == 2
    assert "Sort" not in plan_str(df) and "Window" not in plan_str(df)


# ------------------------------------------------------------ decontaminate
def test_decontaminate_planted_collision(spark):
    # doc 0 is eval (0 % 20 == 0); doc 1 shares a 4-gram, doc 2 clean,
    # doc 3 repeats the shared 4-gram twice but counts it ONCE
    # (distinct grams per doc)
    texts = [
        "alpha beta gamma delta epsilon",        # eval
        "zz alpha beta gamma delta yy",          # one shared 4-gram
        "p q r s t u v w",                       # clean
        "alpha beta gamma delta x alpha beta gamma delta",
    ]
    out = {r["doc_id"]: r for r in
           cu.decontaminate(docs_df(spark, texts), n=4).collect()}
    assert 0 not in out                      # eval docs excluded
    assert out[1]["contaminated"] == 1 and out[1]["n_shared_grams"] == 1
    assert out[2]["contaminated"] == 0 and out[2]["n_shared_grams"] == 0
    # doc 3: shared distinct grams = {a b g d, b g d x?...}: exactly
    # the grams of doc 0 present in doc 3 = "alpha beta gamma delta"
    # and "beta gamma delta epsilon" is absent -> 1
    assert out[3]["n_shared_grams"] == 1


def test_decontaminate_probe_is_broadcast(spark):
    texts = ["a b c d e"] * 3 + ["f g h i j"]
    df = cu.decontaminate(docs_df(spark, texts), n=4)
    p = plan_str(df)
    # the gram probe must be broadcast, never a corpus sort-merge on
    # gram text (the final doc_id-keyed left join MAY sort-merge —
    # hits is doc-count-sized, the right shape at scale)
    assert "BroadcastHashJoin [gram" in p
    assert "SortMergeJoin [gram" not in p


# ------------------------------------------------------------ pmi
def test_pmi_matches_python_and_ranks_collocation(spark):
    # "new york" always adjacent; "data" and "base" frequent but
    # independent -> PMI must rank "new york" first
    rng = np.random.default_rng(11)
    filler = ["data", "base", "web", "site"]
    texts = []
    for _ in range(40):
        words = list(rng.choice(filler, size=8))
        pos = int(rng.integers(0, len(words)))
        words[pos:pos] = ["new", "york"]
        texts.append(" ".join(words))
    out = cu.pmi_bigrams(docs_df(spark, texts), k=10, min_count=5).collect()
    assert out[0]["bigram"] == "new york"
    # python replay of the top row
    uni, bi = Counter(), Counter()
    for t in texts:
        tk = t.split(" ")
        uni.update(tk)
        bi.update(" ".join(tk[i:i + 2]) for i in range(len(tk) - 1))
    t1, t2 = sum(uni.values()), sum(bi.values())
    want = math.log((bi["new york"] / t2)
                    / ((uni["new"] / t1) * (uni["york"] / t1)))
    assert out[0]["pmi"] == pytest.approx(want, abs=1e-4)
    assert all(r["cnt"] >= 5 for r in out)
    pmis = [r["pmi"] for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_pmi_topk_is_heap_not_global_sort(spark):
    df = cu.pmi_bigrams(docs_df(spark, ["a b a b c d"] * 3), k=5,
                        min_count=1)
    assert "TakeOrderedAndProject" in plan_str(df)


# ------------------------------------------------------------ logppl
def test_logppl_matches_python_and_orders_rarity(spark):
    # doc of corpus-common words must score LOWER than rare-word doc
    texts = ["the the the cat", "the cat sat", "xylophone quartz the"]
    out = {r["doc_id"]: r for r in
           cu.unigram_logppl(docs_df(spark, texts)).collect()}
    uni = Counter(w for t in texts for w in t.split(" "))
    tot = sum(uni.values())
    for i, t in enumerate(texts):
        tk = t.split(" ")
        want = -sum(math.log(uni[w] / tot) for w in tk) / len(tk)
        assert out[i]["logppl"] == pytest.approx(want, abs=1e-4)
        assert out[i]["n_tokens"] == len(tk)
    assert out[0]["logppl"] < out[2]["logppl"]


def test_logppl_lm_join_is_broadcast(spark):
    df = cu.unigram_logppl(docs_df(spark, ["a b c", "a a d"]))
    p = plan_str(df)
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


# ------------------------------------------------------------ seq_pack
def _pack_ref(sizes, cap):
    out, b, fill = [], 0, None
    for n in sizes:
        if fill is None:
            b, fill = 0, n
        elif fill + n <= cap:
            fill += n
        else:
            b, fill = b + 1, n
        out.append((b, fill))
    return out


def test_seq_pack_matches_python_next_fit(spark):
    rng = np.random.default_rng(3)
    rows = []
    sizes = {}
    for src in ("s0", "s1", "s2"):
        ns = [int(rng.integers(1, 40)) for _ in range(int(
            rng.integers(2, 25)))]
        if src == "s1":
            ns.insert(1, 99)  # oversized doc: must sit in a bin alone
        sizes[src] = ns
        for n in ns:
            rows.append((len(rows), " ".join(["w"] * n), src))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    out = {(r["source"], r["doc_id"]): r for r in
           cu.seq_pack(docs, capacity=50).collect()}
    assert len(out) == len(rows)
    idx = 0
    for src in ("s0", "s1", "s2"):
        want = _pack_ref(sizes[src], 50)
        for j, (wb, wf) in enumerate(want):
            r = out[(src, idx)]
            assert r["n_tokens"] == sizes[src][j]
            assert (r["bin_id"], r["bin_fill"]) == (wb, wf), (src, j)
            idx += 1
    # the oversized doc occupies its own bin
    over = [r for r in out.values()
            if r["source"] == "s1" and r["n_tokens"] == 99]
    assert over[0]["bin_fill"] == 99


def test_seq_pack_single_exchange_and_validation(spark):
    docs = docs_df(spark, ["a b c", "d e", "f"]).withColumn(
        "source", __import__("pyspark").sql.functions.lit("s"))
    df = cu.seq_pack(docs, capacity=4)
    assert count_exchanges(df) == 1
    with pytest.raises(ValueError):
        cu.seq_pack(docs, capacity=0)


# ------------------------------------------------- pii_scan
def test_pii_scan_counts_planted_patterns_exactly(spark):
    """Planted emails / phone runs / long ids classify per pattern
    with exact doc and hit counts; clean docs contribute zeros."""
    from yahoo_anomaly_detection_spark.operators import curation
    docs = spark.createDataFrame(
        [(1, "contact Bob.Smith+x@Example.ORG or sue@a.co today",
          "en", "web", 10),                       # 2 emails
         (2, "call +1 (555) 123-4567 now", "en", "web", 10),  # phone
         (3, "ssn-ish 123456789 and card 4111111111111111",
          "en", "web", 10),                       # 2 long ids
         (4, "perfectly clean text here", "en", "web", 10),
         (5, "id 987654321 only", "en", "books", 10)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out = {r.source: r for r in curation.pii_scan(docs).collect()}
    web = out["web"]
    assert web.n_docs == 4
    assert web.docs_email == 1 and web.hits_email == 2
    # patterns overlap by design: doc 3's digit runs are also
    # phone-shaped, so both doc 2 and doc 3 count as phone docs
    assert web.docs_phone == 2 and web.hits_phone >= 2
    assert web.docs_long_id == 1 and web.hits_long_id == 2
    books = out["books"]
    assert books.n_docs == 1
    assert books.docs_long_id == 1 and books.hits_long_id == 1
    assert books.docs_email == 0 and books.hits_email == 0


# ------------------------------------------------- time_folds
def test_time_folds_contiguous_and_leak_free(spark):
    """Folds are contiguous day ranges in time order (fold i ends
    before fold i+1 starts — no future leakage), cover every day
    once, and distribute the remainder to the leading folds."""
    import datetime as dt
    from pyspark.sql import functions as F
    from yahoo_anomaly_detection_spark.operators import curation
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(days=i % 13, hours=i % 5), 7, "t",
             1.0) for i in range(200)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    out = sorted(curation.time_folds(ev, k=5).collect(),
                 key=lambda r: r.fold)
    assert [r.fold for r in out] == [1, 2, 3, 4, 5]
    # 13 days into 5 folds: 3,3,3,2,2 (remainder to leading folds)
    assert [r.n_days for r in out] == [3, 3, 3, 2, 2]
    for a, b in zip(out, out[1:]):
        assert a.fold_end < b.fold_start  # walk-forward, no overlap
    assert sum(r.n_events for r in out) == 200
