"""Unit tests for the training-data-pipeline operators
(dedup / similarity / textstats / multimodal) on small deterministic
corpora, with numpy/python oracles independent of both Spark and the
DuckDB gate."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from yahoo_anomaly_detection_spark.operators import (
    dedup,
    multimodal,
    similarity,
    textstats,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "spark rollup tier bucket window agg shuffle join plan"),
    (3, "spark rollup tier bucket window agg shuffle join plan"),  # exact dup of 2
    (4, "of and to in is for with on that the"),
    (5, "one two"),  # too short for 3-gram shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _pyshingles(text: str, n: int = 3) -> set[int]:
    # hashed-shingle sets: the engine stores each gram's 32-bit md5
    # prefix, not the string (see dedup.shingles)
    w = text.split(" ")
    return {
        _hexint(" ".join(w[i: i + n])) for i in range(len(w) - n + 1)
    }


def _hexint(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_exact_dedup(docs):
    out = {r["text_sha"]: r for r in dedup.exact_dedup(docs).collect()}
    assert len(out) == 5  # 6 docs, one exact dup pair
    dup_sha = hashlib.sha256(DOCS[2][1].encode()).hexdigest()
    assert out[dup_sha]["n_dups"] == 2
    assert out[dup_sha]["keeper"] == 2


def test_shingles_match_python(docs):
    got = {
        (r["doc_id"], r["shingle"])
        for r in dedup.shingles(docs.select("doc_id", "text"), 3).collect()
    }
    want = {
        (i, s) for i, t in DOCS for s in _pyshingles(t, 3)
    }
    assert got == want  # doc 5 contributes nothing (len < n)


def test_jaccard_pairs_oracle(docs):
    sh = dedup.shingles(docs.select("doc_id", "text"), 3)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup._jaccard_pairs(sh, threshold=0.0).collect()
    }
    # python oracle over every pair sharing >= 1 shingle
    for (a, ta), (b, tb) in [
        (DOCS[i], DOCS[j]) for i in range(6) for j in range(i + 1, 6)
    ]:
        sa, sb = _pyshingles(ta), _pyshingles(tb)
        inter = len(sa & sb)
        if inter == 0:
            assert (a, b) not in pairs
        else:
            expect = round(inter / len(sa | sb) + 1e-9, 4)
            assert pairs[(a, b)] == pytest.approx(expect, abs=1e-9)


def test_minhash_is_min_over_shingles(docs):
    k, P = 16, dedup.P31
    sig = {
        (r["doc_id"], r["h_idx"]): r["minhash"]
        for r in dedup.minhash_signatures(docs, n=3, k=k).collect()
    }
    for i, t in DOCS:
        xs = [s % P for s in _pyshingles(t, 3)]  # already hashed
        if not xs:
            assert all((i, h) not in sig for h in range(k))
            continue
        for h in range(k):
            want = min(((2 * h + 1) * x + 7 * h + 3) % P for x in xs)
            assert sig[(i, h)] == want


def test_minhash_identical_docs_share_signature(docs):
    sig = dedup.minhash_signatures(docs, n=3, k=8)
    s2 = {r["h_idx"]: r["minhash"] for r in sig.where("doc_id = 2").collect()}
    s3 = {r["h_idx"]: r["minhash"] for r in sig.where("doc_id = 3").collect()}
    assert s2 == s3


def test_simhash_oracle(docs):
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash32(docs).collect()}
    for i, t in DOCS:
        xs = [_hexint(tok) for tok in t.split(" ")]
        sim = 0
        for j in range(32):
            s = sum(2 * ((x >> j) & 1) - 1 for x in xs)
            if s > 0:
                sim |= 1 << j
        assert got[i] == sim


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 64)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.brute_force_topk(emb, query_mod=10, k=3).collect()
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    for q in (0, 10, 20, 30):
        cos = v @ v[q] / (norms * norms[q])
        cos[q] = -np.inf
        want = list(np.argsort(-cos)[:3])
        got = [r["neighbor_id"] for r in sorted(
            (r for r in out if r["q_id"] == q), key=lambda r: r["rk"]
        )]
        assert got == want


def test_lsh_buckets_stable_and_partition_queries(spark):
    rng = np.random.default_rng(8)
    vecs = rng.normal(size=(30, 64)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    b1 = {r["vec_id"]: r["bucket"]
          for r in similarity.lsh_bucket_assignments(emb, 8).collect()}
    b2 = {r["vec_id"]: r["bucket"]
          for r in similarity.lsh_bucket_assignments(emb, 8).collect()}
    assert b1 == b2  # deterministic
    assert all(0 <= b < 256 for b in b1.values())
    # bucketed topk only returns same-bucket neighbors
    topk = similarity.lsh_bucketed_topk(emb, 8, query_mod=10, k=5).collect()
    for r in topk:
        assert b1[r["neighbor_id"]] == b1[r["q_id"]]


def test_textstats(docs):
    q = {r["doc_id"]: r for r in textstats.quality_score(docs).collect()}
    assert q[4]["n_tokens"] == 10
    assert q[4]["stopword_ratio"] == 1.0
    t = {r["doc_id"]: r for r in textstats.token_count(docs).collect()}
    assert t[5]["n_ws_tokens"] == 2
    assert t[5]["n_chars"] == len("one two")
    assert t[5]["n_bpe_est"] == math.ceil(len("one two") / 4)
    lid = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert lid[4] == "en"


def test_doc_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"]
          for r in textstats.doc_fingerprint(df).collect()}
    assert fp[0] != fp[1]  # sequence-sensitive, not bag-of-words
    # python oracle
    P = dedup.P_FP
    acc = 0
    for tok in "alpha beta gamma".split():
        acc = (acc * 31 + _hexint(tok) % P) % P
    assert fp[0] == acc


def test_multimodal_features_oracle(docs):
    feats = {r["doc_id"]: r for r in multimodal.extract_features(
        multimodal.attach_payload(docs)
    ).collect()}
    for i, t in DOCS:
        b = hashlib.md5(t.encode()).digest()
        assert feats[i]["max_byte"] == max(b)
        assert feats[i]["min_byte"] == min(b)
        assert feats[i]["mean_byte"] == pytest.approx(sum(b) / 16, abs=1e-9)


def test_multimodal_meta(docs):
    meta = {r["doc_id"]: r for r in multimodal.attach_payload_meta(docs).collect()}
    for i, t in DOCS:
        h = hashlib.md5(t.encode()).hexdigest()
        assert meta[i]["n_bytes"] == 16
        assert meta[i]["width"] == int(h[0:2], 16)
        assert meta[i]["height"] == int(h[2:4], 16)
