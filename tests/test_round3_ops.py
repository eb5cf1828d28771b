"""Round-3 operator tests: data-adaptive LSH bucketing (candidate
volume ~linear in N), per-bucket candidate caps, 64-bit SimHash with
parameterized pigeonhole blocks (planted d≤k recall at k=3), and
scoped cache release."""

import pytest
from pyspark.sql import functions as F

from conftest import lcg_embeddings, pairs_df
from yahoo_anomaly_detection_spark import caching
from yahoo_anomaly_detection_spark.operators import dedup, similarity


def _candidate_pairs(spark, n: int, n_planes: int) -> int:
    """Candidate-pair count of the near-dup bucket join = Σ_buckets
    C(occupancy, 2) — computed from occupancies, no join needed."""
    b = similarity.lsh_bucket_assignments(lcg_embeddings(spark, n), n_planes)
    occ = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    row = occ.agg(
        F.sum(F.expr("n * (n - 1) / 2")).alias("pairs")
    ).first()
    return int(row["pairs"])


# ------------------------------------------------- adaptive planes
def test_adaptive_n_planes_formula():
    assert similarity.adaptive_n_planes(0) == 8
    assert similarity.adaptive_n_planes(64, target_bucket=64) == 8
    # floor dominates small corpora
    assert similarity.adaptive_n_planes(10_000, target_bucket=64) == 8
    # 10^9 vectors at target occupancy 64 → 24 planes
    assert similarity.adaptive_n_planes(10**9, target_bucket=64) == 24
    assert similarity.adaptive_n_planes(2000, target_bucket=8) == 8
    assert similarity.adaptive_n_planes(8000, target_bucket=8) == 10


def test_candidate_volume_linear_with_adaptive_planes(spark):
    """4× the corpus with adaptive planes must grow candidate pairs
    ~4× (linear), where fixed planes would grow them ~16×
    (quadratic). This is the 100 TB guarantee for embedding_near_dups:
    n_planes ≈ log2(N / target) keeps bucket occupancy constant."""
    n1, n2 = 2000, 8000
    p1 = similarity.adaptive_n_planes(n1, target_bucket=8)
    p2 = similarity.adaptive_n_planes(n2, target_bucket=8)
    assert p2 > p1
    c1 = _candidate_pairs(spark, n1, p1)
    c2_adaptive = _candidate_pairs(spark, n2, p2)
    c2_fixed = _candidate_pairs(spark, n2, p1)
    assert c1 > 0
    # adaptive: ~linear (ratio ≈ 4; allow hash-variance headroom)
    assert c2_adaptive / c1 < 8, (c1, c2_adaptive)
    # fixed planes at 4× N: ~quadratic — and adaptive beats it
    assert c2_fixed / c1 > 10, (c1, c2_fixed)
    assert c2_adaptive < c2_fixed / 2


def test_near_dups_adaptive_planes_planted_recall(spark):
    """n_planes=None (adaptive from corpus count) keeps planted-twin
    recall high. Recall is probabilistic with honest random planes (a
    3%-perturbed twin crosses a hyperplane with small probability per
    plane — measured 29/30 at 8 planes); the bound asserts ≥ 90%."""
    embs = lcg_embeddings(spark, 300)
    out = similarity.embedding_near_dups(
        embs, n_planes=None, threshold=0.9, plant_twins=True
    )
    found = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    expected = {(v, v + 1000000) for v in range(0, 300, 10)}
    assert len(expected & found) >= 0.9 * len(expected), expected - found


def test_near_dups_default_is_off_for_production(spark):
    """Without plant_twins the operator returns only real pairs — no
    fabricated vec_ids ≥ 1_000_000 leak into production results."""
    embs = lcg_embeddings(spark, 200)
    out = similarity.embedding_near_dups(embs, n_planes=8, threshold=0.9)
    assert out.where(F.col("vec_a") >= 1000000).count() == 0
    assert out.where(F.col("vec_b") >= 1000000).count() == 0


def test_bucket_cap_bounds_skewed_bucket(spark):
    """A pathological bucket (identical vectors → one bucket) is split
    into cap-sized sub-buckets: candidate pairs drop from C(n,2) to
    ceil(n/cap)·C(cap,2)."""
    n, cap = 64, 4
    embs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), d -> cast(0.5 as float))"
        ).alias("embedding"),
    )
    uncapped = similarity.embedding_near_dups(embs, n_planes=8,
                                              threshold=0.0)
    capped = similarity.embedding_near_dups(embs, n_planes=8,
                                            threshold=0.0,
                                            max_bucket_size=cap)
    assert uncapped.count() == n * (n - 1) // 2
    assert capped.count() == (n // cap) * (cap * (cap - 1) // 2)


# ------------------------------------------------- 64-bit simhash
def test_ham_blocks_layouts():
    assert dedup.ham_blocks(32, 2) == (
        (0, 0, 2047), (1, 11, 2047), (2, 22, 1023)
    )
    b64k2 = dedup.ham_blocks(64, 2)
    assert [bin(m).count("1") for _, _, m in b64k2] == [22, 21, 21]
    b64k3 = dedup.ham_blocks(64, 3)
    assert [bin(m).count("1") for _, _, m in b64k3] == [16, 16, 16, 16]
    # blocks tile the signature exactly
    for bits, k in ((32, 2), (64, 2), (64, 3), (64, 5)):
        covered = 0
        for _, off, mask in dedup.ham_blocks(bits, k):
            covered |= mask << off
        assert covered == (1 << bits) - 1, (bits, k)


@pytest.fixture(scope="module")
def docs200(spark):
    return spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 19), "
            "i -> concat('w', cast(pmod(id * 31 + i * 7, 97) as string))))"
        ).alias("text"),
    )


def test_simhash64_uses_high_bits(spark, docs200):
    """64-bit signatures actually populate bits 32-63 (including the
    int64 sign bit) — not just a widened 32-bit hash."""
    sims = [r["simhash"] for r in dedup.simhash_sig(
        docs200, bits=64).collect()]
    assert any(s < 0 for s in sims), "sign bit (bit 63) never set"
    assert any((s >> 32) & 0x7FFFFFFF for s in sims), "high bits empty"
    # low 32 bits match the 32-bit signature (same token lane)
    sims32 = {r["doc_id"]: r["simhash"]
              for r in dedup.simhash_sig(docs200, bits=32).collect()}
    sims64 = {r["doc_id"]: r["simhash"]
              for r in dedup.simhash_sig(docs200, bits=64).collect()}
    for d, s in sims32.items():
        assert sims64[d] & 0xFFFFFFFF == s, d


@pytest.mark.parametrize("bits,k", [(64, 2), (64, 3), (32, 3)])
def test_hamming_index_finds_planted_k_flips(spark, docs200, bits, k):
    """Planted twins at Hamming distance exactly k are ALL found by
    the k-block pigeonhole index — the guarantee is exact, not
    probabilistic (pigeonhole: k flips cannot touch all k+1 blocks)."""
    sim = dedup.simhash_sig(docs200, bits=bits)
    planted = dedup.plant_flipped_twins(sim, bits, n_flips=k)
    pairs = dedup.hamming_pairs_from_sigs(planted, k=k, bits=bits)
    got = {(r["doc_a"], r["doc_b"]): r["dist"] for r in pairs.collect()}
    for d in range(200):
        assert (d, d + 1000000) in got, d
        assert got[(d, d + 1000000)] == k, (d, got[(d, d + 1000000)])


def test_hamming_operator_no_planting_by_default(spark, docs200):
    out = dedup.simhash_hamming_pairs(docs200, k=2, bits=64)
    assert out.where(
        (F.col("doc_a") >= 1000000) | (F.col("doc_b") >= 1000000)
    ).count() == 0


# ------------------------------------------------- cache scoping
def test_cache_scope_releases_only_own(spark):
    outer = caching.materialize(spark.range(10).toDF("n"))
    try:
        with caching.scope():
            inner = caching.materialize(spark.range(5).toDF("n"))
            assert inner.storageLevel.useMemory
        assert not inner.storageLevel.useMemory, "scope did not release"
        assert outer.storageLevel.useMemory, "scope released global cache"
    finally:
        caching.release_all()
    assert not outer.storageLevel.useMemory


# ------------------------------------------------------------- IVF
def test_ivf_assign_every_vector_gets_nearest_cell(spark):
    """Each vector's cell is the max-cosine centroid (ties → smallest
    centroid id), verified against a driver-side recompute."""
    import numpy as np

    embs = lcg_embeddings(spark, 120)
    got = {r["vec_id"]: r["cell"]
           for r in similarity.ivf_assign(embs, centroid_mod=30).collect()}
    mat = {r["vec_id"]: np.array(r["embedding"], np.float64)
           for r in embs.collect()}
    cents = {v: e for v, e in mat.items() if v % 30 == 0}
    for v, e in mat.items():
        best = max(
            sorted(cents),
            key=lambda c: (
                float(np.dot(cents[c], e)
                      / (np.linalg.norm(cents[c]) * np.linalg.norm(e))),
                -c,
            ),
        )
        assert got[v] == best, (v, got[v], best)


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """nprobe = number of cells ⇒ every query scans every cell ⇒ the
    IVF result must equal exact brute force, row for row. This pins
    the index's correctness independent of the recall/probe tradeoff."""
    embs = lcg_embeddings(spark, 160)
    n_cells = 160 // 40  # centroid_mod=40
    ivf = similarity.ivf_topk(embs, centroid_mod=40, nprobe=n_cells,
                              query_mod=20, k=5)
    bf = similarity.brute_force_topk(embs, query_mod=20, k=5)
    key = lambda r: (r["q_id"], r["rk"])
    ivf_rows = {key(r): (r["neighbor_id"], r["cosine"])
                for r in ivf.collect()}
    bf_rows = {key(r): (r["neighbor_id"], r["cosine"])
               for r in bf.collect()}
    assert ivf_rows == bf_rows


def test_ivf_topk_nprobe_subset_of_brute_force(spark):
    """At nprobe < cells, every returned neighbor is a true cosine the
    brute-force scan also computes (no fabricated scores), and recall
    of the top-1 neighbor stays high (coarse cells catch the nearest
    vector's cell or the probe list's second cell)."""
    embs = lcg_embeddings(spark, 160)
    ivf = {(r["q_id"], r["neighbor_id"]): r["cosine"]
           for r in similarity.ivf_topk(embs, centroid_mod=40, nprobe=2,
                                        query_mod=20, k=5).collect()}
    bf_all = {(r["q_id"], r["neighbor_id"]): r["cosine"]
              for r in similarity.brute_force_topk(
                  embs, query_mod=20, k=160).collect()}
    for pair, cos in ivf.items():
        assert pair in bf_all and abs(bf_all[pair] - cos) < 1e-9, pair


# ---------------------------------------------- duplicate clustering
def test_cc_path_graph_transitivity(spark):
    """A path 1-2-3-4 has NO direct (1,4) edge — the component only
    closes through repeated propagation; plus a disjoint pair and an
    isolated triangle to check components never bleed into each
    other."""
    cc = dedup.connected_components(
        pairs_df(spark, [(1, 2), (2, 3), (3, 4), (10, 11),
                          (20, 21), (21, 22), (20, 22)])
    )
    got = {r["doc_id"]: r["cluster"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_cc_long_chain_converges(spark):
    """A 12-node chain needs ~11 propagation rounds — exercises the
    fixpoint loop well past the 1-3 rounds typical of dup cliques."""
    edges = [(i, i + 1) for i in range(12)]
    cc = dedup.connected_components(pairs_df(spark, edges))
    got = {r["doc_id"]: r["cluster"] for r in cc.collect()}
    assert got == {i: 0 for i in range(13)}


def test_canonical_corpus_keeps_min_and_singletons(spark):
    """canonical_corpus keeps exactly one doc per chain component (the
    base doc) and passes short docs (no shingles -> singleton)
    through untouched. Pairs are supplied via the exact all-pairs
    path: these 6-word docs have too few shingles for reliable LSH
    band collision (the documented short-doc recall caveat)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven"),
         (3, "tiny")],
        "doc_id long, text string",
    )
    exact_pairs = dedup._jaccard_pairs(
        dedup.shingles(dedup.with_dup_chains(docs), 3), 0.5
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.canonical_corpus(docs, pairs=exact_pairs).collect()
    )
    # chains of 1,2 collapse to the base ids; 'tiny' has no shingles
    # so all three of its chain copies survive as singletons
    assert kept == [1, 2, 3, 1000003, 2000003]


def test_cc_shortcut_converges_in_fewer_rounds(spark):
    """Pointer doubling must give the same components as plain
    min-propagation on a 24-node chain, in strictly fewer rounds
    (O(log d) vs O(d))."""
    edges = [(i, i + 1) for i in range(24)]
    plain_stats, sc_stats = {}, {}
    plain = dedup.connected_components(
        pairs_df(spark, edges), max_iter=40, stats=plain_stats)
    short = dedup.connected_components(
        pairs_df(spark, edges), max_iter=40, shortcut=True,
        stats=sc_stats)
    p = {r["doc_id"]: r["cluster"] for r in plain.collect()}
    s = {r["doc_id"]: r["cluster"] for r in short.collect()}
    assert p == s == {i: 0 for i in range(25)}
    assert sc_stats["rounds"] < plain_stats["rounds"], (
        sc_stats, plain_stats)


def test_minhash_band_bucket_cap_bounds_candidates(spark):
    """A 30-copy mega-text floods its band buckets (60 corpus
    occupants after the near-dup twin union -> ~1770 pairs each);
    max_band_bucket drops those buckets while ordinary docs keep
    pairing with their planted twins through small buckets."""
    mega = [(i, "the same boilerplate text repeated everywhere "
                "for this mega cluster case") for i in range(30)]
    normal = [(100 + i,
               f"distinct document number {i} with its own unique "
               f"words alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
              for i in range(5)]
    docs = spark.createDataFrame(mega + normal, "doc_id long, text string")

    uncapped = dedup.minhash_lsh_pairs(docs, threshold=0.5).count()
    capped_df = dedup.minhash_lsh_pairs(
        docs, threshold=0.5, max_band_bucket=10
    )
    capped = {(r["doc_a"], r["doc_b"]) for r in capped_df.collect()}
    # mega pairs gone, so the capped candidate volume collapses
    assert uncapped > 1500 and len(capped) < 50, (uncapped, len(capped))
    # every ordinary doc still finds its near-dup twin
    for i in range(5):
        assert (100 + i, 100 + i + 1000000) in capped


def test_cc_matches_union_find_on_random_graphs(spark):
    """connected_components vs an independent union-find on a batch
    of seeded random graphs (dense, sparse, self-loopy, disconnected).
    One Spark run per graph keeps this fast; the python oracle is a
    from-scratch union-find, not a reimplementation of the operator."""
    import random

    def union_find(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical root = min node of the component
        comp = {}
        for n in nodes:
            r = find(n)
            comp.setdefault(r, []).append(n)
        return {
            n: min(members)
            for members in comp.values()
            for n in members
        }

    rng = random.Random(7)
    for trial, (n_nodes, n_edges) in enumerate(
        [(8, 4), (12, 25), (20, 10), (30, 15), (6, 1)]
    ):
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        nodes = sorted({x for e in edges for x in e})
        got = {
            r["doc_id"]: r["cluster"]
            for r in dedup.connected_components(
                pairs_df(spark, edges), shortcut=(trial % 2 == 0)
            ).collect()
        }
        assert got == union_find(edges, nodes), (trial, edges)


def test_sessionize_matches_python_oracle(spark):
    """sessionize vs a from-scratch per-user python walk on seeded
    random event times (ties included via duplicated timestamps)."""
    import datetime as dt
    import random

    from yahoo_anomaly_detection_spark.operators import sessions

    rng = random.Random(13)
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(6):
        t = 0
        for _ in range(rng.randrange(3, 15)):
            t += rng.choice([60, 600, 4000, 4000, 9000])
            rows.append((eid, base + dt.timedelta(seconds=t), u,
                         "e", 1.0, ""))
            eid += 1
    # a duplicate-timestamp tie: ordering falls back to event_id
    rows.append((eid, rows[-1][1], rows[-1][2], "e", 1.0, ""))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    gap = 3600
    got = {
        r["event_id"]: r["session_id"]
        for r in sessions.sessionize(df, gap_seconds=gap).collect()
    }
    by_user: dict = {}
    for e, ts, u, *_ in rows:
        by_user.setdefault(u, []).append((ts, e))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        sid, last = 0, None
        for ts, e in evs:
            if last is not None and (ts - last).total_seconds() > gap:
                sid += 1
            want[e] = sid
            last = ts
    assert got == want
