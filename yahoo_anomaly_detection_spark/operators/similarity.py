"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline and a random-hyperplane
LSH-bucketed variant as the scale path. No reference counterpart —
training-data-pipeline operator.

Scale design:
- brute force: the QUERY set is broadcast (small side), so scoring is
  a map-only pass over the candidate table — no shuffle of the big
  side; only the per-query top-k rows shuffle for the final ranking.
- LSH: bucket assignment is a single JVM-side higher-order-function
  projection (no shuffle, no Python); the bucketed top-k turns the
  all-pairs scan into an equality join on bucket — at 100 TB this is
  the IVF-style candidate pruning step.
- All dot products run as built-in ``aggregate``/``zip_with``
  expressions inside whole-stage codegen — no pandas fallback needed
  for 64-dim vectors.

Hyperplane weights are md5-derived constants computed host-side and
embedded in the plan as numeric literals:
    w(j,d) = md5("plane:j:d")[:4 bytes] / 2^32 − 0.5
Literals are engine-portable by construction (the DuckDB oracle gets
the identical numbers), and cheaper per row than computing a hash per
(plane, dim) inside the projection. An affine hash (LCG) is NOT
usable here: w(j,d) affine in (j·DIM+d) puts every plane on a line in
R^64, correlating all bucket bits — measured ~30× candidate-pair
skew vs uniform at 8 planes (tests/test_round3_ops.py pins the
fixed behavior: candidate volume ~linear in N under adaptive planes).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark import caching
from yahoo_anomaly_detection_spark.functions.portable import (
    portable_key,
    portable_key_sql,
    portable_round,
)

_R = 4
DIM = 64


def plane_weights(n_planes: int, dim: int = DIM) -> list[list[float]]:
    """Deterministic near-orthogonal hyperplane weights (md5-derived,
    uniform on [-0.5, 0.5)); dyadic rationals, so their shortest-repr
    decimal literals parse to bit-identical doubles in any engine."""
    return [
        [
            int.from_bytes(
                hashlib.md5(f"plane:{j}:{d}".encode()).digest()[:4], "big"
            )
            / 4294967296.0
            - 0.5
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def adaptive_n_planes(n_rows: int, target_bucket: int = 64,
                      floor: int = 8) -> int:
    """Plane count sized to the corpus: ``max(floor, ceil(log2(N /
    target_bucket)))``.

    At FIXED planes, expected bucket occupancy grows linearly with N
    and candidate pairs grow ~N²/2^planes — a scale-killer at 10⁹
    vectors. Scaling planes with log2(N) keeps expected occupancy at
    ``target_bucket`` and candidate volume ~linear in N (tested in
    tests/test_round3_ops.py). Callers that know the corpus size pass
    it; :func:`embedding_near_dups` with ``n_planes=None`` counts the
    corpus itself (one cheap aggregate) before planning the join.
    """
    if n_rows <= target_bucket:
        return floor
    return max(floor, math.ceil(math.log2(n_rows / target_bucket)))


def _vecd(col: str) -> Column:
    """array<float> → array<double> for stable math."""
    return F.expr(f"transform({col}, x -> cast(x as double))")


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, cast(0.0 as double), (acc, x) -> acc + x * x)"
        )
    )


def _rank_topk(joined: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail over a (q_id, qe, vec_id, e) candidate join:
    cosine score → per-query row_number rank → rk ≤ k → rounded
    projection. The tie-break (cosine desc, neighbor_id asc) and the
    portable-rounding contract are pinned by every variant's DuckDB
    oracle — one definition keeps the four top-k operators from
    drifting apart."""
    cos = (_dot("qe", "e") / (_norm("qe") * _norm("e"))).alias("_cos")
    ranked = joined.select(
        "q_id", F.col("vec_id").alias("neighbor_id"), cos
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.desc("_cos"),
                                          F.asc("neighbor_id"))
        ),
    )
    return ranked.where(F.col("rk") <= k).select(
        "q_id", "neighbor_id",
        portable_round(F.col("_cos"), _R).alias("cosine"), "rk",
    )


def brute_force_topk(embs: DataFrame, query_mod: int = 50,
                     k: int = 5) -> DataFrame:
    """Exact cosine top-k: queries = rows with vec_id % query_mod == 0,
    candidates = every other row. Query side is broadcast."""
    base = embs.select("vec_id", _vecd("embedding").alias("e"))
    q = base.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    joined = base.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("q_id")
    )
    return _rank_topk(joined, k)


_VECD_SQL = "list_transform({e}, x -> CAST(x AS DOUBLE))"
_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, {dim}), "
    "i -> {a}[i] * {b}[i]))"
)
_NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def _brute_force_sql(query_mod: int, k: int) -> str:
    dot = _DOT_SQL.format(a="q.qe", b="c.e", dim=DIM)
    return f"""
WITH base AS (SELECT vec_id, {_VECD_SQL.format(e='embedding')} AS e
              FROM embeddings),
q AS (SELECT vec_id AS q_id, e AS qe FROM base
      WHERE vec_id % {query_mod} = 0),
scored AS (
    SELECT q.q_id, c.vec_id AS neighbor_id,
           {dot} / ({_NORM_SQL.format(a='q.qe')} * {_NORM_SQL.format(a='c.e')})
               AS _cos
    FROM base c, q WHERE c.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, neighbor_id, _cos,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY _cos DESC, neighbor_id ASC) AS INT) AS rk
    FROM scored
)
SELECT q_id, neighbor_id, round(_cos, 4) AS cosine, rk
FROM ranked WHERE rk <= {k}
"""


def _bucket_expr(n_planes: int, vec: str) -> str:
    """Spark expression string for the LSH bucket of array column
    ``vec``: Σ_j [w_j·vec > 0]·2^j, with the plane weights embedded
    as literal arrays (computed once at plan time, constant-folded
    into whole-stage codegen)."""
    terms = []
    for j, row in enumerate(plane_weights(n_planes)):
        arr = "array(" + ", ".join(repr(x) for x in row) + ")"
        dot = (
            f"aggregate(zip_with({arr}, {vec}, "
            f"(w, x) -> w * cast(x as double)), "
            f"cast(0.0 as double), (a, v) -> a + v)"
        )
        terms.append(f"IF({dot} > 0, {1 << j}L, 0L)")
    return "cast(" + " + ".join(terms) + " as bigint)"


def _bucket_sql_expr(n_planes: int, vec: str) -> str:
    """DuckDB mirror of :func:`_bucket_expr` — identical numeric
    literals, so the bucket ids match bit-for-bit."""
    terms = []
    for j, row in enumerate(plane_weights(n_planes)):
        arr = "[" + ", ".join(repr(x) for x in row) + "]"
        dot = (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> {arr}[i] * CAST({vec}[i] AS DOUBLE)))"
        )
        terms.append(
            f"CASE WHEN {dot} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def lsh_bucket_assignments(embs: DataFrame, n_planes: int = 8) -> DataFrame:
    """Random-hyperplane LSH bucket per vector — one projection, no
    shuffle, no Python. bucket = Σ_j [w_j·e > 0] << j. Size
    ``n_planes`` with :func:`adaptive_n_planes` when the corpus size
    is known; the default 8 matches the pinned DuckDB oracle."""
    bucket = F.expr(_bucket_expr(n_planes, "embedding"))
    return embs.select("vec_id", bucket.alias("bucket"))


def _lsh_bucket_sql(n_planes: int) -> str:
    return f"""
SELECT vec_id, {_bucket_sql_expr(n_planes, 'embedding')} AS bucket
FROM embeddings
"""


def lsh_bucketed_topk(embs: DataFrame, n_planes: int = 8,
                      query_mod: int = 50, k: int = 5) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket (equality join
    on bucket instead of an all-pairs scan). Bucket assignment rides
    the SAME projection as the vector cast — one corpus scan, no
    vec_id self-join (the join-on-assignments form re-scanned and
    wide-shuffled the embeddings)."""
    base = embs.select(
        "vec_id", _vecd("embedding").alias("e"),
        F.expr(_bucket_expr(n_planes, "embedding")).alias("bucket"),
    )
    q = base.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("bucket"),
    )
    joined = base.join(F.broadcast(q), on="bucket").where(
        F.col("vec_id") != F.col("q_id")
    )
    return _rank_topk(joined, k)


def _lsh_topk_sql(n_planes: int, query_mod: int, k: int) -> str:
    dot = _DOT_SQL.format(a="q.qe", b="c.e", dim=DIM)
    return f"""
WITH buckets AS ({_lsh_bucket_sql(n_planes)}),
base AS (SELECT e.vec_id, {_VECD_SQL.format(e='e.embedding')} AS e, b.bucket
         FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
q AS (SELECT vec_id AS q_id, e AS qe, bucket FROM base
      WHERE vec_id % {query_mod} = 0),
scored AS (
    SELECT q.q_id, c.vec_id AS neighbor_id,
           {dot} / ({_NORM_SQL.format(a='q.qe')} * {_NORM_SQL.format(a='c.e')})
               AS _cos
    FROM base c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, neighbor_id, _cos,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY _cos DESC, neighbor_id ASC) AS INT) AS rk
    FROM scored
)
SELECT q_id, neighbor_id, round(_cos, 4) AS cosine, rk
FROM ranked WHERE rk <= {k}
"""


def ann_recall(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Recall@k of ANY approximate top-k against the exact ranking —
    the evaluation operator that closes the ANN tuning loop: sweep
    ``n_planes`` / ``nprobe`` / probe fan-out, measure recall here and
    latency in the bench, pick the knee. Inputs are two top-k
    relations with (q_id, neighbor_id) columns (the shared contract
    of ``brute_force_topk`` / ``lsh_bucketed_topk`` /
    ``lsh_multiprobe_topk`` / ``ivf_topk``), so every variant is
    measurable against every baseline without new plumbing.

    recall@k = |approx ∩ exact| / k per query, over EXACT's query
    set — a query whose bucket held no true neighbors still appears
    with recall 0 (left join, not semi), which is precisely the
    failure the metric exists to expose.

    Scale shape: both inputs are k·Q-row top-k relations — the
    corpus-scale work happened producing them; this op is one small
    equi-join + one map-side-combined groupBy on q_id.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    a = approx.select("q_id", "neighbor_id", F.lit(1).alias("_hit"))
    return (
        exact.select("q_id", "neighbor_id")
        .join(a, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(F.count("_hit").alias("n_hits"))
        .select(
            "q_id", "n_hits",
            portable_round(F.col("n_hits") / F.lit(float(k)),
                           _R).alias("recall"),
        )
    )


def _ann_recall_sql(n_planes: int, query_mod: int, k: int) -> str:
    return f"""
WITH exact_r AS ({_brute_force_sql(query_mod, k)}),
approx_r AS ({_lsh_topk_sql(n_planes, query_mod, k)})
SELECT e.q_id, count(a.neighbor_id) AS n_hits,
       round(count(a.neighbor_id) / {float(k)}, 4) AS recall
FROM exact_r e LEFT JOIN approx_r a
  ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.q_id
"""


def lsh_multiprobe_topk(embs: DataFrame, n_planes: int = 8,
                        query_mod: int = 50, k: int = 5) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS
    the n_planes buckets at Hamming distance 1 (one hyperplane sign
    flipped) — recovering neighbors that fall just across a hyperplane
    boundary, the recall cliff of single-bucket LSH. Probe fan-out is
    (n_planes+1)× on the tiny broadcast query side only; the big side
    still does one equality join on bucket. Each (query, neighbor)
    pair matches at most one probe (a vector lives in exactly one
    bucket), so no dedup pass is needed. Bucket assignment rides the
    same projection as the vector cast (see lsh_bucketed_topk)."""
    base = embs.select(
        "vec_id", _vecd("embedding").alias("e"),
        F.expr(_bucket_expr(n_planes, "embedding")).alias("bucket"),
    )
    q = base.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("bucket"),
    )
    probes = q.select(
        "q_id",
        "qe",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(n_planes)
                ],
            )
        ).alias("bucket"),
    )
    joined = base.join(F.broadcast(probes), on="bucket").where(
        F.col("vec_id") != F.col("q_id")
    )
    return _rank_topk(joined, k)


def _lsh_multiprobe_sql(n_planes: int, query_mod: int, k: int) -> str:
    dot = _DOT_SQL.format(a="q.qe", b="c.e", dim=DIM)
    flips = ", ".join(
        f"CAST(xor(bucket, {1 << j}::BIGINT) AS BIGINT)"
        for j in range(n_planes)
    )
    return f"""
WITH buckets AS ({_lsh_bucket_sql(n_planes)}),
base AS (SELECT e.vec_id, {_VECD_SQL.format(e='e.embedding')} AS e, b.bucket
         FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
qb AS (SELECT vec_id AS q_id, e AS qe, bucket FROM base
       WHERE vec_id % {query_mod} = 0),
q AS (SELECT q_id, qe, unnest([bucket, {flips}]) AS bucket FROM qb),
scored AS (
    SELECT q.q_id, c.vec_id AS neighbor_id,
           {dot} / ({_NORM_SQL.format(a='q.qe')} * {_NORM_SQL.format(a='c.e')})
               AS _cos
    FROM base c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, neighbor_id, _cos,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY _cos DESC, neighbor_id ASC) AS INT) AS rk
    FROM scored
)
SELECT q_id, neighbor_id, round(_cos, 4) AS cosine, rk
FROM ranked WHERE rk <= {k}
"""


def plant_perturbed_twins(base: DataFrame) -> DataFrame:
    """Test/oracle corpus builder: base ∪ a slightly-perturbed twin of
    every 10th vector (vec_id+1_000_000, +3% on the first coordinate),
    so a near-dup detector provably finds non-identical near-dups.
    Lives OUTSIDE the operators — production callers get unmodified
    corpora; the driver queries compose this explicitly."""
    twin = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(e, (x, i) -> IF(i = 0, x * 1.03, x))"
        ).alias("e"),
    )
    return base.unionByName(twin)


def _bucket_candidates(withb: DataFrame,
                       max_bucket_size: int | None) -> DataFrame:
    """Candidate pairs from an LSH-bucketed relation (vec_id, e,
    bucket): equality self-join on bucket. With ``max_bucket_size``,
    oversized (skewed) buckets are split into consecutive sub-buckets
    of at most that many vectors first, hard-capping the per-bucket
    join fan-out at cap² — a recall tradeoff (pairs straddling a
    sub-bucket boundary are missed) that only engages on pathological
    buckets; the primary linearity guarantee is adaptive n_planes.

    The sub-bucket id is a SEPARATE join column, not an arithmetic
    composite (bucket·M + sub): a composite with a fixed multiplier
    silently aliases into the next bucket's id space once occupancy
    exceeds M·cap — exactly the pathological-skew regime the cap
    exists for — merging unrelated buckets into candidate generation.
    Two equi-join columns have no such overflow regime."""
    if max_bucket_size is not None:
        rn = F.row_number().over(
            W.partitionBy("bucket").orderBy("vec_id")
        )
        withb = withb.withColumn(
            "sub",
            ((rn - F.lit(1)) / F.lit(max_bucket_size)).cast("bigint"),
        )
    else:
        withb = withb.withColumn("sub", F.lit(0).cast("bigint"))
    a, b = withb.alias("a"), withb.alias("b")
    return a.join(
        b,
        on=[
            F.col("a.bucket") == F.col("b.bucket"),
            F.col("a.sub") == F.col("b.sub"),
            F.col("a.vec_id") < F.col("b.vec_id"),
        ],
    )


def embedding_near_dups(embs: DataFrame, n_planes: int | None = 8,
                        threshold: float = 0.9,
                        plant_twins: bool = False,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (cosine ≥ threshold):
    LSH-bucket equality self-join generates candidates, exact cosine
    verifies — the embedding-space analog of MinHash+LSH dedup.

    ``n_planes=None`` sizes the plane count from the corpus
    (:func:`adaptive_n_planes`: one count aggregate, then
    planes ≈ log2(N / target_bucket)) so candidate volume stays
    ~linear in N; the default 8 matches the pinned DuckDB oracle.
    ``plant_twins`` injects the perturbed-twin test corpus
    (:func:`plant_perturbed_twins`) — off for production callers.

    Scale shape: candidates are bounded by bucket co-occupancy
    (2^n_planes buckets, occupancy held at target by adaptive
    planes, worst-case skew capped by ``max_bucket_size``), never
    all-pairs; the verify is a map-side expression on candidates only.
    """
    base = embs.select("vec_id", _vecd("embedding").alias("e"))
    corpus = plant_perturbed_twins(base) if plant_twins else base
    if n_planes is None:
        n_planes = adaptive_n_planes(corpus.count())
    withb = corpus.select(
        "vec_id", "e", F.expr(_bucket_expr(n_planes, "e")).alias("bucket")
    )
    cand = _bucket_candidates(withb, max_bucket_size)
    cos = _dot("a.e", "b.e") / (_norm("a.e") * _norm("b.e"))
    return (
        cand.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            portable_round(cos, _R).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _near_dups_sql(n_planes: int, threshold: float) -> str:
    dot = _DOT_SQL.format(a="a.e", b="b.e", dim=DIM)
    return f"""
WITH base AS (SELECT vec_id, {_VECD_SQL.format(e='embedding')} AS e
              FROM embeddings),
twin AS (SELECT vec_id + 1000000 AS vec_id,
                list_transform(generate_series(1, {DIM}),
                    i -> CASE WHEN i = 1 THEN e[1] * 1.03
                              ELSE e[i] END) AS e
         FROM base WHERE vec_id % 10 = 0),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
withb AS (
    SELECT vec_id, e, {_bucket_sql_expr(n_planes, 'e')} AS bucket
    FROM corpus
),
cand AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({dot} / ({_NORM_SQL.format(a='a.e')}
                          * {_NORM_SQL.format(a='b.e')}), 4) AS cosine
    FROM withb a JOIN withb b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM cand WHERE cosine >= {threshold}
"""


# ------------------------------------------------------------------ IVF
def ivf_centroid_array(embs: DataFrame, centroid_mod: int = 100) -> DataFrame:
    """1-row relation holding the sorted centroid array.

    Centroids are a deterministic corpus subset (``vec_id %
    centroid_mod == 0``) — the seeded-sample initialization of an IVF
    index (at 10^12 rows a k-means refinement would iterate this same
    structure; the *index shape* — coarse cells + cell-equality probe
    join — is identical). collect_list order is nondeterministic, so
    the array is sorted by centroid id: the assignment fold's strict
    ``>`` then keeps the SMALLEST centroid id on an exact cosine tie,
    matching the oracle's ``ORDER BY cos DESC, cid ASC`` tie-break.
    """
    cents = embs.where(F.col("vec_id") % centroid_mod == 0).select(
        F.struct(
            F.col("vec_id").cast("long").alias("cid"),
            _vecd("embedding").alias("ce"),
        ).alias("c")
    )
    return cents.agg(
        F.array_sort(F.collect_list("c")).alias("cents")
    )


def _cell_scores_expr(vec: str) -> str:
    """array<struct<cid,cs>> of per-centroid cosine for column ``vec``
    against the broadcast ``cents`` array — pure higher-order
    expressions inside whole-stage codegen, no Python, no shuffle."""
    dot = (
        f"aggregate(zip_with(c.ce, {vec}, (x, y) -> x * y), "
        f"cast(0.0 as double), (a, v) -> a + v)"
    )
    ncent = "sqrt(aggregate(c.ce, cast(0.0 as double), (a, x) -> a + x * x))"
    nvec = (
        f"sqrt(aggregate({vec}, cast(0.0 as double), (a, x) -> a + x * x))"
    )
    return (
        f"transform(cents, c -> named_struct("
        f"'cid', c.cid, 'cs', {dot} / ({ncent} * {nvec})))"
    )


_ARGMAX_CELL = (
    "aggregate(cell_scores, "
    "named_struct('cid', cast(-1 as bigint), 'cs', cast(-1e308 as double)), "
    "(acc, s) -> IF(s.cs > acc.cs, s, acc)).cid"
)


def _ivf_assigned(base: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, e, cell): argmax-cosine cell per vector against the
    broadcast centroid array — the shared body of ivf_assign/ivf_topk."""
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("cell_scores", F.expr(_cell_scores_expr("e")))
        .select("vec_id", "e", F.expr(_ARGMAX_CELL).alias("cell"))
    )


def ivf_assign(embs: DataFrame, centroid_mod: int = 100) -> DataFrame:
    """(vec_id, cell): nearest-centroid (max-cosine) cell per vector.

    Scale shape: the centroid array (C×dim doubles) broadcasts; the
    argmax is a map-side fold per row — ZERO shuffle of the corpus, the
    same plan shape as :func:`lsh_bucket_assignments`. C grows like
    corpus/centroid_mod; for 10⁹+ rows size C ≈ √N and probe with
    nprobe ≪ C (standard IVF operating point)."""
    base = embs.select("vec_id", _vecd("embedding").alias("e"))
    return _ivf_assigned(
        base, ivf_centroid_array(embs, centroid_mod)
    ).select("vec_id", "cell")


def ivf_train_centroids(embs: DataFrame, centroid_mod: int = 100,
                        iters: int = 3,
                        stats: list | None = None) -> DataFrame:
    """Spherical k-means (Lloyd) refinement of the IVF coarse
    quantizer: start from the seeded-sample centroids
    (:func:`ivf_centroid_array`) and run ``iters`` rounds of
    assign → recompute-mean → renormalize. Returns the same 1-row
    sorted ``cents`` array relation, drop-in for
    :func:`ivf_topk`'s probe structure.

    Scale shape per round (the standard distributed Lloyd):
    - ASSIGN is the broadcast-centroids map-side argmax fold — zero
      corpus shuffle (same plan as :func:`ivf_assign`);
    - MEAN recompute posexplodes each vector and aggregates
      (cell, dim_pos) partial sums — map-side combined, so the
      shuffle carries C·dim rows of partials, corpus-size-
      independent;
    - empty cells keep their previous centroid (no respawn jitter —
      deterministic, engine-portable);
    - centroids are L2-renormalized each round: for cosine/IVF the
      cell boundary depends only on direction, and normalized
      centroids make the per-round mean-similarity objective
      monotone (asserted in tests via ``stats``).

    ``stats`` (optional list) receives one float per round: the mean
    cosine of every vector to its assigned centroid BEFORE that
    round's update — the spherical-k-means objective, for
    convergence tests/observability. Driver-side state is only these
    per-round scalars and the C×dim centroid array itself (which a
    real IVF build also collects — it must broadcast anyway)."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    base = embs.select("vec_id", _vecd("embedding").alias("e"))
    cents = ivf_centroid_array(embs, centroid_mod)
    spark = embs.sparkSession
    for _ in range(iters):
        # loop-internal persist (NOT the caller-released registry:
        # the lifetime ends inside this iteration, after `prev` is
        # collected below)
        cents_m = cents.persist()
        cents_m.count()
        assigned = (
            base.crossJoin(F.broadcast(cents_m))
            .withColumn("cell_scores", F.expr(_cell_scores_expr("e")))
            .select(
                "vec_id", "e",
                F.expr(_ARGMAX_CELL).alias("cell"),
                F.expr(
                    "aggregate(cell_scores, cast(-1e308 as double), "
                    "(acc, s) -> IF(s.cs > acc, s.cs, acc))"
                ).alias("best_cs"),
            )
        )
        # objective + per-(cell, dim) partial sums in ONE corpus pass
        sums = (
            assigned.select(
                "cell", "best_cs",
                F.posexplode("e").alias("pos", "x"),
            )
            .groupBy("cell", "pos")
            .agg(
                F.sum("x").alias("sx"),
                F.count(F.lit(1)).alias("n"),
                F.sum("best_cs").alias("scs"),
            )
        )
        rows = (
            sums.groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "sx"))
                ).alias("ps"),
                F.first("n").alias("n"),
                F.first("scs").alias("scs"),
            )
            .select(
                "cell", "n", "scs",
                F.expr("transform(ps, p -> p.sx / n)").alias("mean_e"),
            )
            .collect()
        )
        if stats is not None and rows:
            # scs duplicates best_cs dim times per vector; any single
            # (cell,pos) group's sum is the per-cell total — mean is
            # Σ scs / Σ n over cells
            stats.append(
                float(sum(r["scs"] for r in rows))
                / float(sum(r["n"] for r in rows))
            )
        new_by_cell = {}
        for r in rows:
            nrm = math.sqrt(sum(x * x for x in r["mean_e"]))
            if nrm > 0:
                new_by_cell[r["cell"]] = [x / nrm for x in r["mean_e"]]
        prev = cents_m.first()["cents"]
        cents_m.unpersist()
        updated = [
            (int(c["cid"]),
             new_by_cell.get(c["cid"], list(c["ce"])))
            for c in prev
        ]
        cents = spark.createDataFrame(
            [(updated,)], "cents array<struct<cid: bigint, ce: array<double>>>"
        ).select(F.array_sort(F.col("cents")).alias("cents"))
    return cents


def ivf_topk(embs: DataFrame, centroid_mod: int = 100, nprobe: int = 2,
             query_mod: int = 50, k: int = 5,
             train_iters: int = 0) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their argmax-cosine cell;
    each query probes its ``nprobe`` highest-cosine cells; scoring is
    a cell-equality join (broadcast query side) + exact cosine + per-
    query rank. With ``nprobe`` = number of cells this is EXACTLY
    brute force (tested), trading recall for probe count below that.
    """
    base = embs.select("vec_id", _vecd("embedding").alias("e"))
    # materialize the 1-row centroid array: it feeds TWO crossJoin
    # consumers (assignment + probes) and is itself a full corpus
    # pass — uncached, each consumer would recompute that pass
    # train_iters > 0 first refines the seed centroids with that many
    # distributed Lloyd rounds (ivf_train_centroids) — tighter cells,
    # better recall at the same nprobe; the rerank stays exact
    if train_iters > 0:
        cents_src = ivf_train_centroids(embs, centroid_mod,
                                        iters=train_iters)
    else:
        cents_src = ivf_centroid_array(embs, centroid_mod)
    cents = caching.materialize(cents_src)
    assigned = _ivf_assigned(base, cents)
    # tiny query side: rank this query's cells by cosine, keep nprobe
    probes = (
        base.where(F.col("vec_id") % query_mod == 0)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.explode(F.expr(_cell_scores_expr("e"))).alias("s"),
        )
        .withColumn(
            "prk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    F.desc("s.cs"), F.asc("s.cid")
                )
            ),
        )
        .where(F.col("prk") <= nprobe)
        .select("q_id", "qe", F.col("s.cid").alias("cell"))
    )
    joined = assigned.join(F.broadcast(probes), on="cell").where(
        F.col("vec_id") != F.col("q_id")
    )
    return _rank_topk(joined, k)


_IVF_ASSIGN_SQL_BODY = """
base AS (SELECT vec_id, {vecd} AS e FROM embeddings),
cents AS (SELECT vec_id AS cid, e AS ce FROM base
          WHERE vec_id % {centroid_mod} = 0),
scored_cells AS (
    SELECT b.vec_id, c.cid,
           {dot} / ({ncent} * {nvec}) AS cs
    FROM base b, cents c
),
assign AS (
    SELECT vec_id, cid AS cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cid ASC) AS rn
    FROM scored_cells
)
"""


def _ivf_sql_parts(centroid_mod: int) -> str:
    return _IVF_ASSIGN_SQL_BODY.format(
        vecd=_VECD_SQL.format(e="embedding"),
        centroid_mod=centroid_mod,
        dot=_DOT_SQL.format(a="c.ce", b="b.e", dim=DIM),
        ncent=_NORM_SQL.format(a="c.ce"),
        nvec=_NORM_SQL.format(a="b.e"),
    )


def _ivf_assign_sql(centroid_mod: int) -> str:
    return (
        "WITH " + _ivf_sql_parts(centroid_mod)
        + "SELECT vec_id, cell FROM assign WHERE rn = 1"
    )


def _ivf_topk_sql(centroid_mod: int, nprobe: int, query_mod: int,
                  k: int) -> str:
    dot = _DOT_SQL.format(a="q.qe", b="c.e", dim=DIM)
    return f"""
WITH {_ivf_sql_parts(centroid_mod)},
cells AS (SELECT b.vec_id, b.e, a.cell FROM base b
          JOIN assign a ON b.vec_id = a.vec_id AND a.rn = 1),
probes AS (
    SELECT vec_id AS q_id, cid AS cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cid ASC) AS prk
    FROM scored_cells WHERE vec_id % {query_mod} = 0
),
q AS (SELECT p.q_id, b.e AS qe, p.cell FROM probes p
      JOIN base b ON b.vec_id = p.q_id WHERE p.prk <= {nprobe}),
scored AS (
    SELECT q.q_id, c.vec_id AS neighbor_id,
           {dot} / ({_NORM_SQL.format(a='q.qe')} * {_NORM_SQL.format(a='c.e')})
               AS _cos
    FROM cells c JOIN q ON c.cell = q.cell AND c.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, neighbor_id, _cos,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY _cos DESC, neighbor_id ASC) AS INT) AS rk
    FROM scored
)
SELECT q_id, neighbor_id, round(_cos, 4) AS cosine, rk
FROM ranked WHERE rk <= {k}
"""


def embedding_outliers(embs: DataFrame, z_thresh: float = 2.0) -> DataFrame:
    """Per-label centroid-cosine outlier detection — the embedding-space
    data-quality filter of a curation pipeline (mislabeled / corrupt /
    off-distribution vectors sit far from their class centroid; the
    same signal contrastive-filtering pipelines threshold).

    Every vector's cosine to its OWN label's mean vector, flagged when
    it z-scores below −z_thresh against that label's cosine
    distribution (one-sided: only the far tail is suspicious; being
    unusually central is fine).

    Scale shape: the centroid is a posexplode → map-side-combined
    ``groupBy(label, pos)`` average — the only exchange the D×N
    component stream crosses, with partial aggregation collapsing each
    task's components before the wire — reassembled into (labels × D)
    arrays and BROADCAST back; the per-label cosine mean/std is a
    second map-side-combined aggregate over the N-row scored relation,
    also broadcast. The corpus itself never shuffles. No window — the
    VERDICT-flagged low-cardinality-key window shape is exactly what
    the two broadcast joins avoid.
    """
    base = embs.select("vec_id", "label", _vecd("embedding").alias("e"))
    comp = base.select("label", F.posexplode("e").alias("_p", "_x"))
    cent = (
        comp.groupBy("label", "_p").agg(F.avg("_x").alias("_c"))
        .groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(_p, _c))),"
            " s -> s._c)").alias("ce"))
    )
    scored = base.join(F.broadcast(cent), "label").select(
        "vec_id", "label",
        (_dot("e", "ce") / (_norm("e") * _norm("ce"))).alias("_cos"),
    )
    st = scored.groupBy("label").agg(
        F.avg("_cos").alias("_mu"), F.stddev_pop("_cos").alias("_sig"))
    return scored.join(F.broadcast(st), "label").select(
        "vec_id", "label",
        portable_round(F.col("_cos"), _R).alias("cos_centroid"),
        (F.col("_cos") < F.col("_mu") - F.lit(z_thresh) * F.col("_sig"))
        .cast("int").alias("outlier"),
    )


def _embedding_outliers_sql(z_thresh: float) -> str:
    dot = _DOT_SQL.format(a="b.e", b="c.ce", dim=DIM)
    return f"""
WITH base AS (SELECT vec_id, label,
                     {_VECD_SQL.format(e='embedding')} AS e
              FROM embeddings),
comp AS (
    SELECT label, i, e[i] AS x
    FROM base, (SELECT unnest(range(1, {DIM} + 1)) AS i)
),
cent AS (
    SELECT label, list(c ORDER BY i) AS ce
    FROM (SELECT label, i, avg(x) AS c FROM comp GROUP BY 1, 2)
    GROUP BY 1
),
scored AS (
    SELECT b.vec_id, b.label,
           {dot} / ({_NORM_SQL.format(a='b.e')} *
                    {_NORM_SQL.format(a='c.ce')}) AS _cos
    FROM base b JOIN cent c USING (label)
),
st AS (SELECT label, avg(_cos) AS mu, stddev_pop(_cos) AS sig
       FROM scored GROUP BY 1)
SELECT s.vec_id, s.label, round(s._cos, 4) AS cos_centroid,
       CAST(s._cos < st.mu - {z_thresh} * st.sig AS INT) AS outlier
FROM scored s JOIN st USING (label)
"""


def quantization_error(embs: DataFrame, qmax: int = 127) -> DataFrame:
    """Symmetric per-dimension scalar quantization QC: quantize every
    embedding to ``[-qmax, qmax]`` ints (int8 at the default 127)
    against per-dimension max-|x| scales, dequantize, and report each
    vector's reconstruction ``mse`` and ``cos_sim`` to its original —
    (vec_id, mse, cos_sim).

    The go/no-go check before shipping a quantized ANN index: int8
    scalar quantization cuts the 100 TB vector store 4× and the scan
    bandwidth with it, but only if recall survives — cos_sim ≈ 1
    per vector is the cheap proxy audited before any recall run.
    Quantization is round-half-away-from-zero via
    ``sign·floor(|x|/s·qmax + 0.5)`` — engine-portable (both engines
    evaluate it in exact double arithmetic on identical float32
    inputs), unlike bare ``round`` whose tie rule differs.

    Metrics round at 8 decimals, not the repo's usual 4: int8
    reconstruction errors live at 1e-6..1e-7, invisible at 4. The
    oracle mirrors the 1e-9 boundary epsilon explicitly (bypassing
    ``_epsilonize``, which only rewrites 4-decimal rounds).

    Scale shape: the scales are ONE map-side-combined (dim) groupBy
    (the D×N component stream collapses to D rows in the combiner),
    reassembled into a D-array and BROADCAST back; quantize /
    dequantize / mse / cosine are pure zip_with map work — the corpus
    never shuffles."""
    if qmax < 1:
        raise ValueError(f"qmax must be >= 1, got {qmax}")
    base = embs.select("vec_id", _vecd("embedding").alias("v"))
    comp = base.select(F.posexplode("v").alias("_p", "_x"))
    scales = (
        comp.groupBy("_p").agg(F.max(F.abs(F.col("_x"))).alias("_s"))
        .groupBy()
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(_p, _s))),"
            " s -> s._s)").alias("sv"))
    )
    q = float(qmax)
    dq = (
        f"zip_with(v, sv, (x, s) -> CASE WHEN s > 0.0D THEN "
        f"(CASE WHEN x < 0.0D THEN -1.0D ELSE 1.0D END) "
        f"* floor(abs(x) / s * {q}D + 0.5D) * s / {q}D "
        f"ELSE 0.0D END)"
    )
    w = base.crossJoin(F.broadcast(scales)).select(
        "vec_id", "v", F.expr(dq).alias("w"))
    err2 = F.expr(
        "aggregate(zip_with(v, w, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, z) -> acc + z)")
    return w.select(
        "vec_id",
        portable_round(err2 / F.lit(float(DIM)), 8).alias("mse"),
        F.when(
            (_norm("v") > 0) & (_norm("w") > 0),
            portable_round(_dot("v", "w") / (_norm("v") * _norm("w")), 8),
        ).alias("cos_sim"),
    )


def _quant_error_sql(qmax: int) -> str:
    q = repr(float(qmax))
    return f"""
WITH comp AS (
    SELECT t.i, max(abs(CAST(e.embedding[t.i] AS DOUBLE))) AS s
    FROM embeddings e, range(1, {DIM + 1}) t(i)
    GROUP BY t.i
),
sc AS (SELECT list(s ORDER BY i) AS s FROM comp),
d AS (
    SELECT e.vec_id,
           list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
           (SELECT s FROM sc) AS s
    FROM embeddings e
),
dq AS (
    SELECT vec_id, v,
           list_transform(generate_series(1, {DIM}),
               i -> CASE WHEN s[i] > 0.0
                    THEN (CASE WHEN v[i] < 0.0 THEN -1.0 ELSE 1.0 END)
                         * floor(abs(v[i]) / s[i] * {q} + 0.5)
                         * s[i] / {q}
                    ELSE 0.0 END) AS w
    FROM d
)
SELECT vec_id,
       round(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> (v[i] - w[i]) * (v[i] - w[i])))
             / {DIM}.0 + 1e-9, 8) AS mse,
       CASE WHEN {_NORM_SQL.format(a='v')} > 0
             AND {_NORM_SQL.format(a='w')} > 0
            THEN round({_DOT_SQL.format(a='v', b='w', dim=DIM)}
                       / ({_NORM_SQL.format(a='v')}
                          * {_NORM_SQL.format(a='w')}) + 1e-9, 8)
       END AS cos_sim
FROM dq
"""


ORACLE_SQL = {
    "embedding_outliers": _embedding_outliers_sql(2.0),
    "embed_quant_error": _quant_error_sql(127),
    "embedding_topk": _brute_force_sql(50, 5),
    "ivf_cells": _ivf_assign_sql(100),
    "ivf_topk": _ivf_topk_sql(100, 2, 50, 5),
    "embedding_near_dups": _near_dups_sql(8, 0.9),
    "ann_lsh_buckets": _lsh_bucket_sql(8),
    "ann_lsh_topk": _lsh_topk_sql(8, 50, 5),
    "ann_lsh_multiprobe": _lsh_multiprobe_sql(8, 50, 5),
    "ann_recall_lsh": _ann_recall_sql(8, 50, 5),
}


def label_centroid_qc(embs: DataFrame) -> DataFrame:
    """Cluster-quality audit of a labeled embedding table: per label,
    the mean cosine to the OWN label centroid, the mean cosine to the
    best OTHER centroid, and the centroid-silhouette — silhouette
    computed per vector from cosine distances (a = 1 − own_cos,
    b = 1 − best_other_cos, s = (b − a)/max(a, b)) and averaged. The
    go/no-go before trusting labels for :func:`cluster split
    <yahoo_anomaly_detection_spark.operators.curation>`-style
    leakage-safe partitioning or classifier distillation: labels
    whose silhouette ≈ 0 are not clusters, and their "separation"
    margin is noise.

    Output: (label, n, intra_cos, inter_cos, margin, silhouette) —
    floats rounded to 4; degenerate vectors (zero norm) would NULL
    through try-division on both engines.

    Scale shape: centroids are ONE map-side-combined (label, dim)
    aggregate reassembled to |labels| rows and BROADCAST; the
    corpus cross-scores against that broadcast relation map-side
    (N·|labels| intermediate rows that COLLAPSE to one row per
    vector in the map-side combiner of the (vec) groupBy), then
    |labels| rows of final aggregate — the corpus never shuffles
    raw vectors.
    """
    base = embs.select("vec_id", "label", _vecd("embedding").alias("e"))
    cent = (
        base.select("label", F.posexplode("e").alias("_p", "_c"))
        .groupBy("label", "_p").agg(F.avg("_c").alias("_c"))
        .groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(_p, _c))),"
            " s -> s._c)").alias("ce"))
        .select(F.col("label").alias("clabel"), "ce")
    )
    crossed = base.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel",
        (_dot("e", "ce") / (_norm("e") * _norm("ce"))).alias("_cos"),
    )
    per_vec = crossed.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"),
                     F.col("_cos"))).alias("own"),
        F.max(F.when(F.col("clabel") != F.col("label"),
                     F.col("_cos"))).alias("other"),
    )
    a = F.lit(1.0) - F.col("own")
    b = F.lit(1.0) - F.col("other")
    sil = F.try_divide(b - a, F.greatest(a, b))
    return (per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        portable_round(F.avg("own"), _R).alias("intra_cos"),
        portable_round(F.avg("other"), _R).alias("inter_cos"),
        portable_round(F.avg(F.col("own") - F.col("other")), _R)
        .alias("margin"),
        portable_round(F.avg(sil), _R).alias("silhouette"),
    ))


def _label_centroid_sql() -> str:
    dot = _DOT_SQL.format(a="b.e", b="c.ce", dim=DIM)
    return f"""
WITH base AS (SELECT vec_id, label,
                     {_VECD_SQL.format(e='embedding')} AS e
              FROM embeddings),
comp AS (
    SELECT label, i, e[i] AS x
    FROM base, (SELECT unnest(range(1, {DIM} + 1)) AS i)
),
cent AS (
    SELECT label AS clabel, list(c ORDER BY i) AS ce
    FROM (SELECT label, i, avg(x) AS c FROM comp GROUP BY 1, 2)
    GROUP BY 1
),
crossed AS (
    SELECT b.vec_id, b.label, c.clabel,
           {dot} / ({_NORM_SQL.format(a='b.e')} *
                    {_NORM_SQL.format(a='c.ce')}) AS _cos
    FROM base b CROSS JOIN cent c
),
per_vec AS (
    SELECT vec_id, label,
           max(CASE WHEN clabel = label THEN _cos END) AS own,
           max(CASE WHEN clabel <> label THEN _cos END) AS other
    FROM crossed GROUP BY 1, 2
)
SELECT label, count(*) AS n,
       round(avg(own), 4) AS intra_cos,
       round(avg(other), 4) AS inter_cos,
       round(avg(own - other), 4) AS margin,
       round(avg(((1.0 - other) - (1.0 - own))
                 / greatest(1.0 - own, 1.0 - other)), 4) AS silhouette
FROM per_vec GROUP BY 1
"""


ORACLE_SQL["label_centroid_qc"] = _label_centroid_sql()


# ------------------------------------------------------ coreset_kcenter
def coreset_kcenter(embs: DataFrame, k: int = 8,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    batch: int = 1) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985) over cosine
    distance: start from the smallest id, then repeatedly add the
    vector FARTHEST from the selected set (max of min-distance,
    ties → smallest id) — the classic 2-approximation to the
    k-center cover, used as DIVERSITY SAMPLING in training-data
    curation: where ``stratified_sample`` balances labels and
    ``weighted_sample`` follows quality weights, the k-center picks
    maximize COVERAGE of embedding space, and the selection radius
    sequence reports how well k points cover the corpus (the r-th
    radius bounds every remaining vector's distance to the set).

    Deterministic on both engines: each round's argmax is the max
    of ONE BIGINT encoding round(dist·10⁴)·10¹² + (10¹²−1−vec_id),
    mirrored in the oracle as k chained CTEs (the greedy loop
    UNROLLED into SQL — each round a singleton CTE selected by the
    same integer argmax over the same rounded distance).

    Output: (sel_rank, vec_id, radius) — k rows; radius is the
    selected vector's min-distance at selection time (NULL for
    rank 0), rounded to 4.

    Scale shape: one corpus materialization (unit norms attached);
    each round is ONE map-side aggregate over it — the selected
    centers travel as ≤ k·64 literals in the plan, and the only
    driver-side values are each round's winner row (a scalar per
    round, the connected-components-loop contract). Total work
    k²·N dot products, embarrassingly parallel, zero shuffles
    beyond the aggregates. THE COST TO KNOW: greedy Gonzalez is
    inherently sequential, so ``batch=1`` performs k−1 FULL CORPUS
    SCANS — at 100 TB that is k passes over the embedding table.
    ``batch=b`` is the oversampled scale route (scalable
    k-means‖-style): each round takes the TOP-b farthest candidates
    by the same integer encoding, cutting the scan count to
    ⌈(k−1)/b⌉ at the cost of a bounded approximation — picks 2..b
    of a round are chosen without seeing their same-round
    predecessors, and their recorded ``radius`` is the min-distance
    to the PRE-round set (an upper bound on the true greedy
    radius). ``batch=1`` is EXACTLY the classic greedy.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    base = caching.materialize(
        embs.select(F.col(id_col).alias("vec_id"),
                    _vecd(vec_col).alias("e"))
        .withColumn("nrm", _norm("e")))
    spark = embs.sparkSession
    first = (base.orderBy("vec_id")
             .select("vec_id", "e", "nrm").first())
    sel = [(0, int(first[0]), list(first[1]), float(first[2]), None)]
    for _ in range(1, int(k)):
        dists = []
        for _, cid, cvec, cnrm, _r in sel:
            lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
            dot = F.expr(
                "aggregate(zip_with(e, _cv, (x, y) -> x * y), "
                "cast(0.0 as double), (acc, v) -> acc + v)")
            d = (F.lit(1.0)
                 - dot / (F.col("nrm") * F.lit(cnrm)))
            dists.append((lit_vec, d))
        picked = base
        mind = None
        for i, (lv, d) in enumerate(dists):
            picked = picked.withColumn(f"_cv", lv)
            d_named = d
            picked = picked.withColumn(f"_d{i}", d_named).drop("_cv")
            mind = (F.col(f"_d{i}") if mind is None
                    else F.least(mind, F.col(f"_d{i}")))
        d4 = portable_key(mind)
        enc = (d4 * F.lit(1_000_000_000_000)
               + (F.lit(999_999_999_999)
                  - F.col("vec_id").cast("long")))
        sel_ids = [c[1] for c in sel]
        cand = picked.where(~F.col("vec_id").isin(sel_ids))
        take = min(int(batch), int(k) - len(sel))
        rows = (cand.select(enc.alias("enc"), "vec_id", "e", "nrm")
                .orderBy(F.desc("enc"))
                .limit(take)
                .collect())
        if not rows:                # corpus exhausted before k
            break
        for row in rows:
            radius = (float(int(row["enc"]) // 1_000_000_000_000)
                      / 1e4)
            sel.append((len(sel), int(row["vec_id"]),
                        list(row["e"]), float(row["nrm"]), radius))
        if len(sel) >= int(k):
            break
    return spark.createDataFrame(
        [(r, i, rad) for r, i, _v, _n, rad in sel],
        "sel_rank int, vec_id long, radius double")


def _coreset_sql(k: int = 8) -> str:
    def dot(a: str, b: str) -> str:
        return _DOT_SQL.format(a=a, b=b, dim=DIM)

    ctes = [
        "base AS MATERIALIZED (SELECT vec_id, "
        f"{_VECD_SQL.format(e='embedding')} AS e, "
        f"{_NORM_SQL.format(a=_VECD_SQL.format(e='embedding'))} AS nrm "
        "FROM embeddings)",
        "s0 AS MATERIALIZED (SELECT vec_id, e, nrm FROM base "
        "ORDER BY vec_id LIMIT 1)",
    ]
    for r in range(1, int(k)):
        prev = ", ".join(f"s{j}" for j in range(r))
        mins = ", ".join(
            f"1.0 - ({dot('b.e', f's{j}.e')}) / (b.nrm * s{j}.nrm)"
            for j in range(r))
        least = f"least({mins})" if r > 1 else mins
        not_in = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(r))
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT b.vec_id, b.e, b.nrm, "
            f"{portable_key_sql(least)} AS d4 "
            f"FROM base b, {prev} "
            f"WHERE b.vec_id NOT IN ({not_in}))")
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT max(d4 * 1000000000000 "
            f"+ (999999999999 - vec_id)) AS enc FROM d{r})")
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT d.vec_id, d.e, d.nrm, "
            f"CAST(p.enc // 1000000000000 AS DOUBLE) / 1e4 AS radius "
            f"FROM d{r} d, p{r} p "
            f"WHERE d.vec_id = 999999999999 - p.enc % 1000000000000)")
    selects = ["SELECT 0 AS sel_rank, vec_id, "
               "CAST(NULL AS DOUBLE) AS radius FROM s0"]
    for r in range(1, int(k)):
        selects.append(
            f"SELECT {r} AS sel_rank, vec_id, radius FROM s{r}")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL ".join(selects))


ORACLE_SQL["coreset_kcenter"] = _coreset_sql()


# ------------------------------------------------------ mmr_rerank
def mmr_rerank(embs: DataFrame, query_id: int = 0, k: int = 5,
               lam: float = 0.7, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick the candidate maximizing
    λ·cos(query, v) − (1−λ)·max_{s∈selected} cos(s, v) — the
    relevance-vs-redundancy tradeoff every retrieval stage wants
    between the ANN top-k (pure relevance: near-duplicates crowd
    the list) and :func:`coreset_kcenter` (pure diversity, no
    query). The query is the ``query_id`` row's own embedding;
    candidates are all other rows.

    Deterministic on both engines: each round's winner is the max
    of ONE BIGINT encoding round((score+2)·10⁴)·10¹² +
    (10¹²−1−vec_id) — the +2 shift keeps the MMR score (∈ [−1, 1])
    positive so the integer encoding orders correctly; the oracle
    unrolls the loop into k chained MATERIALIZED CTEs with the same
    argmax.

    Output: (sel_rank, vec_id, score) — k rows, score rounded to 4
    (rank 0 = pure relevance, no redundancy term yet).

    Scale shape: one corpus materialization with unit norms and the
    broadcast query vector; one map-side aggregate per round with
    the ≤ k selected vectors as plan literals — the
    :func:`coreset_kcenter` loop contract (per-round winner rows
    are the only driver values). THE COST TO KNOW: like greedy
    k-center, MMR is inherently sequential — k−1 full passes over
    the CANDIDATE relation. At retrieval scale the candidate set
    should be the ANN top-N (N ≈ 5-10·k) fed from
    :func:`ann_lsh_topk`/:func:`ivf_topk`, never the raw corpus —
    then the k scans touch N rows, not 100 TB.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    lam = float(lam)
    base = caching.materialize(
        embs.select(F.col(id_col).alias("vec_id"),
                    _vecd(vec_col).alias("e"))
        .withColumn("nrm", _norm("e")))
    spark = embs.sparkSession
    qrows = base.where(F.col("vec_id") == query_id) \
        .select("e", "nrm").collect()
    if not qrows:
        raise ValueError(
            f"mmr_rerank: query_id={query_id!r} has no row in "
            f"{id_col!r} — cannot derive the query vector")
    [q] = qrows
    qvec, qnrm = list(q[0]), float(q[1])

    def _cos_to(vec: list, nrm: float) -> Column:
        lit_vec = F.array(*[F.lit(float(x)) for x in vec])
        dot = F.expr(
            "aggregate(zip_with(e, _cv, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, v) -> acc + v)")
        return dot / (F.col("nrm") * F.lit(nrm)), lit_vec

    sel: list = []
    for _ in range(int(k)):
        rel_expr, q_lit = _cos_to(qvec, qnrm)
        cand = base.withColumn("_cv", q_lit) \
            .withColumn("_rel", rel_expr).drop("_cv")
        red = None
        for i, (_rk, _id, svec, snrm, _sc) in enumerate(sel):
            sim, s_lit = _cos_to(svec, snrm)
            cand = (cand.withColumn("_cv", s_lit)
                    .withColumn(f"_s{i}", sim).drop("_cv"))
            red = (F.col(f"_s{i}") if red is None
                   else F.greatest(red, F.col(f"_s{i}")))
        score = (F.lit(lam) * F.col("_rel")
                 - (F.lit(1.0 - lam) * red if red is not None
                    else F.lit(0.0)))
        s4 = portable_key(score + F.lit(2.0))
        enc = (s4 * F.lit(1_000_000_000_000)
               + (F.lit(999_999_999_999)
                  - F.col("vec_id").cast("long")))
        sel_ids = [c[1] for c in sel] + [int(query_id)]
        [row] = (cand.where(~F.col("vec_id").isin(sel_ids))
                 .select(enc.alias("enc"), "vec_id", "e", "nrm")
                 .agg(F.max("enc").alias("enc"),
                      F.max_by(F.struct("vec_id", "e", "nrm"), "enc")
                      .alias("w"))
                 .collect())
        if row["enc"] is None:
            break
        s4v = int(row["enc"]) // 1_000_000_000_000
        w = row["w"]
        sel.append((len(sel), int(w["vec_id"]), list(w["e"]),
                    float(w["nrm"]), s4v / 1e4 - 2.0))
    return spark.createDataFrame(
        [(r, i, round(sc + 1e-9, 4))
         for r, i, _v, _n, sc in sel],
        "sel_rank int, vec_id long, score double")


def _mmr_sql(query_id: int = 0, k: int = 5, lam: float = 0.7) -> str:
    lam = float(lam)

    def dot(a: str, b: str) -> str:
        return _DOT_SQL.format(a=a, b=b, dim=DIM)

    def cos(tbl: str) -> str:
        return (f"({dot('b.e', f'{tbl}.e')})"
                f" / (b.nrm * {tbl}.nrm)")

    ctes = [
        "base AS MATERIALIZED (SELECT vec_id, "
        f"{_VECD_SQL.format(e='embedding')} AS e, "
        f"{_NORM_SQL.format(a=_VECD_SQL.format(e='embedding'))} AS nrm "
        "FROM embeddings)",
        f"qv AS MATERIALIZED (SELECT e, nrm FROM base "
        f"WHERE vec_id = {int(query_id)})",
    ]
    for r in range(int(k)):
        prev = "".join(f", m{j}" for j in range(r))
        if r == 0:
            score = f"{lam} * (({dot('b.e', 'qv.e')}) / (b.nrm * qv.nrm))"
        else:
            sims = ", ".join(cos(f"m{j}") for j in range(r))
            red = f"greatest({sims})" if r > 1 else sims
            score = (f"{lam} * (({dot('b.e', 'qv.e')})"
                     f" / (b.nrm * qv.nrm)) - {1.0 - lam} * ({red})")
        not_in = " UNION ALL ".join(
            [f"SELECT {int(query_id)} AS vec_id"]
            + [f"SELECT vec_id FROM m{j}" for j in range(r)])
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT b.vec_id, b.e, b.nrm, "
            f"{portable_key_sql(f'({score}) + 2.0')} AS s4 "
            f"FROM base b, qv{prev} "
            f"WHERE b.vec_id NOT IN ({not_in}))")
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT max(s4 * 1000000000000 "
            f"+ (999999999999 - vec_id)) AS enc FROM c{r})")
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT c.vec_id, c.e, c.nrm, "
            f"CAST(p.enc // 1000000000000 AS DOUBLE) / 1e4 - 2.0 "
            f"AS score FROM c{r} c, p{r} p "
            f"WHERE c.vec_id = 999999999999 - p.enc % 1000000000000)")
    selects = [
        f"SELECT {r} AS sel_rank, vec_id, round(score + 1e-9, 4) "
        f"AS score FROM m{r}" for r in range(int(k))]
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL ".join(selects))


ORACLE_SQL["mmr_rerank"] = _mmr_sql()
