"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), word-n-gram Jaccard, MinHash+LSH banding, and
SimHash near-dup detection over a ``documents(doc_id, text)`` table.
No reference counterpart (the reference has no text pipeline) — these
are the engine-side data-pipeline operators required at 100 TB scale.

Cross-engine determinism: every hash is derived from md5 hex digits
(``conv(substr(md5(x),1,8),16,10)``), reproducible bit-for-bit in any
SQL engine — the DuckDB oracles in ``ORACLE_SQL`` mirror each
operator exactly.

Scale notes:
- exact dedup: one hash-shuffle on the digest — map-side combined.
- shingle join: |pairs| bounded by shingle co-occurrence; at 100 TB
  run MinHash/LSH first and feed only candidate pairs to the exact
  Jaccard verify (that is precisely ``minhash_lsh_pairs``).
- MinHash: shuffle is (doc × k) rows of 3 longs, k=16 — tiny vs text.
- all expressions are JVM-side higher-order functions (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from yahoo_anomaly_detection_spark import caching
from yahoo_anomaly_detection_spark.functions.portable import portable_round

P31 = 2147483647  # 2^31 - 1 (Mersenne prime) — minhash modulus
P_FP = 1000000007

_R = 4


def hexint(c: Column) -> Column:
    """First 32 bits of md5 as a non-negative long (engine-portable)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


HEXINT_SQL = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"


# ----------------------------------------------------------- corpora
def with_synthetic_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ exact copies (doc_id + 1_000_000) — gives every
    text exactly two occurrences so exact-dedup output is non-trivial
    on the driver's all-distinct testdata corpus."""
    base = docs.select("doc_id", "text")
    return base.unionByName(
        base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )


def with_near_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ first-word-dropped copies — high-Jaccard neighbors
    for the near-dup detectors."""
    base = docs.select("doc_id", "text")
    return base.unionByName(
        base.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )


DUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents"
)
NEAR_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1) "
    "FROM documents"
)


# ------------------------------------------------------------- exact
def exact_dedup(corpus: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    duplicate count and the keeper (lowest doc_id)."""
    return (
        corpus.groupBy(F.sha2(F.col("text"), 256).alias("text_sha"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
    )


# ---------------------------------------------------------- shingles
def shingles(corpus: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc, each stored as its
    32-bit md5 prefix (a long), not the gram string: the shingle
    relation is cached and feeds self-/verify-joins, and long keys
    shuffle ~4× less than ~30-byte gram strings and hash-join faster.
    Set semantics (distinct, Jaccard) are over the hashed values —
    standard shingling practice; the DuckDB oracle hashes
    identically, so parity is exact, and the minhash input
    ``hexint(gram)`` is unchanged (it IS this hash).

    The input is repartitioned to full parallelism first: shingling
    expands each doc ~100× (explode + per-shingle md5), so the cheap
    narrow shuffle of raw docs buys even task distribution for the
    expensive expansion — otherwise the scan's file-split count (2 for
    a small parquet) caps the parallelism of the whole pipeline."""
    parts = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = corpus.repartition(parts)
    w = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(w) >= n,
        F.expr(
            f"transform(sequence(1, size(split(text, ' ')) - {n - 1}), "
            f"i -> cast(conv(substr(md5("
            f"concat_ws(' ', slice(split(text, ' '), i, {n}))"
            f"), 1, 8), 16, 10) as bigint))"
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return corpus.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def _shingle_sql(n: int) -> str:
    g = HEXINT_SQL.format(x="g")
    return f"""
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
gram AS (
    SELECT doc_id,
           unnest(CASE WHEN len(w) >= {n}
                       THEN list_transform(
                               generate_series(1, len(w) - {n - 1}),
                               i -> array_to_string(w[i:i + {n - 1}], ' '))
                       ELSE [] END) AS g
    FROM tok
),
sh AS (SELECT DISTINCT doc_id, {g} AS shingle FROM gram)"""


# ------------------------------------------------------------ jaccard
def _jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    # persist + materialize: the shingle relation feeds a self-join +
    # two size joins; without a materialized cache Spark re-evaluates
    # the explode(md5-transform) subtree per consumer (~40× slower
    # measured at sf0.1)
    sh = caching.materialize(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "_raw_j",
            F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")),
        )
        # threshold on the RAW ratio (exact int division, identical in
        # any engine) — the oracle filters raw too; filtering on the
        # rounded value would diverge on boundary pairs (0.49995
        # rounds to 0.5) and a single extra edge merges clusters
        .where(F.col("_raw_j") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            portable_round(F.col("_raw_j"), _R).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """All-pairs word-n-gram Jaccard ≥ threshold over the near-dup
    corpus. At scale, pair generation MUST be LSH-prefiltered (see
    :func:`minhash_lsh_pairs`); the shingle-join here is the exact
    small-scale baseline."""
    return _jaccard_pairs(shingles(with_near_dups(docs), n), threshold)


_JACCARD_SQL = f"""
WITH corpus AS ({NEAR_CORPUS_SQL}),
{_shingle_sql(3)},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4)
           AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
"""


# ------------------------------------------------------------ minhash
def _minhash_wide(src: DataFrame, n: int, k: int,
                  sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, h0..h{k-1}) wide signature — ONE map-side-combined
    shuffle of k longs per doc (vs k× row blow-up of a params
    crossJoin, which measured ~10× slower). Pass a pre-built
    ``sh`` shingle relation to reuse it across pipeline stages."""
    if sh is None:
        sh = shingles(src, n)
    # shingle is already hexint(gram) — see shingles()
    x = (F.col("shingle") % P31).alias("x")
    return (
        sh.select("doc_id", x)
        .groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(2 * h + 1) * F.col("x") + F.lit(7 * h + 3)) % P31)
                .alias(f"h{h}")
                for h in range(k)
            ]
        )
    )


def minhash_signatures(docs: DataFrame, n: int = 3, k: int = 16,
                       corpus: DataFrame | None = None) -> DataFrame:
    """k-permutation MinHash over word-n-gram shingles.

    h_i(s) = (a_i·(x mod P) + b_i) mod P with a_i = 2i+1, b_i = 7i+3,
    x = 32-bit md5 prefix, P = 2^31−1 — fully deterministic and
    SQL-portable. Output is exploded (doc_id, h_idx, minhash) rows
    (unpivoted from the wide column-wise aggregation)."""
    wide = _minhash_wide(corpus if corpus is not None else docs, n, k)
    stack = ", ".join(f"{h}, h{h}" for h in range(k))
    return wide.select(
        "doc_id",
        F.expr(f"stack({k}, {stack}) AS (h_idx, minhash)"),
    ).select("doc_id", F.col("h_idx").cast("int"), "minhash")


def _minhash_ctes(n: int, k: int) -> str:
    """CTE chain ``tok..sig`` over an in-scope ``corpus`` CTE —
    composable into any outer WITH (plain or RECURSIVE)."""
    xs = "shingle"  # already the 32-bit md5 prefix (see _shingle_sql)
    return f"""{_shingle_sql(n)},
params AS (SELECT CAST(i AS INT) AS h_idx, 2 * i + 1 AS a, 7 * i + 3 AS b
           FROM generate_series(0, {k - 1}) t(i)),
sig AS (
    SELECT doc_id, h_idx,
           min((a * ({xs} % {P31}) + b) % {P31}) AS minhash
    FROM sh, params GROUP BY 1, 2
)"""


def _minhash_sql(corpus_sql: str, n: int, k: int) -> str:
    return f"""
WITH corpus AS ({corpus_sql}),
{_minhash_ctes(n, k)}"""


_MINHASH_SIG_SQL = (
    _minhash_sql("SELECT doc_id, text FROM documents", 3, 16)
    + "SELECT doc_id, h_idx, minhash FROM sig"
)


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, k: int = 16,
                      bands: int = 4, threshold: float = 0.5,
                      max_band_bucket: int | None = None,
                      corpus: DataFrame | None = None) -> DataFrame:
    """MinHash + LSH banding near-dup pipeline: signatures → band
    buckets → candidate pairs (equality join on band signature) →
    exact Jaccard verification of candidates only.

    This is the 100 TB-scale dedup shape: the all-pairs join is
    replaced by |bands| equality joins whose keys are band signatures;
    exact verification touches only candidates.

    ``max_band_bucket`` (skew guard): band buckets with more than
    this many docs are excluded from candidate generation, bounding
    the self-join at occupancy² per bucket. A mega-bucket means
    thousands of docs sharing one band signature — at web scale
    that is boilerplate/exact-dup mass whose pair enumeration is
    quadratic garbage; run :func:`exact_dedup` upstream to collapse
    true copies, then the cap only drops low-information collisions.
    Capped-out docs still pair through their other ``bands−1``
    bucket memberships. Default None = exact (no cap).

    ``corpus`` overrides the default near-dup twin corpus (e.g. the
    3-member chain corpus for clustering)."""
    if bands < 1 or k % bands != 0:
        # trailing k % bands hashes would be silently dropped from
        # banding (reduced recall vs the requested k) AND the SQL
        # oracle's h_idx // rows_per_band banding would put them in an
        # extra band — fail loudly instead (no-silent-caps practice)
        raise ValueError(
            f"k must be a positive multiple of bands, got k={k}, "
            f"bands={bands}"
        )
    if corpus is None:
        corpus = with_near_dups(docs)
    # ONE shingle relation feeds both the signatures and the exact
    # Jaccard verify — the explode + per-shingle md5 is the dominant
    # cost and was previously computed twice
    sh = caching.materialize(shingles(corpus, n))
    wide = _minhash_wide(corpus, n, k, sh=sh)
    rows_per_band = k // bands
    # band signatures straight off the wide columns (no re-shuffle);
    # persist both relations that feed self-joins (see _jaccard_pairs)
    band_rows = ", ".join(
        f"{b}, concat_ws(',', "
        + ", ".join(f"h{b * rows_per_band + i}" for i in range(rows_per_band))
        + ")"
        for b in range(bands)
    )
    banded = wide.select(
        "doc_id",
        F.expr(f"stack({bands}, {band_rows}) AS (band, band_sig)"),
    )
    banded = caching.materialize(banded)  # fill cache BEFORE the
    # self-join — both join sides of a not-yet-cached persist() race
    # and each recompute the subtree
    if max_band_bucket is not None:
        # occupancy filter shuffles on the SAME (band, band_sig) key
        # as the self-join below — one extra window stage, no extra
        # exchange of the banded relation
        occ_w = W.partitionBy("band", "band_sig")
        banded = banded.withColumn(
            "occ", F.count(F.lit(1)).over(occ_w)
        ).where(F.col("occ") <= max_band_bucket).drop("occ")
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(b, on=["band", "band_sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # cands has exactly ONE consumer (the verify join) and its inputs
    # are already cached (banded) — materializing it would just add an
    # eager count job (~1.8 s measured at sf0.1) for nothing
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(sa, "doc_a")
        .join(sb, on=["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb"))
    return (
        inter.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .withColumn(
            "_raw_j",
            F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")),
        )
        # threshold on the RAW ratio (exact int division, identical in
        # any engine) — the oracle filters raw too; filtering on the
        # rounded value would diverge on boundary pairs (0.49995
        # rounds to 0.5) and a single extra edge merges clusters
        .where(F.col("_raw_j") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            portable_round(F.col("_raw_j"), _R).alias("jaccard"),
        )
    )


def _lsh_tail_ctes(rows_per_band: int, threshold: float) -> str:
    """CTE chain ``banded..lsh_pairs`` over in-scope ``sh``+``sig``."""
    return f"""banded AS (
    SELECT doc_id, CAST(h_idx // {rows_per_band} AS INT) AS band,
           string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx)
               AS band_sig
    FROM sig GROUP BY 1, 2
),
cands AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter
    FROM cands c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
),
lsh_pairs AS (
    SELECT i.doc_a, i.doc_b,
           round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)
          >= {threshold}
)"""


_MINHASH_LSH_SQL = (
    _minhash_sql(NEAR_CORPUS_SQL, 3, 16)
    + ",\n" + _lsh_tail_ctes(4, 0.5)
    + "\nSELECT doc_a, doc_b, jaccard FROM lsh_pairs"
)


# ------------------------------------------------------------ simhash
def simhash_sig(docs: DataFrame, bits: int = 32,
                corpus: DataFrame | None = None) -> DataFrame:
    """``bits``-bit SimHash over word tokens (frequency-weighted).

    bit_j = 1 iff Σ_tokens (2·((h(token)>>j)&1) − 1) > 0. Exploded
    token×bit computation keeps everything JVM-side; at scale the
    shuffle carries (doc, bits) partial sums via map-side combine.

    bits ≤ 32 hashes tokens with the first 32 md5 bits; bits ≤ 64
    adds the next 32 (two independent 32-bit lanes — no 64-bit
    literal is ever formed, so the same expressions run unmodified
    on engines whose BIGINT shifts trap on overflow). Bit 63 of the
    signature is the sign bit of the int64 — all downstream ops
    (xor, masked shifts, popcount) are bit-pattern ops, unaffected.
    """
    assert 1 <= bits <= 64, bits
    src = corpus if corpus is not None else docs.select("doc_id", "text")
    toks = src.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select(
        "doc_id",
        hexint(F.col("tok")).alias("xlo"),
        *(
            [
                F.conv(F.substring(F.md5(F.col("tok")), 9, 8), 16, 10)
                .cast("long")
                .alias("xhi")
            ]
            if bits > 32
            else []
        ),
    )
    lane = "IF(j < 32, xlo, xhi)" if bits > 32 else "xlo"
    contribs = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
        *toks.columns[1:],
    ).select(
        "doc_id",
        "j",
        F.expr(f"2 * (shiftright({lane}, j % 32) & 1) - 1").alias("contrib"),
    )
    per_bit = contribs.groupBy("doc_id", "j").agg(F.sum("contrib").alias("s"))
    # shiftleft wraps at j=63 (Java semantics): the sum of distinct
    # powers-of-two equals the signed two's-complement signature
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), j)")
            ).otherwise(F.lit(0))
        ).alias("simhash")
    )


def simhash32(docs: DataFrame, corpus: DataFrame | None = None) -> DataFrame:
    """32-bit SimHash (back-compat wrapper of :func:`simhash_sig`)."""
    return simhash_sig(docs, bits=32, corpus=corpus)


HEXINT_HI_SQL = "CAST(concat('0x', substr(md5({x}), 9, 8)) AS BIGINT)"


def _simhash_sql(corpus_sql: str, bits: int = 32) -> str:
    xs = HEXINT_SQL.format(x="tok")
    if bits > 32:
        xhi = HEXINT_HI_SQL.format(x="tok")
        tok_cols = f"{xs} AS xlo, {xhi} AS xhi"
        lane = "CASE WHEN j < 32 THEN xlo ELSE xhi END"
    else:
        tok_cols = f"{xs} AS xlo"
        lane = "xlo"
    return f"""
WITH corpus AS ({corpus_sql}),
toks AS (
    SELECT doc_id, {tok_cols}
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)
),
per_bit AS (
    SELECT doc_id, j, sum(2 * (({lane} >> (j % 32)) & 1) - 1) AS s
    FROM toks, generate_series(0, {bits - 1}) t(j) GROUP BY 1, 2
),
sim AS (
    -- HUGEINT shift (1::BIGINT << 63 traps in DuckDB), then map the
    -- unsigned total onto int64 two's complement to match Spark
    SELECT doc_id,
           CAST(CASE WHEN t >= 9223372036854775808
                THEN t - 18446744073709551616 ELSE t END AS BIGINT)
               AS simhash
    FROM (SELECT doc_id,
                 sum(CASE WHEN s > 0 THEN (1::HUGEINT << j)
                     ELSE 0::HUGEINT END) AS t
          FROM per_bit GROUP BY 1)
)"""


_SIMHASH_SQL = (
    _simhash_sql("SELECT doc_id, text FROM documents")
    + "SELECT doc_id, simhash FROM sim"
)

_SIMHASH64_SQL = (
    _simhash_sql("SELECT doc_id, text FROM documents", bits=64)
    + "SELECT doc_id, simhash FROM sim"
)


def simhash_dup_pairs(docs: DataFrame) -> DataFrame:
    """Equal-SimHash near-dup pairs over the exact-dup corpus (the
    bucket-equality join that replaces all-pairs Hamming search; at
    scale, multi-table rotations cover distance > 0)."""
    sim = simhash32(docs, corpus=with_synthetic_dups(docs))
    a = sim.alias("a")
    b = sim.alias("b")
    return (
        a.join(b, on="simhash")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "simhash",
        )
    )


_SIMHASH_DUPS_SQL = (
    _simhash_sql(DUP_CORPUS_SQL)
    + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS simhash
FROM sim a JOIN sim b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
"""
)


def ham_blocks(bits: int, k: int) -> tuple[tuple[int, int, int], ...]:
    """Pigeonhole blocks (j, offset, mask) for Hamming-distance-≤k
    search over ``bits``-bit signatures: k+1 blocks of ⌈bits/(k+1)⌉ /
    ⌊bits/(k+1)⌋ bits — two signatures within distance k must agree
    exactly on ≥ 1 block. (bits=32, k=2) → 11/11/10; (bits=64, k=2)
    → 22/21/21; (bits=64, k=3) → 4×16."""
    nb = k + 1
    assert 1 <= nb <= bits, (bits, k)
    base, rem = divmod(bits, nb)
    sizes = [base + 1] * rem + [base] * (nb - rem)
    blocks, off = [], 0
    for j, sz in enumerate(sizes):
        blocks.append((j, off, (1 << sz) - 1))
        off += sz
    return tuple(blocks)


def plant_flipped_twins(sim: DataFrame, bits: int,
                        n_flips: int = 1) -> DataFrame:
    """Test/oracle corpus builder: signatures ∪ an ``n_flips``-bit-
    flipped twin of each (doc_id+1_000_000; bits ``(doc_id + i·17) %
    bits`` for i < n_flips — distinct for n_flips·17 < bits, so the
    twin sits at Hamming distance exactly n_flips), so the block
    index can be asserted to find every planted pair. Lives outside
    the operator — production callers index real signatures
    unmodified."""
    flipped = F.col("simhash")
    for i in range(n_flips):
        flipped = flipped.bitwiseXOR(
            F.expr(
                "shiftleft(cast(1 as bigint), "
                f"cast(pmod(doc_id + {i * 17}, {bits}) as int))"
            )
        )
    return sim.unionByName(
        sim.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            flipped.alias("simhash"),
        )
    )


def simhash_hamming_pairs(docs: DataFrame, k: int = 2, bits: int = 64,
                          plant_twins: bool = False) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ≤ k via the
    pigeonhole block index — the banded search the distance-0
    equality join cannot do.

    ``bits`` signature bits split into k+1 blocks (:func:`ham_blocks`);
    any two signatures differing in ≤ k bits must agree EXACTLY on at
    least one block, so candidate generation is an equality join per
    block (bucketed, never all-pairs) and only candidates pay the
    popcount verify. 64-bit signatures are the scale default: at ~10⁹
    docs, 32-bit blocks (≤ 2^11 distinct values) collide pervasively,
    bloating the candidate set — 64-bit blocks carry 16-22 bits each.

    ``plant_twins`` unions in the 1-bit-flipped test corpus
    (:func:`plant_flipped_twins`) — off for production callers.

    Masked arithmetic shift extracts blocks: sign-extension bits from
    the int64 sign position are masked off, so the sign bit of a
    64-bit signature needs no special casing."""
    sim = simhash_sig(docs, bits=bits)
    if plant_twins:
        sim = plant_flipped_twins(sim, bits)
    return hamming_pairs_from_sigs(sim, k=k, bits=bits)


def hamming_pairs_from_sigs(sim: DataFrame, k: int,
                            bits: int) -> DataFrame:
    """Block-index Hamming-≤k pair search over a prebuilt
    ``(doc_id, simhash)`` signature relation (the candidate-join +
    popcount-verify core of :func:`simhash_hamming_pairs`)."""
    ex = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.shiftright(F.col("simhash"), off)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for j, off, mask in ham_blocks(bits, k)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.j", "b.bv")
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.j") == F.col("b.j"),
                F.col("a.bv") == F.col("b.bv"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()  # a pair can agree on several blocks
    )
    return (
        cand.withColumn(
            "dist", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
        )
        .where(F.col("dist") <= k)
        .select("doc_a", "doc_b", "dist")
    )


def _simhash_hamming_sql(bits: int, k: int) -> str:
    blocks_sql = ", ".join(
        f"({j}, {off}, {mask})" for j, off, mask in ham_blocks(bits, k)
    )
    # 1 << 63 traps in DuckDB BIGINT; route the flip mask through the
    # same HUGEINT→int64 wrap used for the signature itself
    flip = (
        "CAST(CASE WHEN (1::HUGEINT << CAST(doc_id % {b} AS INT)) >= "
        "9223372036854775808 THEN (1::HUGEINT << CAST(doc_id % {b} AS INT)) "
        "- 18446744073709551616 ELSE (1::HUGEINT << CAST(doc_id % {b} AS "
        "INT)) END AS BIGINT)"
    ).format(b=bits)
    return (
        _simhash_sql("SELECT doc_id, text FROM documents", bits=bits)
        + f""",
planted AS (
    SELECT doc_id, simhash FROM sim
    UNION ALL
    SELECT doc_id + 1000000, CAST(xor(simhash, {flip}) AS BIGINT)
    FROM sim
),
ex AS (
    SELECT doc_id, simhash, t.j, (simhash >> t.off) & t.mask AS bv
    FROM planted, (VALUES {blocks_sql}) t(j, off, mask)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sa, b.simhash AS sb
    FROM ex a JOIN ex b
    ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
FROM cand WHERE bit_count(xor(sa, sb)) <= {k}
"""
    )


_SIMHASH_HAMMING_SQL = _simhash_hamming_sql(64, 2)


# ----------------------------------------------- duplicate clustering
def with_dup_chains(docs: DataFrame) -> DataFrame:
    """documents ∪ drop-first-word copies (+1M) ∪ drop-first-two-words
    copies (+2M) — 3-member duplicate chains so clustering is
    non-trivial (components of size 3, canonical = base doc)."""
    base = docs.select("doc_id", "text")
    drop1 = F.expr("substring(text, instr(text, ' ') + 1)").alias("text")
    two = base.select((F.col("doc_id") + 1000000).alias("doc_id"), drop1)
    three = two.select((F.col("doc_id") + 1000000).alias("doc_id"), drop1)
    return base.unionByName(two).unionByName(three)


_DROP1 = "substr({t}, strpos({t}, ' ') + 1)"
_D1 = _DROP1.format(t="text")
_D2 = _DROP1.format(t=f"({_D1})")
CHAIN_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    f"UNION ALL SELECT doc_id + 1000000, {_D1} FROM documents "
    f"UNION ALL SELECT doc_id + 2000000, {_D2} FROM documents"
)


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of every currently-persisted RDD in the session (JVM map)."""
    out: set[int] = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def _unpersist_rdd_ids(spark, ids: set[int]) -> None:
    """Release the block-manager storage of the given RDD ids (no-op
    for ids already gone)."""
    if not ids:
        return
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            t._2().unpersist(False)


def _ckpt_rdd_dirs(spark) -> set[str]:
    """URIs of every ``rdd-*`` directory under the session's reliable
    checkpoint dir, via the Hadoop FileSystem API (works for local
    paths AND hdfs://-style cluster stores)."""
    sc = spark.sparkContext
    opt = sc._jsc.sc().getCheckpointDir()
    if opt.isEmpty():
        return set()
    jvm = sc._jvm
    root = jvm.org.apache.hadoop.fs.Path(opt.get())
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    out: set[str] = set()
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        p = st.getPath()
        if p.getName().startswith("rdd-"):
            out.add(p.toString())
    return out


def _delete_ckpt_dirs(spark, dirs: set[str]) -> None:
    if not dirs:
        return
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    for d in dirs:
        p = jvm.org.apache.hadoop.fs.Path(d)
        p.getFileSystem(conf).delete(p, True)


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iter: int = 20,
                         shortcut: bool = False,
                         reliable: bool = False,
                         stats: dict | None = None) -> DataFrame:
    """(doc_id, cluster) connected components of an undirected pair
    list; cluster = smallest reachable doc_id (the canonical member).

    Iterative min-label propagation: each round every node takes the
    minimum of its own label and its neighbors' labels (one equality
    join on ``src`` + one map-side-combined min per node), until a
    fixpoint. The convergence count rides the same aggregated
    relation — each node's previous label is carried through the
    union as an ``own`` column (self-row only, min-ignores-null), so
    detecting "did any label change" is a filter over the round's
    checkpointed output, NOT a second old⋈new join: per round the
    full label relation is shuffled exactly twice (message join +
    min agg), not three times. Rounds needed = graph diameter —
    near-dup components
    are tiny cliques/chains (copies of one source doc), so this
    converges in 1-3 rounds; for adversarial long-chain graphs pass
    ``shortcut=True``: each round then also applies pointer doubling
    (label ← label-of-label, one extra equality join on the
    label-sized relation), collapsing convergence to O(log diameter)
    rounds — the standard shortcutting step of large-star/small-star
    CC. Off by default because dup components are shallow and the
    extra join costs more than it saves there. ``stats`` (optional
    dict) receives {"rounds": n} for observability/tests.

    Scale shape: state is one (node, label) row per distinct node;
    every round shuffles by node only. Checkpointing truncates the
    iterative lineage so round k's plan does not replay rounds
    1..k-1; each round's blocks are released once the next round has
    materialized, so a long-lived session running many CC calls keeps
    only the final round's state alive (the caller's orphan-RDD sweep
    is a backstop, not the mechanism). The only driver-side values
    are the per-round change counts (scalars). Only nodes that appear
    in ``pairs`` are emitted — singletons are their own implicit
    cluster.

    ``reliable=False`` (default) uses ``localCheckpoint`` — blocks
    live on executors, so losing an executor mid-loop loses the run
    (fine single-node / short loops). ``reliable=True`` switches to
    ``DataFrame.checkpoint()`` against the session's configured
    checkpoint dir (``spark.sparkContext.setCheckpointDir``) — each
    round's state is committed to the shared store and the loop
    survives executor loss, the right mode for long CC runs on a real
    cluster. Superseded round files are deleted from the checkpoint
    store as the loop advances (Hadoop FS API, so local and hdfs://
    stores both prune) — only the final round's files outlive the
    call."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    spark = pairs.sparkSession
    if reliable and spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        raise RuntimeError(
            "reliable=True needs spark.sparkContext.setCheckpointDir(...)"
        )

    def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = caching.materialize(
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    ids_before = _persistent_rdd_ids(spark)
    dirs_before = _ckpt_rdd_dirs(spark) if reliable else set()
    labels = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node")),
        eager=True,
    )
    # blocks/files backing the CURRENT `labels` state (round 0 = seed)
    live_ids = _persistent_rdd_ids(spark) - ids_before
    live_dirs = (_ckpt_rdd_dirs(spark) - dirs_before) if reliable else set()
    rounds = 0
    lab_t = dict(labels.dtypes)["lab"]
    for _ in range(max_iter):
        rounds += 1
        msgs = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"), "lab",
            F.lit(None).cast(lab_t).alias("own"),
        )
        # the self-row carries the node's pre-round label in `own`;
        # min() ignores the msgs' nulls, and every node has exactly
        # one self-row, so post-agg `own` IS the previous label —
        # the convergence count below needs no old⋈new join
        new = (
            labels.select("node", "lab", F.col("lab").alias("own"))
            .unionByName(msgs)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"), F.min("own").alias("own"))
        )
        pre = None
        if shortcut:
            # pointer doubling: every label is itself a node, so its
            # own (smaller-or-equal) label is defined — follow it.
            # Fill the cache BEFORE the self-join: both sides of a
            # cold persist() race and each replay the round's
            # message-join + aggregate subtree (same race the banded
            # LSH self-join guards against)
            pre = new.persist()
            pre.count()
            l2 = pre.select(
                F.col("node").alias("lab"), F.col("lab").alias("lab2")
            )
            new = pre.join(l2, "lab").select(
                "node", F.least("lab", "lab2").alias("lab"), "own"
            )
        # lazy checkpoint: the convergence count below is the single
        # action that materializes it — one job per round, not two.
        # (id snapshot taken BEFORE the call: localCheckpoint marks
        # its RDD persistent immediately, not at materialization)
        ids_before = _persistent_rdd_ids(spark)
        dirs_before = _ckpt_rdd_dirs(spark) if reliable else set()
        new = _ckpt(new, eager=False)
        changed = new.where(F.col("lab") != F.col("own")).count()
        # the count materialized `new`'s checkpoint; the previous
        # round's blocks AND reliable round files are now unreachable
        # from any live plan — release/delete them so repeated or
        # long CC runs don't accumulate storage
        new_ids = _persistent_rdd_ids(spark) - ids_before
        if pre is not None:
            # the doubling cache was persisted BEFORE the ids_before
            # snapshot, so it is never in new_ids — release it now
            pre.unpersist()
        _unpersist_rdd_ids(spark, live_ids)
        live_ids = new_ids
        if reliable:
            new_dirs = _ckpt_rdd_dirs(spark) - dirs_before
            _delete_ckpt_dirs(spark, live_dirs)
            live_dirs = new_dirs
        labels = new.select("node", "lab")
        if changed == 0:
            break
    else:
        # silent truncation would emit a split component that also
        # diverges from the transitive-closure oracle — fail loudly
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({changed} labels still changing); raise "
            f"max_iter or pass shortcut=True for long-chain graphs"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster")
    )


def dup_clusters(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                 max_iter: int = 20,
                 pairs: DataFrame | None = None,
                 reliable: bool = False) -> DataFrame:
    """Near-dup clusters over the chain corpus: MinHash+LSH candidate
    pairs → exact Jaccard verify → connected components.

    Default pairs come from the LSH-banded path (the 100 TB shape —
    measured ~40% faster than the all-pairs shingle join on this
    corpus at sf0.1, 99.2% pair recall at j≥0.5; banding misses only
    pairs whose similarity sits near the threshold, the standard LSH
    recall tradeoff — and short docs with few shingles, where band
    collision is unreliable). The CC stage is pair-source-agnostic:
    pass ``pairs`` (doc_a, doc_b) explicitly for the exact-recall
    all-pairs baseline or any other candidate generator."""
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, n=n, k=16, bands=4,
                                  threshold=threshold,
                                  corpus=with_dup_chains(docs))
    return connected_components(pairs, max_iter=max_iter,
                                reliable=reliable)


def canonical_corpus(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                     max_iter: int = 20,
                     pairs: DataFrame | None = None,
                     reliable: bool = False) -> DataFrame:
    """Deduplicated corpus: every cluster keeps only its canonical
    (minimum-id) member; docs in no cluster survive untouched. This is
    the operator a training-data pipeline actually runs — pairs and
    clusters are its intermediates. Returns surviving ``doc_id``s.

    Scale shape: the loser set is (cluster members − canonicals),
    vastly smaller than the corpus; the left_anti join shuffles by
    doc_id (or broadcasts when the loser set fits)."""
    cc = dup_clusters(docs, n, threshold, max_iter, pairs=pairs,
                      reliable=reliable)
    losers = cc.where(F.col("doc_id") != F.col("cluster")).select("doc_id")
    return (
        with_dup_chains(docs)
        .join(losers, "doc_id", "left_anti")
        .select("doc_id")
    )


def cluster_split(docs: DataFrame,
                  ratios: tuple[float, float] = (0.8, 0.1),
                  salt: str = "cs0",
                  n: int = 3, threshold: float = 0.5,
                  max_iter: int = 20,
                  pairs: DataFrame | None = None,
                  reliable: bool = False) -> DataFrame:
    """Leakage-safe train/val/test assignment at near-duplicate-CLUSTER
    granularity: every document in a near-dup cluster is assigned the
    SAME split, so a validation/test example can never have a near-copy
    sitting in train. Doc-level random splitting leaks exactly this way
    (the within-corpus cousin of benchmark contamination —
    :func:`~..curation.decontaminate` guards against external eval
    sets; this guards the corpus against itself). The reference's fixed
    train/val/test loaders (`Data/prepare_data.py:4-5`) never face this
    because Yahoo S5 series are disjoint by construction; a scraped
    text corpus is not.

    Mechanics: the split key is the near-dup cluster id where one
    exists (``dup_clusters``: MinHash+LSH candidates → exact-Jaccard
    verify → connected components), else the doc's own id. A salted
    md5 of the key maps to a uniform in [0, 1); ``u < ratios[0]`` →
    train, ``< ratios[0] + ratios[1]`` → val, else test. Bit-for-bit
    reproducible across engines and runs (no RNG state); a different
    ``salt`` draws an independent partition.

    Scale shape: the cluster relation is pair-derived — proportional
    to the DUPLICATED subset, far smaller than the corpus — and joins
    back on doc_id (broadcast when it fits, hash join otherwise); the
    hash→uniform→split logic is pure map-side column math. No window,
    no sort, no driver state beyond the CC rounds already inside
    :func:`dup_clusters`."""
    r0, r1 = ratios
    cc = dup_clusters(docs, n, threshold, max_iter, pairs=pairs,
                      reliable=reliable)
    key = F.coalesce(F.col("cluster"), F.col("doc_id"))
    u = (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(salt),
                                             key)), 1, 8),
               16, 10).cast("long")
        / F.lit(4294967296.0)
    )
    return (
        with_dup_chains(docs).select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            key.alias("split_key"),
            F.when(u < F.lit(r0), F.lit("train"))
            .when(u < F.lit(r0 + r1), F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


_CC_SQL_BODY = f"""
WITH RECURSIVE corpus AS ({CHAIN_CORPUS_SQL}),
{_minhash_ctes(3, 16)},
{_lsh_tail_ctes(4, 0.5)},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
          UNION ALL SELECT doc_b, doc_a FROM lsh_pairs),
reach(node, lab) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (SELECT node, min(lab) AS cluster FROM reach GROUP BY node)
"""

_DUP_CLUSTERS_SQL = (
    _CC_SQL_BODY + "SELECT node AS doc_id, cluster FROM cc"
)

_DEDUP_CANONICAL_SQL = (
    _CC_SQL_BODY
    + "SELECT doc_id FROM corpus "
    + "WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster)"
)


def _cluster_split_sql(ratios: tuple[float, float], salt: str) -> str:
    r0, r1 = ratios
    u = (
        f"CAST(concat('0x', substr(md5(concat('{salt}', ':', "
        f"CAST(coalesce(cc.cluster, c.doc_id) AS VARCHAR))), 1, 8)) "
        f"AS BIGINT) / 4294967296.0"
    )
    return (
        _CC_SQL_BODY
        + f"""SELECT c.doc_id,
       coalesce(cc.cluster, c.doc_id) AS split_key,
       CASE WHEN {u} < {r0} THEN 'train'
            WHEN {u} < {r0 + r1} THEN 'val'
            ELSE 'test' END AS split
FROM corpus c LEFT JOIN cc ON c.doc_id = cc.node"""
    )


_DEDUP_EXACT_SQL = f"""
WITH corpus AS ({DUP_CORPUS_SQL})
SELECT sha256(text) AS text_sha, count(*) AS n_dups, min(doc_id) AS keeper
FROM corpus GROUP BY 1
"""


# ------------------------------------------------- duplicate spans
def dup_ngram_spans(docs: DataFrame, n: int = 4) -> DataFrame:
    """Substring-level duplication profile: for every document, the
    fraction of its distinct word n-grams that also occur in at least
    one OTHER document (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", the ExactSubstr signal at n-gram
    granularity). Doc-level dedup (sha/minhash/simhash above) misses
    boilerplate spans embedded in otherwise-unique documents; this is
    the per-doc score a curation pipeline thresholds to drop or trim
    template-heavy text.

    Scale shape: reuses :func:`shingles` (distinct per-doc n-grams as
    md5-prefix longs — 8-byte keys, not ~30-byte gram strings), so
    the gram relation shuffles ONCE on the hashed gram: per-gram
    containing-doc counts via map-side-combined ``groupBy(shingle)``,
    joined back to the (already shingle-partitioned) gram relation —
    AQE reuses the exchange, no second corpus-wide shuffle on the
    gram key — then a shrinking per-doc rollup. The gram→count
    relation is corpus-vocabulary-sized and NEVER collected or
    broadcast: at 100 TB it is billions of rows and stays
    distributed. Docs shorter than n words surface with
    ``n_grams = 0`` and a NULL fraction rather than vanishing.

    Cross-doc sharing counts DOCUMENTS (grams are distinct per doc),
    so a gram repeated only inside one doc does not mark itself
    shared — that within-doc signal is ``doc_repetition``'s job
    (curation.py).
    """
    sh = caching.materialize(shingles(docs, n))
    cnts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        sh.join(cnts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias(
                "shared_grams"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("shared_grams", F.lit(0)).alias("shared_grams"),
            F.when(
                F.col("n_grams") > 0,
                portable_round(
                    F.col("shared_grams") / F.col("n_grams"), _R),
            ).alias("dup_frac"),
        )
    )
    return out


def _dup_spans_sql(n: int) -> str:
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{_shingle_sql(n)},
cnts AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY 1),
per_doc AS (
    SELECT sh.doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_grams
    FROM sh JOIN cnts c USING (shingle) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       coalesce(p.shared_grams, 0) AS shared_grams,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN round(CAST(p.shared_grams AS DOUBLE) / p.n_grams, 4)
       END AS dup_frac
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""

ORACLE_SQL = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "minhash_signatures": _MINHASH_SIG_SQL,
    "minhash_lsh_pairs": _MINHASH_LSH_SQL,
    "simhash": _SIMHASH_SQL,
    "simhash64": _SIMHASH64_SQL,
    "simhash_dups": _SIMHASH_DUPS_SQL,
    "simhash_hamming": _SIMHASH_HAMMING_SQL,
    "dup_clusters": _DUP_CLUSTERS_SQL,
    "dedup_canonical": _DEDUP_CANONICAL_SQL,
    "cluster_split": _cluster_split_sql((0.8, 0.1), "cs0"),
    "dup_ngram_spans": _dup_spans_sql(4),
}
