"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

Training-data-pipeline components (no reference counterpart — the
reference has no text layer). Everything is built-in Spark SQL
expressions (split / filter / aggregate higher-order functions) —
JVM-side, whole-stage-codegen friendly, no Python in the hot path.
Each operator has an exact DuckDB mirror in ``ORACLE_SQL``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from yahoo_anomaly_detection_spark.functions.comoments import (
    PEARSON, Fit, comoments, comoments_sql, ols_slope, ols_slope_sql,
)
from yahoo_anomaly_detection_spark.functions.portable import portable_round

from yahoo_anomaly_detection_spark.operators.dedup import HEXINT_SQL, P_FP

_R = 4

# marker-token lists per language (n-gram-heuristic stand-in; the
# sandbox corpus is synthetic so markers are fixed vocabulary)
LANG_MARKERS = {
    "en": ["the", "of", "and", "to", "in", "is", "for", "with", "on", "that"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "dans"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "zh": ["de", "shi", "bu", "le", "zai"],
}
LANG_ORDER = ["en", "es", "fr", "de", "zh"]

STOPWORDS = LANG_MARKERS["en"]


# length-band strata shared by stratified_sample / topk_per_band (and
# their SQL mirrors): short < BAND_SHORT ≤ medium < BAND_MEDIUM ≤ long.
# One definition — the sampled strata and the per-stratum top-k must
# agree on what short/medium/long mean.
BAND_SHORT = 30
BAND_MEDIUM = 70


def _length_band() -> F.Column:
    n_tok = F.expr("size(split(text, ' '))")
    return (
        F.when(n_tok < BAND_SHORT, F.lit(0))
        .when(n_tok < BAND_MEDIUM, F.lit(1))
        .otherwise(F.lit(2))
    )


def _length_band_sql() -> str:
    return (f"CASE WHEN len(string_split(text, ' ')) < {BAND_SHORT} THEN 0 "
            f"WHEN len(string_split(text, ' ')) < {BAND_MEDIUM} THEN 1 "
            "ELSE 2 END")


def _marker_count(lang: str) -> F.Column:
    arr = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return F.expr(
        f"size(filter(split(text, ' '), t -> array_contains(array({arr}), t)))"
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-token language ID: argmax marker hits, ties broken by
    fixed language order (en > es > fr > de > zh)."""
    scored = docs.select(
        "doc_id", *[_marker_count(lg).alias(f"s_{lg}") for lg in LANG_ORDER]
    )
    pred = F.lit(LANG_ORDER[-1])
    best = F.col(f"s_{LANG_ORDER[-1]}")
    for lg in reversed(LANG_ORDER[:-1]):
        s = F.col(f"s_{lg}")
        pred = F.when(s >= best, F.lit(lg)).otherwise(pred)
        best = F.when(s >= best, s).otherwise(best)
    return scored.select(
        "doc_id", pred.alias("pred_lang"), best.cast("long").alias("n_markers")
    )


def _lang_sql() -> str:
    score_cols = []
    for lg in LANG_ORDER:
        arr = ", ".join(f"'{m}'" for m in LANG_MARKERS[lg])
        score_cols.append(
            f"len(list_filter(string_split(text, ' '), "
            f"t -> list_contains([{arr}], t))) AS s_{lg}"
        )
    # mirror the right-fold tie-break exactly
    pred = f"'{LANG_ORDER[-1]}'"
    best = f"s_{LANG_ORDER[-1]}"
    for lg in reversed(LANG_ORDER[:-1]):
        pred = f"CASE WHEN s_{lg} >= {best} THEN '{lg}' ELSE {pred} END"
        best = f"CASE WHEN s_{lg} >= {best} THEN s_{lg} ELSE {best} END"
    return f"""
WITH scored AS (SELECT doc_id, {', '.join(score_cols)} FROM documents)
SELECT doc_id, {pred} AS pred_lang, CAST({best} AS BIGINT) AS n_markers
FROM scored
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality: token count, mean token length, stopword
    ratio, composite score = 0.5·stop_ratio + min(n_tokens,50)/100.

    The stopword counter IS the English marker counter (STOPWORDS =
    LANG_MARKERS['en']) — shared so lang_id's marker counts and the
    quality stopword ratio can never silently diverge on tokenization."""
    n_tok = F.expr("size(split(text, ' '))")
    n_stop = _marker_count("en")
    n_chars = F.length("text")
    mean_len = (n_chars - (n_tok - 1)) / n_tok
    stop_ratio = n_stop / n_tok
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        portable_round(mean_len, _R).alias("mean_token_len"),
        portable_round(stop_ratio, _R).alias("stopword_ratio"),
        portable_round(
            0.5 * stop_ratio + F.least(n_tok, F.lit(50)) / 100.0, _R
        ).alias("quality"),
    )


def _quality_sql() -> str:
    arr = ", ".join(f"'{m}'" for m in STOPWORDS)
    return f"""
WITH t AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           len(list_filter(string_split(text, ' '),
               t -> list_contains([{arr}], t))) AS n_stop,
           length(text) AS n_chars
    FROM documents
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       round(CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok, 4)
           AS mean_token_len,
       round(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stopword_ratio,
       round(0.5 * CAST(n_stop AS DOUBLE) / n_tok
             + least(n_tok, 50) / 100.0, 4) AS quality
FROM t
"""


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the character distribution —
    the quality signal that separates natural text (English ≈ 4–4.5
    bits/char over a modest alphabet) from the two failure modes the
    length/stopword heuristics of :func:`quality_score` miss: repeated-
    character runs / template spam (entropy → 0) and base64 / binary
    soup / encrypted junk (entropy → log2(alphabet), normalized → 1
    over a LARGE alphabet). The standard cheap proxy for the
    compression-ratio filter (H ≈ the bits/char an order-0 coder
    achieves), with no compressor dependency.

    Computed in the decomposable form ``H = log2(n) − Σ k·log2(k) / n``
    over per-(doc, char) counts k, so the whole operator is two
    map-side-combined aggregates: the exploded char stream collapses
    to ≤ |alphabet| rows per doc per map task BEFORE the first
    exchange, and the second exchange carries one partial per doc.
    No window, no sort, no Python. ``norm_entropy = H / log2(d)``
    (NULL for single-char docs — never 0/0).

    Output: (doc_id, n_chars_counted, n_distinct_chars, entropy_bits,
    norm_entropy).
    """
    counts = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "")).alias("_c"),
        )
        .where(F.col("_c") != "")
        .groupBy("doc_id", "_c")
        .agg(F.count(F.lit(1)).alias("_k"))
    )
    k = F.col("_k").cast("double")
    agg = counts.groupBy("doc_id").agg(
        F.sum("_k").alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(k * F.log2(k)).alias("_s"),
    )
    n = F.col("n_chars_counted").cast("double")
    d = F.col("n_distinct_chars")
    h = F.log2(n) - F.col("_s") / n
    return agg.select(
        "doc_id", "n_chars_counted", "n_distinct_chars",
        portable_round(h, 4).alias("entropy_bits"),
        portable_round(
            F.when(d > 1, h / F.log2(d.cast("double")))
            .otherwise(F.lit(None).cast("double")), 4
        ).alias("norm_entropy"),
    )


_CHAR_ENTROPY_SQL = """
WITH ch AS (
    SELECT doc_id, unnest(string_split(lower(text), '')) AS c
    FROM documents
),
cnt AS (
    SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k
    FROM ch WHERE c <> '' GROUP BY 1, 2
),
agg AS (
    SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars_counted,
           count(*) AS n_distinct_chars,
           sum(k * log2(k)) AS s
    FROM cnt GROUP BY 1
)
SELECT doc_id, n_chars_counted, n_distinct_chars,
       round(log2(CAST(n_chars_counted AS DOUBLE))
             - s / n_chars_counted, 4) AS entropy_bits,
       round(CASE WHEN n_distinct_chars > 1
             THEN (log2(CAST(n_chars_counted AS DOUBLE))
                   - s / n_chars_counted)
                  / log2(CAST(n_distinct_chars AS DOUBLE)) END, 4)
           AS norm_entropy
FROM agg
"""


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace + regex token counts + a BPE-ish estimate
    (ceil(chars/4) — the standard ~4-chars-per-token heuristic)."""
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("long").alias("n_ws_tokens"),
        F.expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))")
        .cast("long")
        .alias("n_re_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_bpe_est"),
    )


_TOKEN_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
           AS n_re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
FROM documents
"""


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Polynomial rolling-hash fingerprint over word tokens:
    fp = fold(tokens, 0, (acc, x) → (31·acc + h(x)) mod P) with
    h = 32-bit md5 prefix mod P — order-sensitive, so it fingerprints
    the token *sequence* (not the bag)."""
    fp = F.expr(
        "aggregate(transform(split(text, ' '), "
        f"t -> conv(substring(md5(t), 1, 8), 16, 10) % {P_FP}), "
        f"cast(0 as bigint), (acc, x) -> (acc * 31 + cast(x as bigint)) % {P_FP})"
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


_FP_SQL = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(0::BIGINT,
               list_transform(string_split(text, ' '),
                   t -> {HEXINT_SQL.format(x='t')} % {P_FP})),
           (acc, x) -> (acc * 31 + x) % {P_FP}) AS fingerprint
FROM documents
"""


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency (the vocab-build
    step of a tokenizer-training pipeline).

    Scale shape: explode → ONE map-side-combined ``groupBy(token)``
    shuffle whose output is vocab-sized (≪ corpus), then distributed
    top-k via ``orderBy().limit(k)`` — Spark plans this as
    TakeOrderedAndProject (per-partition heap of k, driver merges
    k·P rows), never a global sort. The rank window runs over the
    ≤k-row result only."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
        .cast("int"),
    )


def _vocab_sql(k: int) -> str:
    return f"""
WITH tok AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
ranked AS (
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT)
               AS rank
    FROM counts
)
SELECT token, cnt, rank FROM ranked WHERE rank <= {k}
"""


def tfidf_topk(docs: DataFrame, m: int = 3,
               broadcast_vocab: bool = True) -> DataFrame:
    """Top-m characteristic terms per document by smoothed TF-IDF
    (sklearn's formula: ``idf = ln((1+N)/(1+df)) + 1``) — the
    keyword-extraction / doc-representation step between raw text and
    topic bucketing in a curation pipeline, built on the same
    tokenizer as ``vocab_topk`` so vocab and per-doc terms agree.

    Scale shape — three exchanges, each of a RELATION SMALLER than
    the last, and the exploded corpus crosses only the first:

    1. ``groupBy(doc_id, token)`` term frequencies: map-side-combined,
       so the wire carries deduped (doc, token, tf) rows, not raw
       tokens. (The tempting one-exchange alternative — repartition by
       doc_id up front so the final window reuses it — would push the
       ENTIRE exploded corpus through an un-combined shuffle; strictly
       worse.)
    2. document frequencies: ``groupBy(token)`` over the tf relation
       (already one row per (doc, token), so ``count`` IS df) — a
       vocab-sized result. N rides a 1-row count cross-joined in
       (broadcast), never a ``collect``.
    3. tf ⋈ idf on token (``broadcast_vocab=True`` pins a broadcast —
       right for any vocab that fits an executor; at web-tokenizer
       vocab sizes set False for a plain token-keyed join), then the
       per-doc rank window — partition size bounded by a DOC's
       distinct tokens, never by corpus or vocab cardinality.

    Ties at equal tfidf break by token ascending. Output:
    (doc_id, token, tf, tfidf, rk), rk ≤ m.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("_n"))
    df = (
        tf.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            (F.log((F.lit(1.0) + F.col("_n"))
                   / (F.lit(1.0) + F.col("_df"))) + F.lit(1.0))
            .alias("_idf"),
        )
    )
    if broadcast_vocab:
        df = F.broadcast(df)
    w = W.partitionBy("doc_id").orderBy(
        F.desc(F.col("tf") * F.col("_idf")), F.asc("token"))
    return (
        tf.join(df, on="token")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= m)
        .select("doc_id", "token", "tf",
                portable_round(F.col("tf") * F.col("_idf"),
                               _R).alias("tfidf"),
                "rk")
    )


def _tfidf_sql(m: int) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
idf AS (
    SELECT token,
           ln((1.0 + (SELECT count(*) FROM documents))
              / (1.0 + count(*))) + 1.0 AS idf
    FROM tf GROUP BY token
),
ranked AS (
    SELECT tf.doc_id, tf.token, tf.tf, tf.tf * idf.idf AS x,
           CAST(row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * idf.idf DESC, tf.token ASC) AS INT) AS rk
    FROM tf JOIN idf ON tf.token = idf.token
)
SELECT doc_id, token, tf, round(x, 4) AS tfidf, rk
FROM ranked WHERE rk <= {m}
"""


def quality_filter(docs: DataFrame, min_quality: float = 0.4,
                   min_stop_ratio: float = 0.01,
                   langs: tuple[str, ...] = ("en",)) -> DataFrame:
    """End-to-end corpus filter: keep docs whose composite quality,
    stopword ratio, and predicted language all pass — the operator a
    training pipeline actually materializes (lang_id/quality_score
    are its signals).

    Scale shape: composed as a doc_id equi-join of the two signal
    projections; both sides are narrow single-pass scans of the same
    table and the join is on the table's natural key, so at 100 TB
    this is two column-pruned scans + one co-partitionable shuffle
    (or zero shuffle if documents is bucketed by doc_id)."""
    q = quality_score(docs)
    lid = lang_id(docs)
    lang_set = list(langs)
    return (
        q.join(lid, "doc_id")
        .where(
            (F.col("quality") >= min_quality)
            & (F.col("stopword_ratio") >= min_stop_ratio)
            & F.col("pred_lang").isin(lang_set)
        )
        .select("doc_id", "pred_lang", "n_tokens", "stopword_ratio",
                "quality")
    )


def _quality_filter_sql(min_quality: float, min_stop_ratio: float,
                        langs: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{lg}'" for lg in langs)
    return f"""
WITH q AS ({_quality_sql()}),
l AS ({_lang_sql()})
SELECT q.doc_id, l.pred_lang, q.n_tokens, q.stopword_ratio, q.quality
FROM q JOIN l ON q.doc_id = l.doc_id
WHERE q.quality >= {min_quality}
  AND q.stopword_ratio >= {min_stop_ratio}
  AND l.pred_lang IN ({in_list})
"""


def stratified_sample(docs: DataFrame,
                      rates: tuple[float, float, float] = (0.25, 0.5, 1.0),
                      salt: str = "s0") -> DataFrame:
    """Deterministic stratified corpus sampling: strata by document
    length band (short < 30 tokens ≤ medium < 70 ≤ long), each band
    sampled at its own rate via a salted md5 of doc_id — the mixture-
    weighting step of training-data curation (up-weight long docs,
    down-sample short ones), reproducible bit-for-bit across engines
    and runs (no RNG state).

    Scale shape: a pure map-side filter — no shuffle, no sort, no
    driver state; sampling decisions depend only on (doc_id, salt).
    Changing ``salt`` draws an independent sample."""
    band = _length_band()
    u = (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(salt),
                                             F.col("doc_id"))), 1, 8),
               16, 10).cast("long")
        / F.lit(4294967296.0)
    )
    rate = (
        F.when(band == 0, F.lit(rates[0]))
        .when(band == 1, F.lit(rates[1]))
        .otherwise(F.lit(rates[2]))
    )
    return (
        docs.select("doc_id", band.alias("band"), u.alias("u"),
                    rate.alias("rate"))
        .where(F.col("u") < F.col("rate"))
        .select("doc_id", "band")
    )


def _stratified_sql(rates: tuple[float, float, float], salt: str) -> str:
    hexu = (
        f"CAST(concat('0x', substr(md5(concat('{salt}', ':', "
        f"CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0"
    )
    return f"""
WITH b AS (
    SELECT doc_id,
           {_length_band_sql()} AS band,
           {hexu} AS u
    FROM documents
)
SELECT doc_id, band FROM b
WHERE u < CASE band WHEN 0 THEN {rates[0]} WHEN 1 THEN {rates[1]}
          ELSE {rates[2]} END
"""


def weighted_sample(docs: DataFrame, k: int = 50,
                    weight_col: str = "n_chars",
                    salt: str = "w0") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement,
    probability proportional to weight (Efraimidis–Spirakis A-ES):
    each doc gets priority ``ln(u)/w`` for a salted-hash uniform
    ``u ∈ (0,1)`` — equivalent to ``u^(1/w)`` but stable in log
    space — and the k highest priorities ARE a weight-proportional
    sample. The quality-weighted cousin of :func:`stratified_sample`
    (there: fixed rate per stratum; here: every doc's inclusion odds
    scale with its own weight — sample a corpus proportional to
    length, quality score, dedup-cluster size, …), reproducible
    bit-for-bit across engines and runs (no RNG state; changing
    ``salt`` draws an independent sample).

    Scale shape: the priority is a pure map-side expression (same
    salted-md5 uniform as ``stratified_sample``), and "k highest"
    plans as TakeOrderedAndProject — a per-partition k-heap with a
    k·P driver merge, NEVER a global sort of the corpus (plan-audit
    test). Non-positive / NULL weights are excluded (zero weight =
    zero inclusion probability; the oracle filter is identical).
    Ties broken by doc_id; u is offset by +0.5/2³² so ln() never
    sees 0.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (
        (F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(salt),
                                              F.col("doc_id"))), 1, 8),
                16, 10).cast("double") + F.lit(0.5))
        / F.lit(4294967296.0)
    )
    w = F.col(weight_col).cast("double")
    pri = F.log(u) / w
    return (
        docs.where(w > 0)
        .select("doc_id", w.alias("weight"), pri.alias("_p"))
        .orderBy(F.desc("_p"), "doc_id")
        .limit(k)
        .select("doc_id", "weight",
                portable_round(F.col("_p"), _R).alias("priority"))
    )


def _weighted_sample_sql(k: int, weight_col: str, salt: str) -> str:
    u = (
        f"(CAST(concat('0x', substr(md5(concat('{salt}', ':', "
        f"CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 0.5) "
        f"/ 4294967296.0"
    )
    return f"""
WITH p AS (
    SELECT doc_id, CAST({weight_col} AS DOUBLE) AS weight,
           ln({u}) / CAST({weight_col} AS DOUBLE) AS pri
    FROM documents WHERE CAST({weight_col} AS DOUBLE) > 0
)
SELECT doc_id, weight, round(pri, 4) AS priority
FROM p ORDER BY pri DESC, doc_id LIMIT {k}
"""


def topk_per_band(docs: DataFrame, k: int = 20,
                  bounded: bool = True) -> DataFrame:
    """Top-k docs per length band by composite quality (ties → lower
    doc_id) — best-per-stratum selection, the counterpart of
    down-sampling in mixture curation.

    Scale shape (``bounded=True``, default): per-partition top-k
    heaps + band-wise merge. A ``mapInPandas`` stage keeps, per input
    partition, only the k best rows of each band it has seen —
    accumulated ACROSS the partition's Arrow batches, so each task
    emits ≤ k·#bands rows no matter how many rows it scans — then a
    single rank window over the ≤ k·#bands·P survivors re-ranks and
    cuts to the global top-k per band. The full corpus is never
    exchanged: the only shuffle carries survivor rows. (Any global
    top-k row is necessarily in its own partition's band top-k, so
    the survivor set is a superset of the answer — the standard
    TakeOrderedAndProject argument, per stratum.)

    ``bounded=False`` is the naive formulation — ONE rank window
    partitioned by the band key — which shuffles the whole corpus
    into #bands tasks: the low-cardinality-key straggler. Kept for
    plan comparison/tests.

    Here bands are a demo stratum; real pipelines key on
    (domain, language) — thousands of groups — where either shape
    works, but the bounded one is also skew-proof."""
    from pyspark.sql.window import Window

    band = _length_band()
    q = quality_score(docs).select("doc_id", "quality")
    banded = docs.select("doc_id", band.alias("band")).join(q, "doc_id")

    if bounded:
        def _partition_topk(batches):
            import pandas as pd

            acc = None
            for pdf in batches:
                cand = pdf if acc is None else pd.concat(
                    (acc, pdf), ignore_index=True
                )
                cand = cand.sort_values(
                    ["band", "quality", "doc_id"],
                    ascending=[True, False, True],
                )
                acc = cand.groupby("band", group_keys=False).head(k)
            if acc is not None:
                yield acc

        banded = banded.mapInPandas(_partition_topk, schema=banded.schema)

    rk = F.row_number().over(
        Window.partitionBy("band").orderBy(
            F.desc("quality"), F.asc("doc_id")
        )
    )
    return (
        banded.withColumn("rk", rk.cast("int"))
        .where(F.col("rk") <= k)
        .select("doc_id", "band", "quality", "rk")
    )


def _topk_per_band_sql(k: int) -> str:
    return f"""
WITH q AS ({_quality_sql()}),
b AS (
    SELECT doc_id,
           {_length_band_sql()} AS band
    FROM documents
),
r AS (
    SELECT b.doc_id, b.band, q.quality,
           CAST(row_number() OVER (PARTITION BY b.band
                ORDER BY q.quality DESC, b.doc_id ASC) AS INT) AS rk
    FROM b JOIN q ON b.doc_id = q.doc_id
)
SELECT doc_id, band, quality, rk FROM r WHERE rk <= {k}
"""


# ------------------------------------------------- heavy hitters
def _mg_merge(summary: dict, batch_tokens, batch_counts, k: int) -> None:
    """Merge a batch's exact token counts into a running Misra-Gries
    summary of at most ``k`` counters, in place. Mergeable-summaries
    formulation (Agarwal et al. 2013): add the counts, then if more
    than k counters remain, subtract the (k+1)-st largest count from
    every counter and drop the non-positive ones. Batch-vectorized —
    the per-token work is pandas/numpy C loops, not Python."""
    import numpy as np

    for tok, c in zip(batch_tokens, batch_counts):
        summary[tok] = summary.get(tok, 0) + int(c)
    if len(summary) > k:
        vals = np.fromiter(summary.values(), dtype=np.int64,
                           count=len(summary))
        # (k+1)-st largest = index k of the descending order
        thresh = int(np.partition(vals, len(vals) - k - 1)[len(vals) - k - 1])
        for tok in list(summary):
            nv = summary[tok] - thresh
            if nv > 0:
                summary[tok] = nv
            else:
                del summary[tok]


def heavy_hitters(docs: DataFrame, phi: float = 0.01,
                  counters: int = 400) -> DataFrame:
    """Exact φ-heavy-hitters over the corpus vocabulary: every token
    whose frequency exceeds ``phi`` of all tokens, with its exact
    count and corpus frequency. The frequent-items primitive of a
    tokenizer/stop-list pipeline — unlike :func:`vocab_topk` (fixed
    k), the output size is data-driven by a frequency threshold.

    Two passes, both with bounded shuffle — the classic exact
    heavy-hitter shape at 100 TB:

    1. **Sketch pass**: per input partition, a Misra-Gries summary of
       ``counters`` counters runs inside ``mapInPandas`` directly on
       the scan partitions (no exchange feeds it). Each partition
       emits ≤ ``counters`` candidate rows plus ONE null-token row
       carrying the partition's token count, so the whole sketch
       output is ≤ P·(counters+1) rows regardless of corpus size.
       MG's guarantee (count underestimate ≤ n_p/(counters+1), and
       by pigeonhole across partitions any token with global
       frequency > N/(counters+1) survives in at least one summary)
       makes the candidate union a provable superset of the true
       heavy hitters whenever ``phi > 1/(counters+1)`` — enforced.
    2. **Verify pass**: exact recount of the token stream
       semi-joined (broadcast — the candidate set is bounded) against
       the candidates, map-side-combined, filtered at ``cnt > φ·N``.

    The only driver-side materialization is the bounded sketch
    output (the same per-round-scalar budget as the CC convergence
    counts). Result is exact and deterministic — MG's order-dependent
    internals only ever widen the candidate set, never the answer.
    """
    if not phi > 1.0 / (counters + 1):
        raise ValueError(
            f"phi={phi} must exceed 1/(counters+1)={1.0/(counters+1):.6f} "
            "or the Misra-Gries candidate union is not a guaranteed "
            "superset of the true heavy hitters")

    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("token")
    )

    k = counters

    def sketch(batches):
        import pandas as pd

        summary: dict = {}
        n = 0
        for pdf in batches:
            vc = pdf["token"].value_counts()
            n += int(vc.sum())
            _mg_merge(summary, vc.index.to_numpy(), vc.to_numpy(), k)
        out = pd.DataFrame(
            {"token": list(summary.keys()) + [None],
             "lb": list(summary.values()) + [n]}
        )
        yield out

    sk = toks.mapInPandas(sketch, "token string, lb long").collect()
    n_total = sum(r.lb for r in sk if r.token is None)
    cand = sorted({r.token for r in sk if r.token is not None})
    spark = docs.sparkSession
    cand_df = spark.createDataFrame([(t,) for t in cand], "token string")

    exact = (
        toks.join(F.broadcast(cand_df), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > F.lit(float(phi)) * F.lit(float(n_total)))
        .select(
            "token",
            "cnt",
            portable_round(
                F.col("cnt") / F.lit(float(n_total)), _R).alias("freq"),
        )
    )
    return exact


def _heavy_hitters_sql(phi: float) -> str:
    return f"""
WITH tk AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents
),
n AS (SELECT count(*) AS n FROM tk)
SELECT token, count(*) AS cnt,
       round(count(*) / (SELECT CAST(n AS DOUBLE) FROM n), 4) AS freq
FROM tk GROUP BY token
HAVING count(*) > {phi} * (SELECT n FROM n)
"""


def zipf_fit(docs: DataFrame, k: int = 100) -> DataFrame:
    """Zipf power-law fit of the corpus token-frequency distribution:
    OLS of log10(count) on log10(rank) over the top-k vocabulary —
    ONE row (n_terms, slope, intercept, r2).

    The corpus-health read-out tokenizer and data-mixing work leans
    on: natural language sits near slope ≈ -1 (Zipf 1949); template
    spam flattens the head (slope → 0 over the top ranks), dedup
    failures steepen it, and a collapsed r2 means the frequency curve
    is not a power law at all (machine-generated token soup). Ranks
    tie-break by token asc so the fit is deterministic under count
    ties.

    Scale shape: explode → ONE map-side-combined groupBy(token)
    (vocab-sized output ≪ corpus) → distributed top-k via
    orderBy().limit(k) (TakeOrderedAndProject: per-partition heap,
    never a global sort) → the rank window and the OLS moment
    aggregate run on ≤ k rows.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)
    xy = top.select(
        F.log10(
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
            .cast("double")
        ).alias("x"),
        F.log10(F.col("cnt").cast("double")).alias("y"),
    )
    m = comoments(xy, [], PEARSON,
                  Fit({"x": F.col("x"), "y": F.col("y")}), means=True)
    slope = ols_slope(2)
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        F.col("n").alias("n_terms"),
        portable_round(slope, _R).alias("slope"),
        portable_round(F.col("my") - slope * F.col("mx"), _R)
        .alias("intercept"),
        F.when(slope.isNotNull() & (syy > 0),
               portable_round(sxy * sxy / (sxx * syy), _R)).alias("r2"),
    )


def _zipf_sql(k: int) -> str:
    return f"""
WITH tok AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents
),
c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
top AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS r
    FROM c ORDER BY cnt DESC, token ASC LIMIT {k}
),
xy AS (SELECT log10(CAST(r AS DOUBLE)) AS x,
              log10(CAST(cnt AS DOUBLE)) AS y FROM top),
{comoments_sql("m", "xy", [], PEARSON, Fit({"x": "x", "y": "y"}),
               means=True)},
f AS (SELECT *, {ols_slope_sql(2)} AS slope FROM m)
SELECT n AS n_terms, round(slope, 4) AS slope,
       round(my - slope * mx, 4) AS intercept,
       CASE WHEN slope IS NOT NULL AND syy > 0
            THEN round(sxy * sxy / (sxx * syy), 4) END AS r2
FROM f
"""


ORACLE_SQL = {
    "lang_id": _lang_sql(),
    "quality_score": _quality_sql(),
    "token_count": _TOKEN_SQL,
    "char_entropy": _CHAR_ENTROPY_SQL,
    "doc_fingerprint": _FP_SQL,
    "vocab_topk": _vocab_sql(100),
    "quality_filter": _quality_filter_sql(0.4, 0.01, ("en",)),
    "stratified_sample": _stratified_sql((0.25, 0.5, 1.0), "s0"),
    "weighted_sample": _weighted_sample_sql(50, "n_chars", "w0"),
    "tfidf_top3": _tfidf_sql(3),
    "topk_per_band": _topk_per_band_sql(20),
    "heavy_hitters": _heavy_hitters_sql(0.01),
    "zipf_fit": _zipf_sql(100),
}


def fuzzy_token_pairs(docs: DataFrame, min_count: int = 2,
                      min_len: int = 4) -> DataFrame:
    """Edit-distance-1 string-similarity join over the corpus
    vocabulary — the typo/variant-clustering step of vocab hygiene
    ("recieve"→"receive") — via DELETION-NEIGHBORHOOD blocking
    (the FastSS idiom, Bocek et al. 2007): two tokens are within
    edit distance 1 only if one appears in the other's 1-deletion
    set or their 1-deletion sets intersect, so blocking on
    {token} ∪ deletions(token) is a complete candidate generator.
    Candidates are then VERIFIED with ``levenshtein() = 1``, making
    the result exact.

    Output: (tok_a, tok_b, n_a, n_b) with tok_a < tok_b — counts let
    the caller orient typo→canonical (rare→frequent).

    Scale shape: everything runs on the VOCAB relation (≪ corpus —
    one map-side-combined token count first, filtered by
    ``min_count``/``min_len``); the variant explosion is
    ×(len+1) per token and the candidate join is a plain hash
    equi-join on the variant key — never an all-pairs comparison;
    levenshtein runs on candidates only. The same shape FastSS and
    every blocked entity-resolution pipeline uses at scale.
    """
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("token")
    )
    vocab = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
             .where((F.col("cnt") >= min_count)
                    & (F.length("token") >= min_len)))
    # variant key set: the token itself (pos 0) + each 1-deletion
    variants = vocab.select(
        "token", "cnt",
        F.explode(F.expr(
            "transform(sequence(0, length(token)), i -> "
            "CASE WHEN i = 0 THEN token "
            "ELSE concat(substring(token, 1, i - 1), "
            "substring(token, i + 1, length(token))) END)"
        )).alias("var"),
    ).distinct()
    a = variants.select(F.col("token").alias("tok_a"),
                        F.col("cnt").alias("n_a"), "var")
    b = variants.select(F.col("token").alias("tok_b"),
                        F.col("cnt").alias("n_b"), "var")
    cand = (a.join(b, "var")
            .where(F.col("tok_a") < F.col("tok_b"))
            .select("tok_a", "tok_b", "n_a", "n_b").distinct())
    return cand.where(F.levenshtein("tok_a", "tok_b") == 1)


def _fuzzy_pairs_sql(min_count: int = 2, min_len: int = 4) -> str:
    return f"""
WITH tok AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        AS token
    FROM documents
),
vocab AS (
    SELECT token, count(*) AS cnt
    FROM tok GROUP BY 1
    HAVING count(*) >= {min_count} AND length(token) >= {min_len}
),
variants AS (
    SELECT DISTINCT token, cnt,
           CASE WHEN i = 0 THEN token
                ELSE concat(substr(token, 1, i - 1),
                            substr(token, i + 1, length(token)))
           END AS var
    FROM vocab, unnest(range(0, length(token) + 1)) u(i)
),
cand AS (
    SELECT DISTINCT a.token AS tok_a, b.token AS tok_b,
                    a.cnt AS n_a, b.cnt AS n_b
    FROM variants a JOIN variants b USING (var)
    WHERE a.token < b.token
)
SELECT tok_a, tok_b, n_a, n_b
FROM cand WHERE levenshtein(tok_a, tok_b) = 1
"""


ORACLE_SQL["fuzzy_token_pairs"] = _fuzzy_pairs_sql()
