"""Broadcast dimension enrichment — the star/snowflake join the
metrics layer needs when a rollup must slice by attributes that live
in small dimension tables (customer segment, nation, device class),
not in the fact stream itself.

The 100 TB rule this module encodes: the fact side NEVER shuffles for
a dimension join. Every dimension is explicitly ``F.broadcast``-ed,
so the plan is a chain of map-side BroadcastHashJoins feeding one
map-side-combined groupBy — exactly one exchange end-to-end no matter
how many dimensions are chained (plan-audited). AQE would usually
pick this on its own for small dims, but at real table sizes the
statistics that decision rides on can be stale or missing; an
explicit broadcast pins the only acceptable strategy (a sort-merge
join here would shuffle the full fact table per dimension).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_enrich(
    facts: DataFrame,
    dims: Sequence[tuple[DataFrame, str, str, Sequence[str]]],
    how: str = "inner",
) -> DataFrame:
    """Chain-join small dimensions onto a fact relation.

    ``dims``: sequence of ``(dim_df, fact_key, dim_key, attr_cols)``
    applied in order — later dims may join on attributes added by
    earlier ones (snowflake: facts→customer→nation). Each dim is
    pruned to ``dim_key`` + ``attr_cols`` BEFORE the broadcast (ship
    only the columns the query reads) and joined with the fact-side
    key name, so chaining needs no aliases.

    ``how="inner"`` (default) assumes referential integrity — a fact
    row with no dimension row is DROPPED; pass ``how="left"`` to keep
    orphans with NULL attributes instead (and count them — an orphan
    spike is a DQ signal, see :func:`tsanalytics.dq_profile`).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner or left, got {how!r}")
    out = facts
    for dim, fact_key, dim_key, attr_cols in dims:
        pruned = dim.select(
            F.col(dim_key).alias(fact_key), *[F.col(c) for c in attr_cols]
        )
        out = out.join(F.broadcast(pruned), on=fact_key, how=how)
    return out


def props_profile(events: DataFrame, json_col: str = "props",
                  field: str = "k",
                  key: str = "event_type") -> DataFrame:
    """Schema-on-read profiling of a semi-structured JSON payload
    column — the first thing an engine does with an event stream's
    ``props`` bag: extract a typed field and report its health and
    distribution per series. Extraction uses ``from_json`` with an
    EXPLICIT one-field schema (single vectorized JVM parse per row,
    stays inside whole-stage codegen) — never ``get_json_object``
    per field, which re-parses the document for every field pulled.

    Output per key: (event_type, n, n_missing, distinct_vals,
    mean_val, p95_val) — missing = unparseable document OR absent/
    null field; floats rounded to 4.

    Scale note: this is the PROFILING pass; a production pipeline
    runs it once, then materializes the extracted columns into the
    silver tier (parquet columns prune and push down; JSON strings
    do neither), making repeated extraction cost disappear. One
    map-side-combined aggregate; the JSON parse is map-side work.
    """
    parsed = F.from_json(
        F.col(json_col), f"{field} BIGINT").getField(field)
    base = events.select(F.col(key), parsed.alias("_v"))
    from yahoo_anomaly_detection_spark.functions.portable import (
        portable_round,
    )

    return base.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("_v").isNull(), 1)).alias("n_missing"),
        F.countDistinct("_v").alias("distinct_vals"),
        portable_round(F.avg("_v"), 4).alias("mean_val"),
        portable_round(
            F.expr("percentile(_v, 0.95)"), 4).alias("p95_val"),
    )


def _props_profile_sql(field: str = "k") -> str:
    return f"""
WITH b AS (
    SELECT event_type,
           TRY_CAST(json_extract(props, '$.{field}') AS BIGINT) AS v
    FROM events
)
SELECT event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_missing,
       count(DISTINCT v) AS distinct_vals,
       round(avg(v), 4) AS mean_val,
       round(quantile_cont(v, 0.95), 4) AS p95_val
FROM b GROUP BY 1
"""


ORACLE_SQL = {"props_profile": _props_profile_sql()}


def ri_audit(edges: Sequence[tuple[str, DataFrame, str, DataFrame,
                                   str]]) -> DataFrame:
    """Referential-integrity audit across a star/snowflake schema:
    for each declared FK edge ``(name, child, fk_col, parent,
    pk_col)`` report child row count, distinct FK values, and ORPHAN
    rows (FK values absent from the parent) — the expectation-suite
    check that catches late-arriving dimensions, broken CDC feeds,
    and partial backfills before a join silently drops facts
    (inner-join fact loss is the classic silent-corruption mode).
    NULL FKs are counted separately (``n_null_fk``) — a NULL is
    "unknown", not an orphan, matching ANSI FK semantics.

    Output: one row per edge — (edge, n_rows, n_keys, n_null_fk,
    n_orphans).

    Scale shape: per edge, ONE map-side-combined aggregate over the
    child plus a BROADCAST left_anti against the parent's key set
    (dimensions are broadcast-sized by definition; for a
    billion-key parent swap in the bucketed-join variant). Edges
    union JVM-side into one result relation.
    """
    outs = []
    for name, child, fk, parent, pk in edges:
        fkc = F.col(fk)
        stats = child.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(fkc).alias("n_keys"),
            F.count(F.when(fkc.isNull(), 1)).alias("n_null_fk"),
        )
        orphans = (
            child.where(fkc.isNotNull())
            .join(F.broadcast(parent.select(F.col(pk).alias(fk))
                              .distinct()),
                  fk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        outs.append(
            stats.crossJoin(orphans)
            .select(F.lit(name).alias("edge"), "n_rows", "n_keys",
                    "n_null_fk", "n_orphans"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


STAR_EDGES_SQL = """
SELECT 'orders->customer' AS edge, count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_keys,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_fk,
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND o.o_custkey NOT IN
                   (SELECT c_custkey FROM customer)) AS BIGINT)
           AS n_orphans
FROM orders
UNION ALL
SELECT 'lineitem->orders', count(*),
       count(DISTINCT l_orderkey),
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND l.l_orderkey NOT IN
                   (SELECT o_orderkey FROM orders)) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'customer->nation', count(*),
       count(DISTINCT c_nationkey),
       CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE c.c_nationkey IS NOT NULL
               AND c.c_nationkey NOT IN
                   (SELECT n_nationkey FROM nation)) AS BIGINT)
FROM customer
UNION ALL
SELECT 'supplier->nation', count(*),
       count(DISTINCT s_nationkey),
       CAST(sum(CASE WHEN s_nationkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST((SELECT count(*) FROM supplier s
             WHERE s.s_nationkey IS NOT NULL
               AND s.s_nationkey NOT IN
                   (SELECT n_nationkey FROM nation)) AS BIGINT)
FROM supplier
UNION ALL
SELECT 'nation->region', count(*),
       count(DISTINCT n_regionkey),
       CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST((SELECT count(*) FROM nation n
             WHERE n.n_regionkey IS NOT NULL
               AND n.n_regionkey NOT IN
                   (SELECT r_regionkey FROM region)) AS BIGINT)
FROM nation
"""


ORACLE_SQL["ri_audit"] = STAR_EDGES_SQL


# ------------------------------------------------- bloom runtime filter
def _bloom_pos_sql(key_expr: str, seed: int, m_bits: int) -> str:
    """SQL text for probe position i — ONE source of truth shared by
    build and probe, so both sides hash identically (xxhash64 of
    (key, int seed), pmod to the bit space). ``key_expr`` must be the
    CANONICALIZED key (see :func:`_canon_key_sql`)."""
    return f"pmod(xxhash64({key_expr}, {int(seed)}), {int(m_bits)}L)"


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}
_WHOLE_DECIMAL = re.compile(r"decimal\((\d+),0\)")


def _canon_key_sql(df: DataFrame, key_col: str) -> str:
    """Canonical hash-input expression for a Bloom key: xxhash64 is
    TYPE-sensitive in Spark (hash(INT 7) != hash(BIGINT 7)), so an
    INT build key probed with a BIGINT fact key would silently drop
    matching rows — violating the 'false negatives impossible'
    contract. Widening every integral key — and every zero-scale
    decimal of at most 18 digits, whose values all fit a BIGINT
    exactly — to BIGINT on BOTH sides makes build/probe positions
    agree regardless of the declared type. A wider zero-scale decimal
    hashes by its bytes, so it is narrowed with ``try_cast``: values
    in BIGINT range hash like BIGINT keys, larger ones all take the
    NULL key's positions (extra false positives among them, never a
    false negative). Other types pass through unchanged (string/binary
    hash by bytes, which don't depend on a declared width)."""
    dt = dict(df.dtypes).get(key_col)
    if dt is None:
        raise ValueError(
            f"bloom key column {key_col!r} not in {df.columns}")
    if dt in _INTEGRAL_TYPES:
        return f"cast({key_col} as bigint)"
    m = _WHOLE_DECIMAL.fullmatch(dt)
    if m:
        cast = "cast" if int(m.group(1)) <= 18 else "try_cast"
        return f"{cast}({key_col} as bigint)"
    return key_col


def bloom_runtime_filter(keys: DataFrame, key_col: str,
                         m_bits: int = 1 << 20,
                         k: int = 5) -> DataFrame:
    """Build a Bloom filter over a key relation as ONE single-row
    DataFrame holding a dense array<long> of bit words — the engine's own
    runtime row-filter for joins whose build side is too big to
    broadcast as ROWS but whose KEY SET fits a few hundred KB of
    bits. Spark's optimizer grows this ability natively
    (spark.sql.optimizer.runtime.bloomFilter.*) but only fires on
    statistics it trusts; this operator is the explicit, pinned
    version for when the planner can't see the selectivity (filter
    behind a UDF, fresh table, no ANALYZE).

    Entirely declarative: positions explode map-side, words fold
    with bit_or in a map-side-combined aggregate, and the final
    map_from_entries rides the single-row agg — no driver collect;
    the bloom broadcasts as a 1-row relation.

    Sizing: default 2^20 bits / 5 hashes ≈ 1e-3 false positives at
    50k keys, ~130 KB shipped. FALSE POSITIVES only cost wasted
    shuffle rows — the exact join downstream removes them, so
    results are EXACT regardless of sizing; false negatives are
    impossible by construction.
    """
    nchunks = (int(m_bits) + 63) // 64
    key_expr = _canon_key_sql(keys, key_col)
    pos = [F.expr(_bloom_pos_sql(key_expr, i, m_bits)) for i in range(k)]
    chunks = (keys
              .select(F.explode(F.array(*pos)).alias("pos"))
              .groupBy(F.expr("pos div 64").cast("int").alias("chunk"))
              .agg(F.expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))")
                   .alias("mask")))
    # dense array build: left-join the occupied chunks onto the full
    # chunk skeleton, zero-fill, then fold the sorted (chunk, mask)
    # structs into ONE array<long> positioned by chunk — probes then
    # use element_at(array, chunk+1), an O(1) positional access.
    # (A map<chunk, mask> would be 10x+ smaller to ship but Spark's
    # MapType element_at is a LINEAR scan — O(|chunks|) per probe
    # per hash, catastrophic on a fact-table filter.)
    spark = keys.sparkSession
    skel = spark.range(nchunks).select(F.col("id").cast("int")
                                       .alias("chunk"))
    dense = (skel.join(chunks, "chunk", "left")
             .select("chunk",
                     F.coalesce("mask", F.lit(0).cast("long"))
                     .alias("mask")))
    return (dense.agg(F.expr(
        "transform(sort_array(collect_list(struct(chunk, mask))),"
        " s -> s.mask)").alias("bloom")))


def bloom_semi_join(facts: DataFrame, key_col: str,
                    bloom: DataFrame, m_bits: int = 1 << 20,
                    k: int = 5) -> DataFrame:
    """Prune ``facts`` to rows whose ``key_col`` passes the Bloom
    filter — a map-side semi-join against bits instead of rows. The
    bloom joins in as a broadcast single-row cross join (constant
    cost per task), so the fact relation is filtered BEFORE it ever
    reaches a shuffle: the exchange feeding the real join then
    carries only candidate rows. m_bits/k MUST match the build
    call. The broadcast bit column rides under the reserved name
    ``__bloom_bits`` so a fact column named ``bloom`` can't collide;
    ``__bloom_bits`` itself is rejected as a fact column name."""
    if "__bloom_bits" in facts.columns:
        raise ValueError(
            "facts must not contain the reserved column '__bloom_bits'")
    key_expr = _canon_key_sql(facts, key_col)
    tests = " AND ".join(
        f"((element_at(__bloom_bits, "
        f"cast({_bloom_pos_sql(key_expr, i, m_bits)} div 64 as int) + 1)"
        f" & shiftleft(1L, cast({_bloom_pos_sql(key_expr, i, m_bits)}"
        f" % 64 as int))) != 0L)"
        for i in range(k))
    bits = bloom.select(F.col("bloom").alias("__bloom_bits"))
    return (facts.crossJoin(F.broadcast(bits))
            .where(F.expr(tests)).drop("__bloom_bits"))


def urgent_order_items(lineitem: DataFrame, orders: DataFrame,
                       priority: str = "1-URGENT",
                       m_bits: int = 1 << 20, k: int = 5) -> DataFrame:
    """Monthly item/quantity rollup of line items belonging to
    ``priority`` orders — the classic selective-dimension fact join,
    executed with an explicit Bloom runtime filter: the filtered
    orders' KEY SET becomes a broadcast bit array that prunes
    lineitem map-side, so the join exchange carries ~20% of the fact
    table instead of all of it (the remaining false positives are
    removed by the exact equi-join). At 100 TB this is the
    difference between shuffling the full fact table and shuffling
    only the matching fraction — for a build side whose ROWS may
    exceed the broadcast budget while its key BITS never do.

    Output: (month, n_items, sum_qty, n_orders) — all exact
    integers (quantities are integer-valued), so the oracle (a
    plain join — Bloom is invisible in the result) matches bit-for-
    bit with no float-summation caveat.
    """
    urgent = orders.where(F.col("o_orderpriority") == priority)
    bloom = bloom_runtime_filter(
        urgent.select("o_orderkey"), "o_orderkey", m_bits, k)
    pruned = bloom_semi_join(lineitem.select("l_orderkey", "l_quantity"),
                             "l_orderkey", bloom, m_bits, k)
    joined = pruned.join(
        urgent.select("o_orderkey", "o_orderdate"),
        pruned["l_orderkey"] == urgent["o_orderkey"])
    return (joined.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("l_quantity").cast("long").alias("sum_qty"),
             F.countDistinct("o_orderkey").alias("n_orders")))


def _bloom_join_sql(priority: str = "1-URGENT") -> str:
    return f"""
SELECT date_trunc('month', o.o_orderdate) AS month,
       count(*) AS n_items,
       CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '{priority}'
GROUP BY 1
"""


ORACLE_SQL["bloom_join"] = _bloom_join_sql()
