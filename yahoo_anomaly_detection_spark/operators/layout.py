"""Physical-layout operators: Z-order clustering and zone-map
data-skipping statistics.

At 100 TB the scan is the query: parquet readers skip row groups and
files whose column min/max ranges (zone maps) exclude the predicate,
so WHAT ends up co-located in a file decides how much of the corpus a
box query touches. A table sorted on one column skips perfectly on
that column and not at all on any other; interleaving the bits of
several columns (the Z-order space-filling curve — the
``OPTIMIZE ... ZORDER BY`` operation of Delta/Iceberg/ClickHouse)
makes every file a small hyper-rectangle in the combined key space,
so multi-dimensional box predicates prune on EVERY participating
column at once.

Components:

- :func:`zvalue` — append the interleaved-bit Z-key for a set of
  numeric/timestamp columns, min/max-scaled to ``bits`` bits each.
  Pure JVM expressions (shift/and/or), whole-stage-codegen friendly;
  the only extra pass is ONE tiny min/max aggregate, broadcast back.
- :func:`zorder_repartition` — range-partition + sort by the Z-key:
  the write-side layout step (each output partition = one "file"
  whose per-column ranges the scanner would zone-map on).
- :func:`zonemap` — the per-partition min/max statistics table the
  skipping decision reads (parquet row-group stats made explicit).
- :func:`pruning_ratio` — fraction of partitions a conjunctive box
  predicate can skip given a zone map: the measurable objective that
  justifies the layout (tested: Z-order beats single-column linear
  order on 2-D boxes).

No DuckDB oracle: physical partitioning is not SQL-observable —
correctness is pytest-pinned instead (bit-interleave vs a python
replica; monotonicity of pruning; Z > linear skipping on 2-D boxes),
the same verification tier as the streaming topology.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

__all__ = ["zvalue", "zorder_repartition", "zonemap", "pruning_ratio",
           "write_bucketed"]


def _as_double(df: DataFrame, col: str) -> F.Column:
    """Numeric view of a layout column (timestamps → epoch micros)."""
    if isinstance(df.schema[col].dataType, TimestampType):
        return F.unix_micros(F.col(col)).cast("double")
    return F.col(col).cast("double")


def _spread(c: F.Column, bits: int, stride: int, offset: int) -> F.Column:
    """Place bit b of ``c`` at position b·stride + offset — the
    bit-interleave primitive, as a balanced OR tree of shift/mask
    terms (bits ≤ 21, stride ≤ 3 keeps everything under 63 bits)."""
    terms = [
        F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)),
                    b * stride + offset)
        for b in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zvalue(df: DataFrame, cols: list[str], bits: int = 16,
           out_col: str = "_z") -> DataFrame:
    """Append the Z-order key of ``cols``: each column min/max-scaled
    to an unsigned ``bits``-bit integer (NULL → 0, the curve origin —
    NULLs cluster together, as in Delta), bits interleaved
    column-major (bit b of column i lands at b·|cols| + i).

    ``len(cols) * bits`` must fit in 63 bits. The min/max statistics
    are ONE map-side-combined aggregate returning a single broadcast
    row — the corpus itself is untouched until the caller
    repartitions. Degenerate columns (min == max) scale to 0 and
    contribute nothing, exactly like a constant sort key.
    """
    if not cols:
        raise ValueError("zvalue needs at least one column")
    if bits < 1 or len(cols) * bits > 63:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits must be in [1, 63]")
    aggs = []
    for c in cols:
        v = _as_double(df, c)
        aggs += [F.min(v).alias(f"_min_{c}"), F.max(v).alias(f"_max_{c}")]
    stats = df.agg(*aggs)
    top = float((1 << bits) - 1)
    lanes = []
    for i, c in enumerate(cols):
        v = _as_double(df, c)
        lo, hi = F.col(f"_min_{c}"), F.col(f"_max_{c}")
        span = hi - lo
        scaled = F.when(
            v.isNull() | (span <= 0), F.lit(0)
        ).otherwise(
            F.least(F.floor((v - lo) / span * F.lit(top)),
                    F.lit(int(top)))
        ).cast("long")
        lanes.append(_spread(scaled, bits, len(cols), i))
    z = reduce(lambda a, b: a.bitwiseOR(b), lanes)
    return df.crossJoin(F.broadcast(stats)).select(
        *df.columns, z.alias(out_col))


def zorder_repartition(df: DataFrame, cols: list[str],
                       n_partitions: int, bits: int = 16) -> DataFrame:
    """Range-partition on the Z-key and sort within partitions — the
    layout step before a write: each output partition is a compact
    segment of the Z-curve, i.e. a small hyper-rectangle in
    ``cols``-space, so per-file zone maps are tight on every column.
    ONE range exchange (sampled bounds, skew-proof) + in-partition
    sort; the helper key column is dropped on the way out."""
    zed = zvalue(df, cols, bits=bits)
    return (zed.repartitionByRange(n_partitions, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z"))


def zonemap(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-partition min/max of each layout column — the zone-map /
    parquet-row-group-statistics table made explicit: one row per
    physical partition (pid, n, min_<c>, max_<c>, ...). Map-side
    combined on the partition id (which is the partitioning — zero
    row movement)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        v = _as_double(df, c)
        aggs += [F.min(v).alias(f"min_{c}"), F.max(v).alias(f"max_{c}")]
    return (df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").agg(*aggs))


def pruning_ratio(zmap: DataFrame,
                  box: dict[str, tuple[float, float]]) -> float:
    """Fraction of partitions a conjunctive box predicate
    ``{col: (lo, hi)}`` skips under ``zmap``: a partition survives
    only if EVERY queried column's [min, max] intersects its box
    interval. The data-skipping objective Z-order optimizes —
    returned as a driver scalar (the zone map is partition-
    cardinality-sized by construction)."""
    keep = F.lit(True)
    for c, (lo, hi) in box.items():
        keep = keep & (F.col(f"max_{c}") >= F.lit(float(lo))) \
            & (F.col(f"min_{c}") <= F.lit(float(hi)))
    agg = zmap.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(keep.cast("int")).alias("kept"),
    ).collect()[0]
    if not agg.total:
        return 0.0
    return 1.0 - agg.kept / agg.total


def compaction_plan(events: DataFrame, target_rows: int = 10_000,
                    key: str = "event_type",
                    ts_col: str = "ts") -> DataFrame:
    """Small-file compaction plan per table partition stream — the
    Iceberg ``rewrite_data_files``/bin-pack maintenance planner made
    explicit: treat each (key, day) slice as one data file, walk the
    files of a key in day order accumulating row counts, and open a
    new compaction bin whenever the running total crosses
    ``target_rows`` (``bin = floor(cumulative_rows_before / target)``
    — the standard streaming bin-pack heuristic: no file is split,
    bin ids are nondecreasing in day order, and bin ``b`` only opens
    once at least ``b·target`` rows have accumulated, so occupied
    bins AVERAGE ≥ target fill; an individual middle bin can run
    small only when an oversized neighbor overshot by at least as
    much — the overshoot-absorbing behavior real bin-packers share).

    Output: (key, day, n_rows, bin_id, bin_rows, bin_files) — each
    file's assignment plus its bin's totals, the exact work-list a
    compaction job executes.

    Scale shape: the plan runs on the FILE MANIFEST relation (one row
    per (key, day) — metadata-sized, like Iceberg's manifests), never
    the raw rows; the raw relation contributes one map-side-combined
    groupBy. The per-key cumsum window and the (key, bin) totals
    pipeline on the manifest's key exchange — windowing a
    metadata-sized relation by table key is exactly what a real
    table-maintenance planner does.
    """
    if target_rows < 1:
        raise ValueError(f"target_rows must be >= 1, got {target_rows}")
    files = (events.groupBy(
        F.col(key), F.date_trunc("day", F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows")))
    w = Window.partitionBy(key).orderBy("day")
    cum_before = F.coalesce(
        F.sum("n_rows").over(w.rowsBetween(Window.unboundedPreceding,
                                           -1)),
        F.lit(0))
    planned = files.withColumn(
        "bin_id", F.floor(cum_before / F.lit(target_rows)).cast("long"))
    wb = Window.partitionBy(key, "bin_id")
    return planned.select(
        key, "day", "n_rows", "bin_id",
        F.sum("n_rows").over(wb).alias("bin_rows"),
        F.count(F.lit(1)).over(wb).alias("bin_files"),
    )


def _compaction_sql(target_rows: int = 10_000) -> str:
    return f"""
WITH files AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           count(*) AS n_rows
    FROM events GROUP BY 1, 2
),
planned AS (
    SELECT event_type, day, n_rows,
           CAST(floor(coalesce(sum(n_rows) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) / {target_rows}) AS BIGINT) AS bin_id
    FROM files
)
SELECT event_type, day, n_rows, bin_id,
       CAST(sum(n_rows) OVER (PARTITION BY event_type, bin_id)
            AS BIGINT) AS bin_rows,
       count(*) OVER (PARTITION BY event_type, bin_id) AS bin_files
FROM planned
"""


# the registry query plans with target_rows=2_000 (q_compaction_plan)
ORACLE_SQL = {"compaction_plan": _compaction_sql(2_000)}


# ----------------------------------------------------- bucketed tables
def write_bucketed(df: DataFrame, table: str,
                   bucket_cols: list[str], n_buckets: int = 16,
                   sort_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Persist a relation as a HIVE-BUCKETED parquet table: rows
    hash-distributed into ``n_buckets`` files per partition by
    ``bucket_cols`` (optionally sorted within each bucket by
    ``sort_cols``), with the bucketing spec recorded in the table
    catalog. The payoff is the joins that stop shuffling: two
    tables bucketed the same way on the join key satisfy the join's
    clustering requirement AT READ TIME, so the 100 TB fact⋈fact
    join (turns⋈latency tiers on conv_id, preds⋈truth on series)
    plans with ZERO exchanges — the shuffle was paid once at write
    time and amortizes over every subsequent join, the same
    contract as the catalog's salted range partitioning but
    enforced by Spark's own scan planner instead of engine code.

    ``path`` makes it an external table (tests point it at a
    tempdir); bucket pruning additionally skips non-matching
    buckets on equality predicates against ``bucket_cols``.

    Pytest-tier like the Z-order path (physical layout is not
    SQL-observable): tests pin zero-exchange co-located joins,
    one-sided bucketed joins shuffling ONLY the unbucketed side,
    and row-equality vs the shuffled plan.
    """
    w = (df.write.mode("overwrite").format("parquet")
         .bucketBy(int(n_buckets), *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
