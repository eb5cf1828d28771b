"""Centered co-moments: the one closed form behind every Pearson r
and OLS slope of the correlation/OLS operator family, built from the
same fit description on Spark and in DuckDB SQL.

Why centered: the inputs of these fits are themselves aggregates
(grid, hourly or daily means) whose last bits depend on the float
summation order, and that order differs between a partitioned Spark
aggregate and a single-threaded oracle. The uncentered form
n·Σxy − ΣxΣy cancels catastrophically and magnifies that ulp noise
past a 4-decimal rounding boundary (the failure that turned
``xcorr_1d`` red). Subtracting each group's window mean before the
product sums keeps both engines at ulp agreement, which
``portable_round``'s 1e-9 epsilon absorbs unless a value sits within
ulps of a rounding boundary. The window partitions on the grouping
keys, so it shares the groupBy's hash clustering and adds no
exchange.

A :class:`Fit` names its inputs with one letter each, so a product
reads ``"xy"``. For every fit, :func:`comoments` and
:func:`comoments_sql` emit

- the centering projection: each input ``v`` (as ``when(mask, v)``
  when the fit has a mask) and ``v − avg(v) over (partition by by)``;
- the grouped aggregates: ``n`` — the rows under the mask, counted as
  the rows whose FIRST input survives it (every row without a mask) —
  optional means ``m<v>``, and ``s<a><b> = Σ cₐ·c_b`` per product.

Every output column carries the fit's suffix, so several fits (metric
pairs, lags, halves) ride one window pass and one aggregate.
"""

from __future__ import annotations

from typing import Mapping, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

PEARSON = ("xy", "xx", "yy")
OLS = ("xy", "xx")


class Fit(NamedTuple):
    """One fit's inputs: ``cols`` maps one-letter names to Spark
    Columns (SQL text for :func:`comoments_sql`); ``mask`` keeps only
    the rows it holds on; ``suffix`` tags the fit's output columns."""

    cols: Mapping[str, Column | str]
    mask: Column | str | None = None
    suffix: str = ""


def comoments(df: DataFrame, by: Sequence[str], products: Sequence[str],
              *fits: Fit, means: bool = False,
              extra: Sequence[Column] = ()) -> DataFrame:
    """One row per ``by`` group with ``n``, optional means and the
    centered product sums of every fit. ``extra`` aggregates may read
    the projected inputs by name. Empty ``by`` is one global group."""
    w = W.partitionBy(*by)
    proj, aggs = [], []
    for f in fits:
        s = f.suffix
        for v, c in f.cols.items():
            c = c if f.mask is None else F.when(f.mask, c)
            proj += [c.alias(f"{v}{s}"),
                     (c - F.avg(c).over(w)).alias(f"c{v}{s}")]
        first = next(iter(f.cols))
        counted = F.lit(1) if f.mask is None else F.col(f"{first}{s}")
        aggs.append(F.count(counted).alias(f"n{s}"))
        if means:
            aggs += [F.avg(f"{v}{s}").alias(f"m{v}{s}") for v in f.cols]
        aggs += [F.sum(F.col(f"c{a}{s}") * F.col(f"c{b}{s}"))
                 .alias(f"s{a}{b}{s}") for a, b in products]
    return df.select(*by, *proj).groupBy(*by).agg(*aggs, *extra)


def pearson(suffix: str = "", min_n: int | None = None) -> Column:
    """r = sxy / √(sxx·syy); NULL on a zero-variance side (or fewer
    than ``min_n`` rows) — DuckDB's ``corr`` convention, where ANSI
    Spark would raise on the division."""
    sxy, sxx, syy = (F.col(f"s{p}{suffix}") for p in PEARSON)
    ok = (sxx > 0) & (syy > 0)
    if min_n is not None:
        ok = (F.col(f"n{suffix}") >= min_n) & ok
    return F.when(ok, sxy / F.sqrt(sxx * syy))


def ols_slope(min_n: int, suffix: str = "") -> Column:
    """OLS slope of y on x = sxy / sxx; NULL below ``min_n`` rows or
    on a constant x."""
    sxy, sxx = (F.col(f"s{p}{suffix}") for p in OLS)
    return F.when((F.col(f"n{suffix}") >= min_n) & (sxx > 0), sxy / sxx)


def comoments_sql(name: str, src: str, by: Sequence[str],
                  products: Sequence[str], *fits: Fit,
                  means: bool = False, extra: Sequence[str] = ()) -> str:
    """DuckDB mirror of :func:`comoments`: two CTEs, ``<name>_c`` (the
    centering projection over ``src``) and ``<name>`` (the aggregate),
    joined by a comma and without the leading ``WITH``."""
    keys = "".join(f"{k}, " for k in by)
    over = f"OVER (PARTITION BY {', '.join(by)})" if by else "OVER ()"
    proj, aggs = [], []
    for f in fits:
        s = f.suffix
        for v, c in f.cols.items():
            c = c if f.mask is None else f"CASE WHEN {f.mask} THEN {c} END"
            proj += [f"{c} AS {v}{s}", f"{c} - avg({c}) {over} AS c{v}{s}"]
        first = next(iter(f.cols))
        counted = "*" if f.mask is None else f"{first}{s}"
        aggs.append(f"count({counted}) AS n{s}")
        if means:
            aggs += [f"avg({v}{s}) AS m{v}{s}" for v in f.cols]
        aggs += [f"sum(c{a}{s} * c{b}{s}) AS s{a}{b}{s}"
                 for a, b in products]
    group = f" GROUP BY {', '.join(by)}" if by else ""
    sep = ",\n           "
    return f"""{name}_c AS (
    SELECT {keys}{sep.join(proj)}
    FROM {src}
),
{name} AS (
    SELECT {keys}{sep.join([*aggs, *extra])}
    FROM {name}_c{group}
)"""


def pearson_sql(suffix: str = "", min_n: int | None = None) -> str:
    """SQL text of :func:`pearson`."""
    s = suffix
    ok = f"sxx{s} > 0 AND syy{s} > 0"
    if min_n is not None:
        ok = f"n{s} >= {min_n} AND {ok}"
    return f"CASE WHEN {ok} THEN sxy{s} / sqrt(sxx{s} * syy{s}) END"


def ols_slope_sql(min_n: int, suffix: str = "") -> str:
    """SQL text of :func:`ols_slope`."""
    s = suffix
    return (f"CASE WHEN n{s} >= {min_n} AND sxx{s} > 0 "
            f"THEN sxy{s} / sxx{s} END")
