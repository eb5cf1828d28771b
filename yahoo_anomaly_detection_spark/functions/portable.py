"""Engine-portable scalar helpers shared by queries and oracles."""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_round(c: Column, nd: int = 4) -> Column:
    """round-half-away-from-zero on the scaled double — bit-identical
    to DuckDB's ``round(x + 1e-9, nd)`` (which computes
    ``round(x·10^nd)/10^nd``), unlike Spark's decimal-string
    ``F.round`` which can disagree on exact .5-at-scale ties.

    The 1e-9 epsilon (applied identically in every oracle SQL round —
    see ``__spark_entry__._epsilonize``) pushes values sitting exactly
    on a .5·10^-nd decimal boundary decisively to one side, so
    ulp-level float-summation-order differences between engines (e.g.
    tier-cascade partial sums vs a flat sum) cannot flip the rounding
    of boundary values like mean = 46.23125."""
    p = F.lit(float(10 ** nd))
    return F.round((c + F.lit(1e-9)) * p) / p


def portable_key(c: Column, nd: int = 4) -> Column:
    """``round((x + 1e-9)·10^nd)`` as BIGINT: the quantized ordering
    key of :func:`portable_round`, for argmin/argmax encodings that
    both engines must tie-break identically."""
    return F.round((c + F.lit(1e-9)) * F.lit(float(10 ** nd))).cast("long")


def portable_key_sql(expr: str, nd: int = 4) -> str:
    """DuckDB text of :func:`portable_key` over the SQL ``expr``."""
    return f"CAST(round(({expr} + 1e-9) * 1e{nd}) AS BIGINT)"


def np_portable_round(x, nd: int = 4):
    """numpy twin of :func:`portable_round` for the streaming kernels,
    which round in Python and must emit the batch operators' values.

    Spark rounds the scaled double HALF_UP on its decimal string; that
    string round-trips, so it can only sit on a .5 tie when the double
    itself does. Rounding the double's exact value half away from zero
    (split off the fraction exactly with ``trunc``) therefore gives
    Spark's result, where ``floor(y + 0.5)`` would not when the add
    itself rounds (``y`` just below 0.5, or beyond 2^52)."""
    p = float(10 ** nd)
    y = (np.asarray(x, np.float64) + 1e-9) * p
    r = np.trunc(y)
    r = r + np.copysign(np.abs(y - r) >= 0.5, y)
    return r / p
