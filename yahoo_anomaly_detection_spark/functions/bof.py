"""Bag-of-Functions basis pool as Spark column expressions.

Re-expresses the reference's parametric basis library
(/root/reference/Network/ITF/functions.py) as JVM-side
whole-stage-codegen expressions — no Python in the hot path. Each
function takes Columns (or python floats) and returns a Column over a
scalar ``x``; evaluate over a window with
:func:`eval_over_window` (``transform(sequence(0, W-1), ...)``,
SURVEY W3: the reference's ``torch.arange(0, window_length)`` at
/root/reference/Network/ITF/itf_decoder.py:21).

Faithful-semantics notes (SURVEY §2.8):
- Square_Wave / Triangle_Wave are *sine stubs* in the reference
  (/root/reference/Network/ITF/functions.py:101-125, copy-paste) —
  replicated as aliases of sin, with honest names.
- Si patches NaN at the removable singularity to 1
  (/root/reference/Network/ITF/functions.py:153).
- rescale applies the min-max affine map a = lo + (hi−lo)·a
  (/root/reference/Network/ITF/functions.py:49,65-67) assuming raw
  params in [0,1].
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EPS = 1e-6


def _c(v) -> Column:
    return v if isinstance(v, Column) else F.lit(float(v))


def rescale(a, lo: float, hi: float) -> Column:
    """Min-max affine rescale (F25, functions.py:49)."""
    return F.lit(float(lo)) + (F.lit(float(hi)) - F.lit(float(lo))) * _c(a)


def const(a1) -> Column:  # F1, functions.py:44-54
    return _c(a1)


def sin(x, a1, a2, a3) -> Column:  # F2, functions.py:58-69
    return _c(a1) * F.sin(_c(a2) * _c(x) + _c(a3))


def cos(x, a1, a2, a3) -> Column:  # F3, functions.py:72-83
    return _c(a1) * F.cos(_c(a2) * _c(x) + _c(a3))


def sin_abs(x, a1, a2, a3) -> Column:  # F4, functions.py:88-99
    return F.abs(_c(a1) * F.sin(_c(a2) * _c(x) + _c(a3)))


# F5/F6: reference "square"/"triangle" waves are sine stubs — kept as such.
square_wave = sin
triangle_wave = sin


def sawtooth_wave(x, a1, a2, a3) -> Column:  # F7, functions.py:127-138
    xx, a1c, a2c, a3c = _c(x), _c(a1), _c(a2), _c(a3)
    return 2 * a1c * (xx / a2c - F.floor(0.5 + xx / a2c)) + a3c


def si(x, a1, a2, a3) -> Column:  # F9, functions.py:145-173 (NaN→1 at :153)
    xx, a1c, a2c, a3c = _c(x), _c(a1), _c(a2), _c(a3)
    arg = a2c * xx + a3c
    return a1c * F.when(F.abs(arg) < F.lit(1e-12), F.lit(1.0)).otherwise(
        F.sin(arg) / arg
    )


def lin(x, a1, a2) -> Column:  # F10, functions.py:180-189
    return _c(a1) + _c(a2) * _c(x)


def exp_sat(x, a1, a2, a3) -> Column:  # F11, functions.py:191-203
    return _c(a1) + _c(a2) * (1 - F.exp(-_c(x) / (_c(a3) + F.lit(EPS))))


def exp_decay(x, a1, a2, a3) -> Column:  # F12, functions.py:205-217
    return _c(a1) + _c(a2) * F.exp(-_c(x) / (_c(a3) + F.lit(EPS)))


exp_mixed = exp_sat  # F13: same form, a2 range (−1,1), functions.py:219-231


def sqrt_fn(x, a1, a2, a3) -> Column:  # F14, functions.py:233-244
    return _c(a1) + _c(a2) * F.sqrt(_c(x) + _c(a3))


def log10_fn(x, a1, a2, a3) -> Column:  # F15, functions.py:246-257
    return _c(a1) + _c(a2) * F.log10(_c(x) + _c(a3))


def tanh_fn(x, a1, a2, a3) -> Column:  # F16, functions.py:259-270
    return _c(a1) * F.tanh((_c(x) - _c(a3)) * _c(a2))


def sig(x, a1, a2, a3) -> Column:  # F17, functions.py:272-283
    return _c(a1) / (1 + F.exp((-_c(x) - _c(a3)) * _c(a2)))


def gaus(x, a1, a2, a3) -> Column:  # F18, functions.py:287-298
    return _c(a1) * F.exp(-F.abs(_c(a2) * (_c(x) - _c(a3)) ** 2))


def step(x, a1, a2) -> Column:  # F19, functions.py:300-315
    return F.when(_c(x) < _c(a2), F.lit(0.0)).otherwise(_c(a1))


def rect(x, a1, a2, a3, tmax: float) -> Column:  # F20, functions.py:317-328
    xx, a2c = _c(x), _c(a2)
    upper = a2c + (F.lit(float(tmax)) - a2c) * _c(a3)
    return F.when((xx >= a2c) & (xx <= upper), _c(a1)).otherwise(F.lit(0.0))


def hardlim(x, c) -> Column:  # F21, CustomModels.py:78
    return (_c(x) > _c(c)).cast("double")


def gaussian_pdf(x, mu, sigma) -> Column:
    """F22: Normal(μ,σ).log_prob(x).exp()
    (/root/reference/Testing/vae_anm_detc.py:75,152)."""
    xx, m, s = _c(x), _c(mu), _c(sigma)
    return F.exp(-((xx - m) ** 2) / (2 * s * s)) / (
        s * F.lit(math.sqrt(2 * math.pi))
    )


def eval_over_window(fn, window_len: int, *params) -> Column:
    """Evaluate a basis function over x = 0..W−1 → array<double>
    (SURVEY W3). ``fn(x_col, *params)`` must be one of the above."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(window_len - 1)),
        lambda x: fn(x.cast("double"), *params),
    )
