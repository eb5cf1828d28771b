"""Gorilla + delta-of-delta codec (GDD2): exact round-trip of the
per-series reference, the batch kernels and the Spark layer."""

import math
import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from yahoo_anomaly_detection_spark.operators.codec import (
    decode_batch_v2,
    decode_series_v2,
    encode_batch_v2,
    encode_series_v2,
)


def roundtrip(ts, vals):
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    payload = encode_series_v2(ts, vals)
    t2, v2 = decode_series_v2(payload)
    np.testing.assert_array_equal(ts, t2)
    # bit-exact comparison (handles NaN payloads)
    np.testing.assert_array_equal(vals.view(np.uint64), v2.view(np.uint64))
    n, t3, v3 = decode_batch_v2([payload])
    assert list(n) == [len(ts)]
    np.testing.assert_array_equal(ts, t3)
    np.testing.assert_array_equal(vals.view(np.uint64), v3.view(np.uint64))


def _flat(series):
    """(ts, vals) pairs → encode_batch_v2's flat (lengths, ts, values)."""
    lengths = np.array([len(t) for t, _ in series], np.int64)
    ts = np.concatenate([np.asarray(t, np.int64) for t, _ in series]
                        + [np.empty(0, np.int64)])
    vals = np.concatenate([np.asarray(v, np.float64) for _, v in series]
                          + [np.empty(0, np.float64)])
    return lengths, ts, vals


def _codec_cases():
    """Series covering the format's edge cases: n = 0..3, long random
    series, all-zero XORs, special floats and every dod class."""
    rng = np.random.default_rng(13)
    cases = []
    for n in (0, 1, 2, 3, 7, 60, 301):
        ts = (np.cumsum(rng.integers(1, 10_000_000, n)).astype(np.int64)
              if n else np.array([], np.int64))
        cases.append((ts, rng.normal(0, 1e3, n)))
    cases.append((np.arange(40, dtype=np.int64) * 60_000_000,
                  np.full(40, 7.25)))  # all-zero xors
    cases.append((np.arange(5, dtype=np.int64),
                  np.array([0.0, -0.0, np.inf, np.nan, 1e-308])))
    # dod == 0, int8, int16 and int64 classes, both signs
    deltas = [1000, 1000, 1100, 1000, 31_000, 1000, 10_000_000, 1000, 940]
    cases.append((np.cumsum([0] + deltas).astype(np.int64),
                  np.arange(len(deltas) + 1, dtype=float)))
    # empty series in LAST position (start index == total length —
    # regression: the header gather used to index out of bounds)
    cases.append((np.array([], np.int64), np.array([], np.float64)))
    return cases


def test_empty():
    roundtrip([], [])


def test_single():
    roundtrip([1736000000_000000], [3.14159])


def test_two_points():
    roundtrip([0, 1_000_000], [1.0, 1.0])


def test_constant_values_regular_ts():
    n = 500
    roundtrip(np.arange(n) * 60_000_000, np.full(n, 42.5))


def test_irregular_ts_and_values():
    rng = np.random.default_rng(42)
    n = 1000
    ts = np.cumsum(rng.integers(1, 10_000_000, n))
    vals = rng.normal(100, 25, n)
    roundtrip(ts, vals)


def test_special_floats():
    roundtrip(
        [0, 1, 2, 3, 4, 5],
        [0.0, -0.0, math.inf, -math.inf, math.nan, 1e-308],
    )


def test_negative_dod_buckets():
    # exercise every DoD bucket width
    deltas = [1000, 1000, 1064, 1000, 1256, 1000, 3048, 1000, 10_000_000, 1000]
    ts = np.cumsum([0] + deltas)
    roundtrip(ts, np.arange(len(ts), dtype=float))


def test_batch_encode_byte_identical():
    """encode_batch_v2 must produce byte-identical payloads to the
    per-series encoder for every series in the batch."""
    cases = _codec_cases()
    batch = encode_batch_v2(*_flat(cases))
    for i, (ts, vals) in enumerate(cases):
        assert batch[i] == encode_series_v2(ts, vals), i
    # empty series sandwiched between non-empty ones
    mid = [cases[3], cases[0], cases[4]]
    for i, p in enumerate(encode_batch_v2(*_flat(mid))):
        assert p == encode_series_v2(*mid[i]), i
    # all-empty batch
    assert encode_batch_v2(*_flat([cases[0]])) == [
        encode_series_v2(np.array([], np.int64), np.array([], np.float64))]
    assert encode_batch_v2(*_flat([])) == []


def _assert_batch_decode_matches(series):
    payloads = [encode_series_v2(t, v) for t, v in series]
    n, ts, vals = decode_batch_v2(payloads)
    ref = [decode_series_v2(p) for p in payloads]
    np.testing.assert_array_equal(n, [len(t) for t, _ in ref])
    np.testing.assert_array_equal(
        ts, np.concatenate([t for t, _ in ref] + [np.empty(0, np.int64)]))
    np.testing.assert_array_equal(
        vals.view(np.uint64),
        np.concatenate([v for _, v in ref]
                       + [np.empty(0, np.float64)]).view(np.uint64))
    # and the batch kernels invert each other
    assert encode_batch_v2(n, ts, vals) == payloads
    # Arrow inputs: 64-bit offsets, and a slice with a nonzero offset
    for arr in (pa.array(payloads, pa.large_binary()),
                pa.array([b"junk"] + payloads, pa.binary()).slice(1)):
        n2, ts2, vals2 = decode_batch_v2(arr)
        np.testing.assert_array_equal(n2, n)
        np.testing.assert_array_equal(ts2, ts)
        np.testing.assert_array_equal(vals2.view(np.uint64),
                                      vals.view(np.uint64))


def test_batch_decode_bit_identical():
    """decode_batch_v2 must equal the concatenated per-series decodes,
    bit for bit, wherever the empty series sit."""
    cases = _codec_cases()
    empty = cases[0]
    _assert_batch_decode_matches([])
    _assert_batch_decode_matches(cases)  # empty first and last
    _assert_batch_decode_matches(cases[1:-1])  # no empties
    _assert_batch_decode_matches([cases[3], empty, cases[4], empty,
                                  cases[1]])  # empties in the middle
    _assert_batch_decode_matches([empty, empty])
    for case in cases:
        _assert_batch_decode_matches([case])


def test_batch_decode_rejects_malformed_payloads():
    good = encode_series_v2(np.arange(9, dtype=np.int64), np.arange(9.0))
    with pytest.raises(ValueError, match="magic"):
        decode_batch_v2([good, b"GDD1" + good[4:]])
    with pytest.raises(ValueError, match="magic"):
        decode_batch_v2([good, b"GD"])
    with pytest.raises(ValueError, match="GDD2 payload"):
        decode_batch_v2([good[:-1]])
    with pytest.raises(ValueError, match="GDD2 payload"):
        decode_batch_v2([good + b"\0"])


_POINTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10**9),
        st.floats(allow_nan=True, allow_infinity=True, width=64),
    ),
    min_size=0,
    max_size=200,
)


def _series(pairs):
    gaps = [p[0] for p in pairs]
    ts = np.cumsum(gaps).astype(np.int64) if gaps else np.array([], np.int64)
    return ts, np.array([p[1] for p in pairs], np.float64)


@settings(max_examples=50, deadline=None)
@given(_POINTS)
def test_property_roundtrip(pairs):
    roundtrip(*_series(pairs))


@settings(max_examples=50, deadline=None)
@given(st.lists(_POINTS, min_size=0, max_size=8))
def test_property_batch_decode(batch):
    _assert_batch_decode_matches([_series(pairs) for pairs in batch])


def test_compression_ratio_on_regular_series():
    """Regular cadence + slowly-varying values must beat raw 16B/point."""
    n = 3600
    ts = np.arange(n, dtype=np.int64) * 1_000_000
    vals = np.round(np.sin(np.arange(n) / 100.0), 2) * 100  # repeating bit patterns
    payload = encode_series_v2(ts, vals)
    assert len(payload) < n * 16 * 0.5, f"{len(payload)} vs raw {n * 16}"


def test_spark_roundtrip(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from yahoo_anomaly_detection_spark.operators.codec import (
        compress_buckets,
        decompress_buckets,
    )

    rng = np.random.default_rng(7)
    n = 2000
    pdf = pd.DataFrame(
        {
            "conv_id": np.repeat([f"c{i}" for i in range(10)], n // 10),
            "ts": pd.to_datetime(
                np.tile(np.cumsum(rng.integers(1, 30_000_000, n // 10)), 10), unit="us"
            ),
            "value": rng.normal(0, 1, n),
        }
    )
    df = spark.createDataFrame(pdf)
    enc = compress_buckets(df, coarse="hour")
    dec = decompress_buckets(enc)
    back = dec.toPandas().sort_values(["conv_id", "ts"]).reset_index(drop=True)
    orig = pdf.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert (enc.select(F.sum("n_points")).first()[0]) == n
    assert {r[0] for r in enc.select("codec").distinct().collect()} == {
        "gorilla_dod_v2"}
    np.testing.assert_array_equal(
        back["value"].to_numpy(), orig["value"].to_numpy()
    )
    assert (back["ts"].to_numpy() == orig["ts"].to_numpy()).all()


def _points_df(spark, rows):
    """(conv_id, epoch µs, value) tuples → a points DataFrame built
    without pandas, so NaN stays a value and None stays NULL, and with
    timestamps fixed in UTC whatever the session time zone."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "conv_id string, us long, value double")
    return df.select("conv_id", F.timestamp_micros("us").alias("ts"), "value")


def _spark_roundtrip_exact(spark, rows):
    """Encode + decode ``rows`` through Spark; assert every (conv_id,
    µs, value bits) comes back, NULL-free."""
    from pyspark.sql import functions as F

    from yahoo_anomaly_detection_spark.operators.codec import (
        compress_buckets,
        decompress_buckets,
    )

    dec = decompress_buckets(compress_buckets(_points_df(spark, rows), "hour"))
    got = dec.select("conv_id", F.unix_micros("ts"), "value").collect()

    def key(r):
        return (r[0], r[1], struct.pack("<d", r[2]))

    assert all(r[2] is not None for r in got)
    assert sorted(map(key, got)) == sorted(map(key, rows))


def test_spark_roundtrip_non_utc_session_tz(spark):
    """Decoded timestamps are instants: a non-UTC session time zone
    must not shift them (it once added the zone's UTC offset)."""
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    base = 1_736_000_000_000_000
    rows = [(f"c{i % 3}", base + i * 7_000_000, float(i)) for i in range(900)]
    _spark_roundtrip_exact(spark, rows)


def test_spark_special_floats_bit_exact(spark):
    """NaN stays NaN (not NULL) and -0.0, ±inf, subnormals keep their
    bits through encode → Spark → decode."""
    specials = [math.nan, -0.0, 0.0, math.inf, -math.inf, 1e-308, 5e-324]
    base = 1_736_000_000_000_000
    rows = [("c0", base + i * 1_000_000, v) for i, v in enumerate(specials)]
    _spark_roundtrip_exact(spark, rows)


def test_spark_null_values_raise(spark):
    """A NULL value has no Gorilla encoding: compress_buckets fails
    naming the column instead of storing NaN."""
    from yahoo_anomaly_detection_spark.operators.codec import compress_buckets

    rows = [("c0", 1_000_000, 1.0), ("c0", 2_000_000, None)]
    with pytest.raises(Exception, match="ValueError.*'value'") as exc:
        compress_buckets(_points_df(spark, rows), "hour").collect()
    assert "NULL" in str(exc.value)


def test_spark_roundtrip_small_arrow_batches(spark):
    """Several and partial Arrow batches per task: the batch kernels
    must not leak state or offsets across batch boundaries."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    rng = np.random.default_rng(5)
    base = 1_736_000_000_000_000
    rows = []
    for c in range(11):
        us = base + np.cumsum(rng.integers(1, 900_000_000, 60))
        rows += [(f"c{c}", int(u), float(v))
                 for u, v in zip(us, rng.normal(0, 1, 60))]
    _spark_roundtrip_exact(spark, rows)
