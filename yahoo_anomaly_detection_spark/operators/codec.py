"""Gorilla XOR (values) + delta-of-delta (timestamps) codec, format GDD2.

North-rule component (no reference counterpart — the reference keeps
raw float32 tensors in memory, /root/reference/StatsTesting/
base_anomaly_stats.py:23). Semantics follow the Gorilla paper
(Pelkonen et al., VLDB 2015, "Gorilla: A Fast, Scalable, In-Memory
Time Series Database"): each timestamp is stored as the change of the
previous delta, each value as its XOR with the previous value inside
one meaningful-bit window shared by the series. GDD2 lays this out
byte-aligned and struct-of-arrays, so encode and decode are pure
numpy:

    magic(4) n(u32)
    [n>=1] ts0(i64) v0(u64-bits)
    [n>=2] delta0(i64) lz(u8) tz(u8) wbytes(u8)
    ts_ctrl  : 2-bit codes, 4/byte, points 2..n-1
               (0: dod==0, 1: int8 dod, 2: int16 dod, 3: int64 dod)
    vx_ctrl  : 1-bit codes, 8/byte, points 1..n-1 (1: payload present)
    dod8/dod16/dod64 : SoA payload blocks per class, in point order
    xor payloads     : (count × wbytes) little-endian, dropping the
                       tz trailing and 64-lz-... leading zero bytes

:func:`encode_series_v2` / :func:`decode_series_v2` are the
per-series reference. :func:`encode_batch_v2` / :func:`decode_batch_v2`
do the same per-point work once over the flat concatenation of a
whole Arrow batch, and are what the Spark layer runs:
:func:`compress_buckets` / :func:`decompress_buckets` call them from
``mapInArrow`` over per-(conv_id, coarse-bucket) arrays assembled
with ``sort_array(collect_list(struct(ts, v)))`` — one shuffle,
per-group payloads, no pandas and no per-row Python.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC2 = b"GDD2"


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (x must be > 0)."""
    x = x.copy()
    lz = np.zeros(x.shape, np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        m = (x >> np.uint64(64 - s)) == 0
        lz[m] += s
        x[m] <<= np.uint64(s)
    return lz


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (x must be > 0)."""
    low = x & (~x + np.uint64(1))
    return np.int64(63) - _clz64(low)


def encode_series_v2(ts_us: np.ndarray, values: np.ndarray) -> bytes:
    """Vectorized byte-aligned Gorilla encode (format GDD2)."""
    n = len(ts_us)
    ts_us = np.asarray(ts_us, dtype=np.int64)
    bits_v = np.ascontiguousarray(
        np.asarray(values, dtype=np.float64)
    ).view(np.uint64)
    out = [MAGIC2, struct.pack("<I", n)]
    if n == 0:
        return b"".join(out)
    out.append(struct.pack("<q", int(ts_us[0])))
    out.append(struct.pack("<Q", int(bits_v[0])))
    if n == 1:
        return b"".join(out)

    deltas = np.diff(ts_us)
    xors = bits_v[1:] ^ bits_v[:-1]
    nz = xors != 0
    if nz.any():
        x = xors[nz]
        lz = int(_clz64(x).min())
        tz = int(_ctz64(x).min())
        wbytes = (64 - lz - tz + 7) // 8
    else:
        lz = tz = wbytes = 0
    out.append(struct.pack("<qBBB", int(deltas[0]), lz, tz, wbytes))

    # ts control + SoA payloads
    if n >= 3:
        dod = np.diff(deltas)
        codes = np.zeros(len(dod), np.uint8)
        small = (dod >= -128) & (dod <= 127)
        med = ~small & (dod >= -32768) & (dod <= 32767)
        big = ~small & ~med
        codes[small & (dod != 0)] = 1
        codes[med] = 2
        codes[big] = 3
        pad = (-len(codes)) % 4
        cp = np.pad(codes, (0, pad)).reshape(-1, 4)
        packed = (cp[:, 0] << 6) | (cp[:, 1] << 4) | (cp[:, 2] << 2) | cp[:, 3]
        out.append(packed.astype(np.uint8).tobytes())
    # value control
    out.append(np.packbits(nz.astype(np.uint8)).tobytes())
    if n >= 3:
        out.append(dod[codes == 1].astype("<i1").tobytes())
        out.append(dod[codes == 2].astype("<i2").tobytes())
        out.append(dod[codes == 3].astype("<i8").tobytes())
    if nz.any() and wbytes:
        payload = (xors[nz] >> np.uint64(tz)).astype("<u8")
        out.append(
            payload.view(np.uint8).reshape(-1, 8)[:, :wbytes].tobytes()
        )
    return b"".join(out)


def decode_series_v2(payload: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Fully vectorized inverse of :func:`encode_series_v2`."""
    if payload[:4] != MAGIC2:
        raise ValueError("bad magic")
    (n,) = struct.unpack("<I", payload[4:8])
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    ts0 = struct.unpack("<q", payload[8:16])[0]
    v0 = struct.unpack("<Q", payload[16:24])[0]
    if n == 1:
        return (np.array([ts0], np.int64),
                np.array([v0], np.uint64).view(np.float64))
    delta0, lz, tz, wbytes = struct.unpack("<qBBB", payload[24:35])
    pos = 35
    m_ts = n - 2
    m_vx = n - 1

    if m_ts:
        nb = (m_ts + 3) // 4
        packed = np.frombuffer(payload, np.uint8, nb, pos)
        pos += nb
        codes = np.empty(nb * 4, np.uint8)
        codes[0::4] = packed >> 6
        codes[1::4] = (packed >> 4) & 3
        codes[2::4] = (packed >> 2) & 3
        codes[3::4] = packed & 3
        codes = codes[:m_ts]
    else:
        codes = np.empty(0, np.uint8)

    nbv = (m_vx + 7) // 8
    vx = np.unpackbits(
        np.frombuffer(payload, np.uint8, nbv, pos), count=m_vx
    ).astype(bool)
    pos += nbv

    dod = np.zeros(m_ts, np.int64)
    for code, dt in ((1, "<i1"), (2, "<i2"), (3, "<i8")):
        mask = codes == code
        cnt = int(mask.sum())
        if cnt:
            width = np.dtype(dt).itemsize
            dod[mask] = np.frombuffer(payload, dt, cnt, pos)
            pos += cnt * width

    xors = np.zeros(m_vx, np.uint64)
    cnt = int(vx.sum())
    if cnt and wbytes:
        raw = np.frombuffer(payload, np.uint8, cnt * wbytes, pos)
        full = np.zeros((cnt, 8), np.uint8)
        full[:, :wbytes] = raw.reshape(cnt, wbytes)
        xors[vx] = full.reshape(-1).view("<u8") << np.uint64(tz)

    deltas = np.empty(m_vx, np.int64)
    deltas[0] = delta0
    if m_ts:
        deltas[1:] = delta0 + np.cumsum(dod)
    ts = np.empty(n, np.int64)
    ts[0] = ts0
    ts[1:] = ts0 + np.cumsum(deltas)

    bits = np.empty(n, np.uint64)
    bits[0] = v0
    bits[1:] = xors
    np.bitwise_xor.accumulate(bits, out=bits)
    return ts, bits.view(np.float64)


def encode_batch_v2(lengths: np.ndarray, ts_us: np.ndarray,
                    values: np.ndarray) -> list[bytes]:
    """Batch GDD2 encode of series laid end to end: series ``i`` is the
    next ``lengths[i]`` points of the flat ``ts_us`` / ``values``
    arrays (the layout of an Arrow list column's flattened values, and
    of :func:`decode_batch_v2`'s output). Byte-identical to per-series
    :func:`encode_series_v2`, but every per-point computation (diffs,
    XORs, dod classification, window minima, control-stream packing,
    payload gathers) runs ONCE over the whole batch. Per-series numpy
    overhead (~230µs/series for the typical ~60-point
    conversation-hour bucket — dwarfing the actual work) drops to a
    ~6µs byte-assembly loop.
    """
    lengths = np.asarray(lengths, np.int64)
    B = len(lengths)
    if B == 0:
        return []
    out_payloads: list[bytes] = [b""] * B
    n_hdr = struct.Struct("<I")

    N = int(lengths.sum())
    if N != len(ts_us) or N != len(values):
        raise ValueError(
            f"lengths sum to {N}, got {len(ts_us)} timestamps and "
            f"{len(values)} values")
    if N == 0:
        return [MAGIC2 + n_hdr.pack(0)] * B
    ts_all = np.asarray(ts_us, np.int64)
    bits = np.ascontiguousarray(np.asarray(values, np.float64)).view(np.uint64)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    gid = np.repeat(np.arange(B), lengths)

    # headers, vectorized into byte matrices (per-series row slices).
    # starts is clamped: a trailing zero-length series has start == N
    # (out of bounds); its header row is garbage but never emitted —
    # the assembly loop only appends headers when n >= 1.
    safe_starts = np.minimum(starts, N - 1)
    ts0_b = ts_all[safe_starts].astype("<i8").view(np.uint8).reshape(B, 8)
    v0_b = bits[safe_starts].astype("<u8").view(np.uint8).reshape(B, 8)

    # first-diffs / xors, boundary positions dropped so the remainder
    # is the dense concatenation of every series' own arrays
    d_all = np.diff(ts_all)
    x_all = bits[1:] ^ bits[:-1]
    vd1 = gid[:-1] == gid[1:]
    x_valid = x_all[vd1]
    xcnt = np.maximum(lengths - 1, 0)
    xoff = np.concatenate(([0], np.cumsum(xcnt)))
    delta0 = np.zeros(B, np.int64)
    has2 = lengths >= 2
    delta0[has2] = d_all[starts[has2]]

    dod_all = np.diff(d_all)
    vd2 = gid[:-2] == gid[2:]
    dod_valid = dod_all[vd2].astype(np.int64)
    dcnt = np.maximum(lengths - 2, 0)
    doff = np.concatenate(([0], np.cumsum(dcnt)))

    # dod classification + per-class global payload blocks (global
    # order == series-major order, so per-series chunks are slices)
    codes = np.zeros(len(dod_valid), np.uint8)
    small = (dod_valid >= -128) & (dod_valid <= 127)
    med = ~small & (dod_valid >= -32768) & (dod_valid <= 32767)
    big = ~small & ~med
    codes[small & (dod_valid != 0)] = 1
    codes[med] = 2
    codes[big] = 3
    class_blobs = []
    class_offs = []
    for cls, dt in ((1, "<i1"), (2, "<i2"), (3, "<i8")):
        m = codes == cls
        blob = dod_valid[m].astype(dt).view(np.uint8)
        width = np.dtype(dt).itemsize
        cum = np.concatenate(([0], np.cumsum(m)))
        cnt_i = cum[doff[1:]] - cum[doff[:-1]]
        off_i = np.concatenate(([0], np.cumsum(cnt_i))) * width
        class_blobs.append(blob)
        class_offs.append((off_i, cnt_i * width))

    # per-series XOR window via dense reduceat (x_valid has no gaps)
    nz = x_valid != 0
    cumnz = np.concatenate(([0], np.cumsum(nz)))
    nzc = cumnz[xoff[1:]] - cumnz[xoff[:-1]]
    lz_i = np.zeros(B, np.int64)
    tz_i = np.zeros(B, np.int64)
    wbytes_i = np.zeros(B, np.int64)
    if nz.any():
        lz_arr = np.where(nz, _clz64(x_valid), 64)
        tz_arr = np.where(nz, _ctz64(x_valid), 64)
        # reduceat boundaries only through the LAST series with xors:
        # trailing shorter series have xoff == len(x_valid), and
        # clamping those into range would steal the final element from
        # the previous series' segment (regression: empty-last batch).
        # Mid-batch empties yield [i:i) degenerate segments whose
        # garbage value is masked by has_nz below.
        last_ne = int(np.flatnonzero(xcnt > 0)[-1])
        red_starts = xoff[: last_ne + 1]
        lz_red = np.minimum.reduceat(lz_arr, red_starts)
        tz_red = np.minimum.reduceat(tz_arr, red_starts)
        idx = np.flatnonzero(nzc > 0)  # all ≤ last_ne by construction
        lz_i[idx] = lz_red[idx]
        tz_i[idx] = tz_red[idx]
        wbytes_i[idx] = (64 - lz_i[idx] - tz_i[idx] + 7) // 8
    hdr2 = np.empty((B, 11), np.uint8)
    hdr2[:, :8] = delta0.astype("<i8").view(np.uint8).reshape(B, 8)
    hdr2[:, 8] = lz_i
    hdr2[:, 9] = tz_i
    hdr2[:, 10] = wbytes_i

    # ts control stream: per-series 2-bit codes padded to whole bytes —
    # scatter into a globally padded array, pack once
    dpad = ((dcnt + 3) // 4) * 4
    dpoff = np.concatenate(([0], np.cumsum(dpad)))
    padded = np.zeros(int(dpoff[-1]), np.uint8)
    if len(codes):
        # position of each code: its series' padded base + local index
        local = np.arange(len(codes)) - np.repeat(doff[:-1], dcnt)
        padded[np.repeat(dpoff[:-1], dcnt) + local] = codes
    q = padded.reshape(-1, 4)
    tctrl = ((q[:, 0] << 6) | (q[:, 1] << 4) | (q[:, 2] << 2) | q[:, 3])
    tctrl_off = dpoff // 4

    # value control stream: per-series presence bits padded to bytes
    xpad = ((xcnt + 7) // 8) * 8
    xpoff = np.concatenate(([0], np.cumsum(xpad)))
    vbits = np.zeros(int(xpoff[-1]), np.uint8)
    if len(x_valid):
        localx = np.arange(len(x_valid)) - np.repeat(xoff[:-1], xcnt)
        vbits[np.repeat(xpoff[:-1], xcnt) + localx] = nz
    vctrl = np.packbits(vbits)
    vctrl_off = xpoff // 8

    # XOR payload matrix: global rows in series-major order; each
    # series keeps the first wbytes columns of its rows
    tz_rep = np.repeat(tz_i, xcnt).astype(np.uint64)
    shifted = (x_valid >> tz_rep)[nz].astype("<u8")
    pay = shifted.view(np.uint8).reshape(-1, 8)
    nzoff = np.concatenate(([0], np.cumsum(nzc)))

    tctrl_b = tctrl.tobytes()
    vctrl_b = vctrl.tobytes()
    b1, b2, b3 = (b.tobytes() for b in class_blobs)
    (o1, w1), (o2, w2), (o3, w3) = class_offs
    for i in range(B):
        n = int(lengths[i])
        parts = [MAGIC2, n_hdr.pack(n)]
        if n >= 1:
            parts.append(ts0_b[i].tobytes())
            parts.append(v0_b[i].tobytes())
        if n >= 2:
            parts.append(hdr2[i].tobytes())
            if n >= 3:
                parts.append(tctrl_b[tctrl_off[i]: tctrl_off[i + 1]])
            parts.append(vctrl_b[vctrl_off[i]: vctrl_off[i + 1]])
            if n >= 3:
                parts.append(b1[o1[i]: o1[i] + w1[i]])
                parts.append(b2[o2[i]: o2[i] + w2[i]])
                parts.append(b3[o3[i]: o3[i] + w3[i]])
            wb = int(wbytes_i[i])
            if wb and nzc[i]:
                parts.append(
                    pay[nzoff[i]: nzoff[i + 1], :wb].tobytes()
                )
        out_payloads[i] = b"".join(parts)
    return out_payloads




def _starts(counts: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: where each of ``counts`` consecutive
    segments begins."""
    return np.cumsum(counts) - counts


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + c)`` over the (s, c) pairs."""
    return (np.repeat(starts - _starts(counts), counts)
            + np.arange(int(counts.sum())))


def _gather(data: np.ndarray, pos: np.ndarray, dtype: str) -> np.ndarray:
    """Fixed-width little-endian fields of ``data`` at byte offsets
    ``pos``."""
    width = np.dtype(dtype).itemsize
    return data[pos[:, None] + np.arange(width)].view(dtype).ravel()


def _segmented_scan(op: np.ufunc, x: np.ndarray,
                    lengths: np.ndarray) -> np.ndarray:
    """Per-segment inclusive scan of ``x`` (segments of ``lengths``
    elements laid end to end) under ``np.add`` or ``np.bitwise_xor``:
    one global scan, then each segment's exclusive prefix taken back
    out. int64 wraparound cancels, so sums are exact mod 2**64."""
    if not len(x):
        return x
    inv = np.subtract if op is np.add else op
    acc = op.accumulate(x)
    # clamped: an empty segment at the end starts at len(x); its
    # prefix is repeated zero times
    first = np.minimum(_starts(lengths), len(x) - 1)
    return inv(acc, np.repeat(inv(acc[first], x[first]), lengths))


def decode_batch_v2(payloads) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch inverse of :func:`encode_batch_v2`: GDD2 payloads (an Arrow
    binary array or a sequence of bytes) → ``(lengths, ts_us, values)``,
    the decoded series laid end to end in flat int64 / float64 arrays.
    Bit-identical to concatenating :func:`decode_series_v2` outputs.

    Nothing loops per payload or per point in Python: the headers are
    gathered from the Arrow data buffer by offset, the control streams
    of every payload are unpacked together, and the reconstruction (dod
    prefix sums, XOR accumulate) is one segmented scan over the batch.
    A payload whose sections do not add up to its length raises.
    """
    arr = (payloads if isinstance(payloads, pa.Array)
           else pa.array(payloads, pa.binary()))
    P = len(arr)
    if P == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.empty(0, np.float64))
    if arr.null_count:
        raise ValueError("NULL GDD2 payload")
    _, off_buf, data_buf = arr.buffers()
    off_dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(off_buf, off_dt)[arr.offset: arr.offset + P + 1]
    off = off.astype(np.int64)
    data = np.frombuffer(data_buf, np.uint8)
    base, end = off[:-1], off[1:]
    if ((end - base < 8).any()
            or (_gather(data, base, "S4") != MAGIC2).any()):
        raise ValueError("bad magic")

    n = _gather(data, base + 4, "<u4").astype(np.int64)
    h1, h2 = n >= 1, n >= 2
    m_ts = np.maximum(n - 2, 0)  # dod codes per series
    m_vx = np.maximum(n - 1, 0)  # value-control bits per series
    nb_t = (m_ts + 3) // 4
    nb_v = (m_vx + 7) // 8
    pos_t = base + 35
    pos_v = pos_t + nb_t
    pos_d = pos_v + nb_v
    short_end = base + np.where(h1, 24, 8)  # where n < 2 payloads end
    if (np.where(h2, pos_d, short_end) > end).any():
        raise ValueError("truncated GDD2 payload")

    ts0 = np.zeros(P, np.int64)
    v0 = np.zeros(P, np.uint64)
    delta0 = np.zeros(P, np.int64)
    tz = np.zeros(P, np.uint64)
    wb = np.zeros(P, np.int64)
    ts0[h1] = _gather(data, base[h1] + 8, "<i8")
    v0[h1] = _gather(data, base[h1] + 16, "<u8")
    delta0[h2] = _gather(data, base[h2] + 24, "<i8")
    tz[h2] = data[base[h2] + 33]
    wb[h2] = data[base[h2] + 34]

    # control streams of every payload at once, byte padding dropped
    tb = data[_ranges(pos_t, nb_t)]
    codes = np.stack([tb >> 6, (tb >> 4) & 3, (tb >> 2) & 3, tb & 3],
                     axis=1).ravel()[_ranges(4 * _starts(nb_t), m_ts)]
    vx = np.unpackbits(data[_ranges(pos_v, nb_v)])[
        _ranges(8 * _starts(nb_v), m_vx)].astype(bool)
    seg_t = np.repeat(np.arange(P), m_ts)
    seg_v = np.repeat(np.arange(P), m_vx)

    # section offsets; every byte of a payload must be accounted for
    classes = []
    pos = pos_d
    for code, dt in ((1, "<i1"), (2, "<i2"), (3, "<i8")):
        sel = codes == code
        cnt = np.bincount(seg_t[sel], minlength=P)
        classes.append((sel, cnt, pos, dt))
        pos = pos + cnt * np.dtype(dt).itemsize
    cnt_x = np.bincount(seg_v[vx], minlength=P)
    if (np.where(h2, pos + cnt_x * wb, short_end) != end).any():
        raise ValueError("malformed GDD2 payload")

    # a section's k-th record in payload p sits at the section's start
    # in p + k·width (k = _ranges(0, cnt): each record's index in p)
    dod = np.zeros(len(codes), np.int64)
    for sel, cnt, start, dt in classes:
        seg = seg_t[sel]
        k = _ranges(np.zeros_like(cnt), cnt)
        dod[sel] = _gather(data, start[seg] + k * np.dtype(dt).itemsize, dt)
    seg = seg_v[vx]
    w = wb[seg]
    row = pos[seg] + _ranges(np.zeros_like(cnt_x), cnt_x) * w
    cols = np.arange(8)
    take = cols < w[:, None]
    full = np.zeros((len(seg), 8), np.uint8)
    full[take] = data[(row[:, None] + cols)[take]]
    xors = np.zeros(len(vx), np.uint64)
    xors[vx] = full.view("<u8").ravel() << tz[seg]

    # per point: ts0 at a series' first point, delta0 at its second,
    # then the dods; two prefix sums give deltas, then timestamps
    N = int(n.sum())
    first = _starts(n)
    step = np.zeros(N, np.int64)
    step[first[h2] + 1] = delta0[h2]
    step[_ranges(first + 2, m_ts)] = dod
    step = _segmented_scan(np.add, step, n)
    step[first[h1]] = ts0[h1]
    ts = _segmented_scan(np.add, step, n)
    bits = np.zeros(N, np.uint64)
    bits[first[h1]] = v0[h1]
    bits[_ranges(first + 1, m_vx)] = xors
    return n, ts, _segmented_scan(np.bitwise_xor, bits, n).view(np.float64)


# ------------------------------------------------------------- Spark layer
ENCODED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("bucket_start", T.TimestampType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def compress_buckets(points: DataFrame, coarse: str = "hour",
                     ts_col: str = "ts",
                     value_col: str = "value") -> DataFrame:
    """points (conv_id, ts, value) → one Gorilla payload per
    (conv_id, coarse bucket). collect_list is bounded by the coarse
    bucket (≤ bucket span of points per group), sorted in-plan. NULL
    values raise (a Gorilla payload has no NULL); filter them first."""
    # ship two PRIMITIVE arrays to Python, not an array of structs:
    # their flattened Arrow values are the encoder's flat inputs as
    # they are. Sorting happens on the struct (t-major), then the
    # columns are split JVM-side.
    grouped = (
        points.groupBy(
            "conv_id",
            F.date_trunc(coarse, F.col(ts_col)).alias("bucket_start"),
        )
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros(F.col(ts_col)).alias("t"),
                        F.col(value_col).cast("double").alias("v"),
                    )
                )
            ).alias("pts")
        )
        .select(
            "conv_id",
            "bucket_start",
            F.expr("transform(pts, p -> p.t)").alias("ts_us"),
            F.expr("transform(pts, p -> p.v)").alias("vals"),
        )
    )

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            vals = pc.list_flatten(rb.column("vals"))
            if vals.null_count:
                raise ValueError(
                    f"compress_buckets: {vals.null_count} NULL values in "
                    f"column {value_col!r}; filter them out before encoding")
            lengths = pc.list_value_length(rb.column("ts_us"))
            payloads = encode_batch_v2(
                lengths.to_numpy(),
                pc.list_flatten(rb.column("ts_us")).to_numpy(),
                vals.to_numpy(),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column("conv_id"), rb.column("bucket_start"),
                 pa.repeat("gorilla_dod_v2", rb.num_rows), lengths,
                 pa.array(payloads, pa.binary())],
                names=ENCODED_SCHEMA.names,
            )

    return grouped.mapInArrow(enc, schema=ENCODED_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def decompress_buckets(encoded: DataFrame) -> DataFrame:
    """Inverse of :func:`compress_buckets` — payload → point rows."""

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            lengths, ts_us, values = decode_batch_v2(rb.column("payload"))
            rows = np.repeat(np.arange(rb.num_rows), lengths)
            # ts is UTC micros by construction: Arrow timestamps carry
            # no session-time-zone localisation
            yield pa.RecordBatch.from_arrays(
                [rb.column("conv_id").take(rows),
                 pa.array(ts_us, pa.timestamp("us", tz="UTC")),
                 pa.array(values, pa.float64())],
                names=DECODED_SCHEMA.names,
            )

    return encoded.select("conv_id", "payload").mapInArrow(
        dec, schema=DECODED_SCHEMA)
