"""The numpy rounding twin must round exactly like Spark's
``portable_round``: the streaming kernels emit values that are compared
bit-for-bit with the batch operators'. The quantized ordering key must
be the same integer on Spark and in DuckDB."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.functions.portable import (
    np_portable_round,
    portable_key,
    portable_key_sql,
    portable_round,
)


def test_np_portable_round_matches_spark(spark):
    vals = [
        # .5-at-scale ties: the epsilon must push each one up
        46.23125, 0.00005, 1.23445, 2.5e-5, 999999.99995, 0.5, 1e-4,
        # negatives: rounded half away from zero after the epsilon
        -46.23125, -0.00005, -1.23445, -2.5e-5, -999999.99995,
        -3.14159, -0.49999,
        # zero, values near 1e6, and doubles just off a tie
        0.0, -0.0, 1e6, 999999.12344999, 1000000.00005, -1000000.00005,
        0.49999999999999994e-4, 0.1 + 0.2, 123456.78905,
    ]
    rng = np.random.default_rng(3)
    for hi in (10.0, 1e6):  # 5-decimal values: every tenth is a tie
        vals += rng.uniform(-hi, hi, 200).round(5).tolist()
    rows = (
        spark.createDataFrame([(float(v),) for v in vals], "x double")
        .select("x", portable_round(F.col("x")).alias("r"),
                portable_key(F.col("x")).alias("k"))
        .collect()
    )
    got = np_portable_round(np.array([r.x for r in rows]))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, r.x) for i, r in enumerate(rows)])
    keys = con.execute(
        f"SELECT {portable_key_sql('x')} FROM t ORDER BY i").fetchall()
    for r, g, (k,) in zip(rows, got, keys):
        assert g == r.r, (r.x, r.r, g)
        assert float(np_portable_round(r.x)) == r.r, r.x
        assert k == r.k, (r.x, r.k, k)
