"""The per-conversation mean tier: the Spark builder and the DuckDB
SQL twin must agree row for row at every unit, including the NULL
rule — a NULL value drops out of its bucket's mean, and a bucket
whose values are all NULL has no row. Every mean is an exact binary
fraction, so the comparison needs no tolerance."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.functions.tiers import (
    mean_tier, mean_tier_sql,
)

ROWS = [  # (conv_id, ts, value)
    ("a", "2024-01-01 00:00:10", 1.0),
    ("a", "2024-01-01 00:00:40", None),
    ("a", "2024-01-01 00:00:50", 2.0),
    ("a", "2024-01-01 00:20:00", 3.0),
    ("a", "2024-01-01 01:30:00", 4.0),
    ("b", "2024-01-01 23:59:59", 8.0),
    # all-NULL bucket at every unit
    ("b", "2024-01-02 10:00:00", None),
]

EXPECTED = {
    "minute": [("a", "2024-01-01 00:00:00", 1.5),
               ("a", "2024-01-01 00:20:00", 3.0),
               ("a", "2024-01-01 01:30:00", 4.0),
               ("b", "2024-01-01 23:59:00", 8.0)],
    "hour": [("a", "2024-01-01 00:00:00", 2.0),
             ("a", "2024-01-01 01:00:00", 4.0),
             ("b", "2024-01-01 23:00:00", 8.0)],
    "day": [("a", "2024-01-01 00:00:00", 2.5),
            ("b", "2024-01-01 00:00:00", 8.0)],
}


@pytest.mark.parametrize("unit", sorted(EXPECTED))
def test_mean_tier_matches_sql(spark, unit):
    series = spark.createDataFrame(
        ROWS, "conv_id string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sorted(
        tuple(r) for r in mean_tier(series, unit).select(
            "conv_id",
            F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss"),
            "mean_v").collect())

    con = duckdb.connect()
    pdf = pd.DataFrame(ROWS, columns=["conv_id", "ts", "value"])
    con.register("series", pdf.assign(ts=pd.to_datetime(pdf["ts"])))
    want = sorted(con.execute(
        f"WITH {mean_tier_sql('t', 'series', unit)} "
        "SELECT conv_id, strftime(bucket_start, '%Y-%m-%d %H:%M:%S'), "
        "mean_v FROM t").fetchall())

    assert got == want == EXPECTED[unit]
