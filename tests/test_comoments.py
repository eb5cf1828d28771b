"""Centered co-moment kernel: the Spark builder and the DuckDB SQL
generator must agree exactly on the edge cases every ported fit
relies on. Every group's means are exact binary fractions, so the
centered products and their sums are exact in any summation order
and the comparison needs no tolerance."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.functions.comoments import (
    PEARSON, Fit, comoments, comoments_sql, ols_slope, ols_slope_sql,
    pearson, pearson_sql,
)

ROWS = [  # (g, x, y, z, keep)
    # every row masked out of the Pearson fit
    ("empty", 1.0, 2.0, 0.5, False), ("empty", 3.0, 4.0, 1.5, False),
    ("one", 2.0, 5.0, 1.0, True),
    # zero variance on y only: r undefined, slope 0
    ("flat_y", 1.0, 7.0, 2.0, True), ("flat_y", 3.0, 7.0, 0.0, True),
    # NULL on one side only: masked out of the Pearson fit, counted
    # (but not summed) by the unmasked fit
    ("null_y", 1.0, 2.0, 1.0, True), ("null_y", 2.0, None, 3.0, True),
    ("null_y", 3.0, 6.0, 2.0, True), ("null_y", 5.0, 4.0, -2.0, True),
    ("g3", 1.0, 2.0, 3.0, True), ("g3", 2.0, 1.0, 0.0, True),
    ("g3", 4.0, 3.0, 1.0, True), ("g3", 5.0, 6.0, 0.0, True),
]
GRANGER = ("ya", "yb", "aa", "bb", "ab", "yy")


def _both(spark, spark_out, sql: str):
    df = spark.createDataFrame(
        ROWS, "g string, x double, y double, z double, keep boolean")
    got = sorted(tuple(r) for r in spark_out(df).collect())
    con = duckdb.connect()
    con.register("t", pd.DataFrame(ROWS, columns=list("gxyz") + ["keep"]))
    want = sorted(con.execute(sql).fetchall())
    assert got == want
    return {r[0]: r for r in got}


def test_masked_pearson_matches_sql(spark):
    cols = ["n_p", "mx_p", "my_p", "sxy_p", "sxx_p", "syy_p"]
    spark_fit = Fit({"x": F.col("x"), "y": F.col("y")},
                    F.col("keep") & F.col("x").isNotNull()
                    & F.col("y").isNotNull(), "_p")
    sql_fit = Fit({"x": "x", "y": "y"},
                  "keep AND x IS NOT NULL AND y IS NOT NULL", "_p")
    out = _both(
        spark,
        lambda df: comoments(df, ["g"], PEARSON, spark_fit, means=True)
        .select("g", *cols, pearson("_p").alias("r"),
                ols_slope(2, "_p").alias("slope")),
        "WITH "
        + comoments_sql("agg", "t", ["g"], PEARSON, sql_fit, means=True)
        + f" SELECT g, {', '.join(cols)}, {pearson_sql('_p')} AS r,"
        f" {ols_slope_sql(2, '_p')} AS slope FROM agg")
    assert out["empty"][1:] == (0, None, None, None, None, None, None, None)
    assert out["one"][1] == 1 and out["one"][-2:] == (None, None)
    assert out["flat_y"][-2:] == (None, 0.0)
    assert out["null_y"][1] == 3 and out["null_y"][-2:] == (0.5, 0.5)


def test_unmasked_three_variable_fit_matches_sql(spark):
    cols = ["n_g", "my_g", "ma_g", "mb_g"] + [f"s{p}_g" for p in GRANGER]
    out = _both(
        spark,
        lambda df: comoments(
            df, ["g"], GRANGER,
            Fit({"y": F.col("y"), "a": F.col("x"), "b": F.col("z")},
                suffix="_g"), means=True).select("g", *cols),
        "WITH " + comoments_sql(
            "agg", "t", ["g"], GRANGER,
            Fit({"y": "y", "a": "x", "b": "z"}, suffix="_g"), means=True)
        + f" SELECT g, {', '.join(cols)} FROM agg")
    # a NULL input is counted in n but drops out of its products
    assert out["null_y"][1] == 4 and out["null_y"][-1] == 8.0
    assert out["g3"][1:] == (4, 3.0, 3.0, 1.0, 10.0, -3.0, 10.0, 6.0, -5.0,
                             14.0)
