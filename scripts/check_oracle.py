"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given sf dir and
compares against ``oracle_sql()`` via DuckDB: row count, column-name
set, and order-insensitive canonical value comparison. Floats are
compared exactly (queries pre-round to 4 decimals on both sides) with
a fallback tolerance report so near-misses are visible. A query with
no oracle fails.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            # unify int widths EXACTLY (int64) — float64 would round
            # away the low ~11 bits of full-range int64 values (64-bit
            # simhash signatures) and mask real mismatches as OK; the
            # float fallback only for nullable ints, which can't hold
            # exact-int-sensitive values anyway
            df[c] = s.astype("float64") if s.isna().any() \
                else s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def dtype_kind(s: pd.Series) -> str:
    """Coarse dtype class that must agree between engines — the driver's
    value-hash canonicalizes int64 and float64 differently, so a DuckDB
    HUGEINT (fetched as float64/object) against a Spark int64 fails the
    driver gate even when values are exact."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "obj"


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    sk = {c.lower(): dtype_kind(spark_pdf[c]) for c in spark_pdf.columns}
    dk = {c.lower(): dtype_kind(duck_pdf[c]) for c in duck_pdf.columns}
    kind_mism = [
        f"{c}: spark={sk[c]} duck={dk[c]}"
        for c in sorted(set(sk) & set(dk))
        if sk[c] != dk[c]
    ]
    a, b = canon(spark_pdf), canon(duck_pdf)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA MISMATCH spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}"
    bad = 0
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f":
            neq = ~(
                (np.isnan(x) & np.isnan(y))
                | (x == y)
            )
        else:
            neq = x != y
        n = int(neq.sum())
        if n:
            i = int(np.argmax(neq))
            bad += n
            print(f"    col {c}: {n} diffs, first: spark={x[i]!r} duck={y[i]!r}")
    if bad == 0 and kind_mism:
        return f"DTYPE MISMATCH ({'; '.join(kind_mism)})"
    return "OK" if bad == 0 else f"{bad} VALUE DIFFS"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from yahoo_anomaly_detection_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    from yahoo_anomaly_detection_spark import caching

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            print(f"{name}: NO ORACLE")
            failures.append(name)
            continue
        t0 = time.time()
        # release in finally: an erroring query (which may have
        # already persisted shingle relations / CC localCheckpoints)
        # must not leak its blocks into every later query's timings
        try:
            try:
                spark_pdf = fn(spark, sf_dir).toPandas()
            except Exception as e:
                print(f"{name}: SPARK ERROR {e}")
                failures.append(name)
                continue
            try:
                duck_pdf = con.execute(oracles[name]).fetchdf()
            except Exception as e:
                print(f"{name}: DUCKDB ERROR {str(e)[:200]}")
                failures.append(name)
                continue
            verdict = compare(name, spark_pdf, duck_pdf)
            print(f"{name}: {verdict} ({len(spark_pdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            if verdict != "OK":
                failures.append(name)
        finally:
            caching.release_all()  # free operator-internal caches
            caching.release_orphan_rdds(spark)  # sweep localCheckpoints
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
