"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at sf=0.01 on Spark AND its oracle_sql() on
DuckDB (testdata parquet registered as views), compares row count,
column names, and order-insensitive values. Usage:

    python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(np.float64)
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype(np.int64)
        elif pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        else:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    return "object"


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        errs.append(f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return errs
    # the driver's value-hash is representation-sensitive: a DuckDB HUGEINT
    # (surfacing as float/object) vs a Spark LongType is a hash mismatch
    # even when values are equal — fail it here too, before coercion hides it
    for c in spark_pdf.columns:
        ks, kd = _kind(spark_pdf[c]), _kind(duck_pdf[c])
        if ks != kd:
            errs.append(f"dtype col {c}: spark={spark_pdf[c].dtype} ({ks}) duck={duck_pdf[c].dtype} ({kd})")
    if errs:
        return errs
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]):
                bad = ~np.isclose(a[c].fillna(-1e300), b[c].fillna(-1e300), rtol=0, atol=1e-9)
            else:
                bad = (a[c].fillna("~N") != b[c].fillna("~N")) if a[c].dtype == object else (a[c] != b[c])
            nbad = int(np.sum(bad))
            if nbad:
                i = int(np.argmax(np.asarray(bad)))
                errs.append(f"col {c}: {nbad} mismatches, first at row {i}: spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}")
    return errs


def main():
    import __spark_entry__ as E
    from hydra_spark.session import get_spark

    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    only = {a for a in args if not a.startswith("--")}
    if vanilla:
        # mimic the driver's environment: a DEFAULT SparkSession with none
        # of the repo session's confs (this is what exposed the INT96
        # parquet-footer-stats portability bug in round 4)
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master("local[16]")
                 .appName("check-vanilla").getOrCreate())
    else:
        spark = get_spark(cores=16, app_name="check")
    con = duck_con()
    qs, os_ = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"  WARNING: zero rows")
            continue
        try:
            ddf = con.sql(os_[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        errs = compare(name, sdf, ddf)
        if errs:
            n_fail += 1
            print(f"FAIL {name} ({len(sdf)} vs {len(ddf)} rows, {time.time()-t0:.1f}s)")
            for e in errs[:5]:
                print(f"  {e}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
