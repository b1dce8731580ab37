"""Local correctness harness — mimics the driver's DuckDB-oracle gate.

Runs every REGISTRY query on Spark and (when an oracle exists) the paired
SQL on DuckDB over the same parquet tables, then compares row count, column
names, and exact values (sorted columns, sorted rows).  Strictly exact:
float64 values must match bit-for-bit, which the registry's float
discipline is designed to guarantee.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qcfractal_spark.catalog import TABLES
from qcfractal_spark.queries import REGISTRY
from qcfractal_spark.session import build_session


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s) or str(s.dtype).startswith("UInt"):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif s.dtype == object:
            # decimals / dates / lists → canonical string
            df[c] = s.map(lambda v: repr(v) if isinstance(v, (list, tuple)) else v)
            try:
                df[c] = pd.to_numeric(df[c])
                if pd.api.types.is_float_dtype(df[c]):
                    df[c] = df[c].astype("float64")
                else:
                    df[c] = df[c].astype("Int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        # The driver's value hash is TYPE-sensitive: an int64 Spark column
        # vs a float64 oracle column (DuckDB SUM(BIGINT) → HUGEINT →
        # fetchdf float64) hashes differently even when the values are
        # numerically equal.  Mirror that rule here so local checks
        # predict driver stamps (r7 lesson: pk_length_buckets /
        # v1_variant_rollup passed locally, failed the driver).
        a_int = pd.api.types.is_integer_dtype(a[c])
        b_int = pd.api.types.is_integer_dtype(b[c])
        a_flt = pd.api.types.is_float_dtype(a[c])
        b_flt = pd.api.types.is_float_dtype(b[c])
        if (a_int and b_flt) or (a_flt and b_int):
            problems.append(
                f"col {c}: dtype divergence spark={a[c].dtype} duck={b[c].dtype} "
                "(int-vs-float fails the driver's typed hash; CAST the oracle)"
            )
            continue
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            eq = np.array_equal(av.astype(np.float64), bv.astype(np.float64), equal_nan=True)
            if not eq:
                diffs = np.where(
                    ~((av == bv) | (pd.isna(av) & pd.isna(bv)))
                )[0]
                ex = diffs[:3]
                problems.append(
                    f"col {c}: {len(diffs)} mismatches e.g. "
                    + "; ".join(f"[{i}] {av[i]!r} vs {bv[i]!r}" for i in ex)
                )
        else:
            neq = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
            if neq.any():
                idx = list(a.index[neq][:3])
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches e.g. "
                    + "; ".join(f"[{i}] {a[c][i]!r} vs {b[c][i]!r}" for i in idx)
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session("qcfractal-spark-check", master="local[8]", shuffle_partitions=8)
    con = duck_connection(sf_dir)
    failures = 0
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        sql = q.sql
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        t1 = time.time()
        if sql is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{t1 - t0:.1f}s]")
            continue
        try:
            ddf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = compare(sdf, ddf)
        t2 = time.time()
        if problems:
            failures += 1
            print(f"FAIL  {name} [{t1 - t0:.1f}s/{t2 - t1:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"PASS  {name}: {len(sdf)} rows [{t1 - t0:.1f}s/{t2 - t1:.1f}s]")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
