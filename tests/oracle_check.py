"""Local replica of the driver's DuckDB-oracle harness.

Runs each ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and order-insensitive values (floats rounded, timestamps stringified) —
the same contract CORRECTNESS_r{N}.json grades.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_df, oracle_pdf: pd.DataFrame, name: str) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    spark_pdf = spark_df.toPandas()
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"{name}: row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"{name}: columns {s_cols} vs oracle {o_cols}")
        return problems
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if len(a) == len(b):
        for c in a.columns:
            if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
                close = (
                    (a[c].isna() & b[c].isna())
                    | ((a[c] - b[c]).abs() <= 1e-6 + 1e-6 * b[c].abs())
                )
                if not close.all():
                    bad = (~close).idxmax()
                    problems.append(
                        f"{name}: column {c} differs, e.g. row {bad}: "
                        f"{a[c][bad]!r} vs {b[c][bad]!r}"
                    )
            else:
                if not a[c].equals(b[c]):
                    neq = a[c] != b[c]
                    bad = neq.idxmax()
                    problems.append(
                        f"{name}: column {c} differs, e.g. row {bad}: "
                        f"{a[c][bad]!r} vs {b[c][bad]!r}"
                    )
    return problems


def run_check(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    con = duckdb_conn(sf_dir)
    results: dict[str, list[str]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            results[name] = [f"{name}: SPARK ERROR {type(e).__name__}: {e}"]
            continue
        if name not in oracles:
            try:
                n = sdf.count()
                results[name] = [] if n >= 0 else [f"{name}: negative count?"]
            except Exception as e:  # noqa: BLE001
                results[name] = [f"{name}: SPARK ERROR {type(e).__name__}: {e}"]
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            results[name] = [f"{name}: ORACLE ERROR {type(e).__name__}: {e}"]
            continue
        try:
            results[name] = compare(sdf, opdf, name)
        except Exception as e:  # noqa: BLE001
            results[name] = [f"{name}: COMPARE ERROR {type(e).__name__}: {e}"]
    return results


if __name__ == "__main__":
    import argparse
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import pathwaydataframework_spark as pw

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    spark = pw.get_spark(cpus=16)
    res = run_check(spark, args.sf, args.only)
    n_bad = 0
    for name, probs in sorted(res.items()):
        if probs:
            n_bad += 1
            print(f"FAIL {name}")
            for p in probs:
                print(f"   {p}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(res) - n_bad}/{len(res)} passing")
    spark.stop()
    sys.exit(1 if n_bad else 0)
