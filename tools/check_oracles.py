"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same sf dir; compare
row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(name: str, spark_pd: pd.DataFrame, duck_pd: pd.DataFrame) -> list[str]:
    errs = []
    if len(spark_pd) != len(duck_pd):
        errs.append(f"rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        errs.append(
            f"columns spark={sorted(spark_pd.columns)} duck={sorted(duck_pd.columns)}"
        )
        return errs
    a, b = normalize(spark_pd), normalize(duck_pd)
    if len(a) == len(b):
        neq = (a.astype(str) != b.astype(str)).any(axis=1)
        n_bad = int(neq.sum())
        if n_bad:
            idx = neq[neq].index[:3]
            errs.append(
                f"{n_bad} mismatched rows; first diffs:\n"
                f"spark:\n{a.loc[idx]}\nduck:\n{b.loc[idx]}"
            )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from granulate_char_ocr_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from granulate_char_ocr_spark.driver_queries import (
        ORACLE_SF_NAME,
        SF_PINNED_ORACLES,
        sf_name_of,
    )

    sf_name = sf_name_of(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    if sf_name != ORACLE_SF_NAME:
        # golden-backed oracles are pinned to the driver's compare tier —
        # at any other tier run them rows-only instead of false-failing
        n_pinned = len(SF_PINNED_ORACLES & oracles.keys())
        print(
            f"NOTE: sf tier {sf_name!r} != {ORACLE_SF_NAME!r} — {n_pinned} "
            "golden-pinned oracles downgraded to rows-only for this run"
        )
        oracles = {k: v for k, v in oracles.items() if k not in SF_PINNED_ORACLES}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pd = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"[FAIL] {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            # replicate the driver's canonicalizer even without an oracle:
            # it sorts every result column in pandas and dies on unhashable
            # cells (array<struct> columns) — r1's invisible-locally failure
            try:
                normalize(spark_pd)
            except Exception as ex:
                print(f"[FAIL] {name}: uncanonicalizable result: {ex}")
                failed.append(name)
                continue
            print(f"[rows-only] {name}: {len(spark_pd)} rows")
            continue
        try:
            duck_pd = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"[FAIL] {name}: duckdb error: {str(ex)[:300]}")
            failed.append(name)
            continue
        errs = compare(name, spark_pd, duck_pd)
        if errs:
            print(f"[FAIL] {name}:")
            for er in errs:
                print("   ", er)
            failed.append(name)
        else:
            print(f"[ok] {name}: {len(spark_pd)} rows")
    print()
    if failed:
        print("FAILED:", failed)
        return 1
    print("ALL ORACLE CHECKS PASSED")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
