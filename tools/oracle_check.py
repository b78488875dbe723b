#!/usr/bin/env python
"""Local mirror of the driver's correctness gate: run every queries() entry
in Spark and its oracle_sql() in DuckDB on the same parquet tables, then
compare row count, column names, and order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize types for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        return [f"row count {len(spark_df)} != oracle {len(oracle_df)}"]
    a, b = normalize(spark_df), normalize(oracle_df)
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} != oracle {list(b.columns)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = av.astype(float)
            bv = bv.astype(float)
            bad = ~(
                (av.isna() & bv.isna())
                | (av == bv)
                | ((av - bv).abs() <= 1e-9 * bv.abs().clip(lower=1.0))
            )
            exact_bad = int(((av != bv) & ~(av.isna() & bv.isna())).sum())
            if bad.any():
                i = bad.idxmax()
                problems.append(
                    f"col {c}: {int(bad.sum())} rows differ beyond 1e-9 "
                    f"(e.g. {av[i]} vs {bv[i]})"
                )
            elif exact_bad:
                problems.append(
                    f"col {c}: OK within 1e-9 but {exact_bad} rows not bit-exact "
                    f"(hash compare may fail)"
                )
        else:
            eq = (av.astype(object).where(pd.notna(av), None)
                  == bv.astype(object).where(pd.notna(bv), None))
            # pandas object-equality treats missing == missing as False;
            # both-null cells are a match
            eq = eq | (av.isna() & bv.isna())
            if not eq.all():
                i = (~eq).idxmax()
                problems.append(f"col {c}: values differ (e.g. {av[i]!r} vs {bv[i]!r})")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from openpolicedata_spark import get_spark

    # OPD_ORACLE_CORES / OPD_ORACLE_PARTITIONS override the session shape
    # for partitioning-invariance sweeps: every query's answer must be
    # identical under any parallelism (the DECIMAL-sum / tiebreak design
    # guarantee) — run once with e.g. OPD_ORACLE_PARTITIONS=17 to prove it
    cores = os.environ.get("OPD_ORACLE_CORES", "8")
    parts = int(os.environ.get("OPD_ORACLE_PARTITIONS", "8"))
    spark = get_spark(shuffle_partitions=parts, master=f"local[{cores}]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    # `only` entries may be full names or prefixes (e.g. "q28");
    # unmatched selectors are an error, not a silent no-op
    if only:
        matched = {name for name in qs
                   if any(name.startswith(sel) for sel in only)}
        unmatched = {sel for sel in only
                     if not any(n == sel or n.startswith(sel)
                                for n in qs)}
        if unmatched:
            print(f"ERROR: selectors match no query: {sorted(unmatched)}")
            return 2
    for name, fn in qs.items():
        if only and name not in matched:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows "
                  f"(cols: {list(sdf.columns)})")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"OK   {name}: {len(sdf)} rows match")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
