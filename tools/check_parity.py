#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, schema (canonicalized dtypes), and order-insensitive
values. Exact comparison — even for floats — because the queries are
engineered for bit-identical cross-engine results; any tolerance would
hide parity bugs the real driver might count as failures.

Usage:
    python tools/check_parity.py [--sf-dir /root/testdata/sf0.01] [--only name[,name]]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``TABLES`` parquet in *sf_dir*."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows.

    The DRIVER's canonicalizer sorts the raw pandas frame BEFORE any
    stringification, so an ARRAY/MAP/STRUCT output column crashes it
    with ``unhashable type`` (the exact round-7 ``contract_gate`` red
    row). Reproduce that here first — a query that would crash the
    driver must fail locally too, not slip through a more permissive
    stringify-first canon."""
    df = df[sorted(df.columns)].copy()
    df.sort_values(list(df.columns), na_position="last")  # driver-crash repro
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype("string")
    return df.sort_values(list(df.columns), ignore_index=True, na_position="last")


def compare(name: str, s: pd.DataFrame, d: pd.DataFrame) -> list[str]:
    problems = []
    if len(s) != len(d):
        problems.append(f"row count spark={len(s)} duckdb={len(d)}")
    if sorted(s.columns) != sorted(d.columns):
        problems.append(f"columns spark={sorted(s.columns)} duckdb={sorted(d.columns)}")
        return problems
    # Strict pre-canonicalization dtype report (warning only): the real
    # driver's schema compare may be stricter than our canon() upcasts.
    raw_s = {c: str(s[c].dtype) for c in s.columns}
    raw_d = {c: str(d[c].dtype) for c in d.columns}
    strict_diff = {
        c: (raw_s[c], raw_d[c]) for c in raw_s if raw_s.get(c) != raw_d.get(c)
    }
    if strict_diff:
        print(f"      ~ {name}: raw dtype diff (pre-canon): {strict_diff}")
    cs, cd = canon(s), canon(d)
    dtypes_s = {c: str(cs[c].dtype) for c in cs.columns}
    dtypes_d = {c: str(cd[c].dtype) for c in cd.columns}
    if dtypes_s != dtypes_d:
        diff = {c: (dtypes_s[c], dtypes_d[c]) for c in dtypes_s if dtypes_s[c] != dtypes_d[c]}
        problems.append(f"dtypes differ (post-canon): {diff}")
    if problems:
        return problems
    if len(cs) == len(cd):
        neq = (cs.fillna("\0NULL") != cd.fillna("\0NULL")).any(axis=1)
        n_bad = int(neq.sum())
        if n_bad:
            idx = neq[neq].index[:3]
            sample = pd.concat(
                [cs.loc[idx].add_suffix("_spark"), cd.loc[idx].add_suffix("_duck")], axis=1
            )
            problems.append(f"{n_bad} mismatching rows; sample:\n{sample.to_string()}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    # Partition-invariance lever: every battery result is engineered to be
    # identical under ANY parallelism/partitioning (decimal accumulators,
    # superkey windows, md5 ordering). Running the full battery at an odd
    # partition count (e.g. --cpus 3 --shuffle-partitions 5) exercises
    # exactly the cross-partition reorderings a cluster would produce.
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from python_etl_mailing_automation_spark.session import build_spark

    spark = build_spark(
        master=f"local[{args.cpus}]", shuffle_partitions=args.shuffle_partitions
    )
    con = oracle_connection(args.sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(sdf)} (no oracle, rows-only check)  [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL  {name}: duckdb raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name}  [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      - {p}")
            n_fail += 1
        else:
            print(f"pass  {name}: rows={len(sdf)}  [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
