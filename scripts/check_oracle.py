#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [--sf DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from pathlib import Path

import duckdb

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(df):
    """pandas frame → sorted-rows/sorted-columns list of tuples."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        # Type-tagged so 236.0 (DuckDB HUGEINT->float64) != 236 (Spark
        # bigint) — mirrors the driver's dtype-sensitive value hash.
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return ("f", round(v, 6))
        import numpy as np

        if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
            return ("i", int(v))
        return v

    rows = [
        tuple(norm_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--cpus", default="8")
    args = ap.parse_args()

    # Python workers import mldag_spark too (UDF queries), whatever
    # directory the script runs from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entrymod
    from mldag_spark.session import recommended_session_confs
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        # the engine's session confs, so the gate checks the plans
        # every caller of recommended_session_confs() runs
        .config(map=recommended_session_confs())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # default driver heap on purpose — see bench.py note on the
        # large-heap JVM freeze on this host
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({spark_t:.1f}s) [no oracle]")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(
                f"FAIL  {name}: columns {sorted(sdf.columns)} != "
                f"{sorted(odf.columns)}"
            )
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: rows {len(sdf)} != {len(odf)}")
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, e.g. {diff}")
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(sdf)} rows ({spark_t:.1f}s)")
        n_pass += 1

    print(
        f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail "
        f"(sf={args.sf})"
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
