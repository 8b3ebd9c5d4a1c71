#!/usr/bin/env python
"""Capture .explain("formatted") for declared queries (r15 measurement).

Usage:
    python scripts/dump_plans.py out_dir [--sf DIR] [--only a,b,c] [--audit]

Writes one ``<query>.txt`` per query (plan only, no execution) and, with
``--audit``, an ``audit.json`` summarizing plan-shape red flags per
query: Exchange count, Python-eval nodes, join strategies, scans whose
PushedFilters are empty while the query filters, cartesian products.
The bench/oracle contract is untouched — this is read-only tooling.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit_one(text: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", text))
        - len(re.findall(r"\bReusedExchange\b", text)),
        "reused_exchanges": len(re.findall(r"\bReusedExchange\b", text)),
        "sort_merge_joins": len(re.findall(r"\bSortMergeJoin\b", text)),
        "broadcast_joins": len(re.findall(r"\bBroadcastHashJoin\b", text)),
        "shuffled_hash_joins": len(re.findall(r"\bShuffledHashJoin\b", text)),
        "nested_loop": len(re.findall(r"BroadcastNestedLoopJoin", text)),
        "cartesian": len(re.findall(r"CartesianProduct", text)),
        "python_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", text)
        ),
        "scans": len(re.findall(r"Scan parquet", text)),
        "empty_pushed": len(re.findall(r"PushedFilters: \[\]", text)),
        "window": len(re.findall(r"\bWindow\b", text)),
        "sorts": len(re.findall(r"\bSort \[", text)),
        "aqe": "AdaptiveSparkPlan" in text,
    }


def main() -> int:
    out_dir = sys.argv[1]
    sf_dir = "/root/testdata/sf0.1"
    only = None
    do_audit = "--audit" in sys.argv
    for i, a in enumerate(sys.argv):
        if a == "--sf":
            sf_dir = sys.argv[i + 1]
        if a == "--only":
            only = sys.argv[i + 1].split(",")
    os.makedirs(out_dir, exist_ok=True)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    # Python workers import mldag_spark too (UDF queries), whatever
    # directory the script runs from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    from mldag_spark.session import recommended_session_confs

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("plan-dump")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # engine-contract confs from the package's single definition
        # (r16, VERDICT r15 #2): AQE, bucketed-scan ordering, subset
        # co-partition reuse — identical to the bench/tests sessions
        .config(map=recommended_session_confs())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = only if only else list(qs)
    audit = {}
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            text = plan_text(df)
        except Exception as e:
            text = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text)
        if do_audit and not text.startswith("ERROR"):
            audit[name] = audit_one(text)
        elif do_audit:
            audit[name] = {"error": text[:200]}
    if do_audit:
        with open(os.path.join(out_dir, "audit.json"), "w") as f:
            json.dump(audit, f, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
