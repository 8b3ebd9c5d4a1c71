#!/usr/bin/env python
"""Normalize .explain("formatted") output for plan-identity diffs.

The r15/r16 construction campaigns (Column chains → parsed SQL
strings) are gated on a NORMALIZED EXECUTED-PLAN DIFF: the converted
builder must produce a byte-identical plan modulo the identifiers that
differ between any two constructions of the same query — expression
ids (#123), plan ids, lambda variable names, checkpoint RDD ids,
subquery/CTE numbering, the random suffix of streaming work dirs.
This script is that normalizer, committed so the gate is
reproducible. Not masked: the column order of a distinct-aggregate
``Expand``, which follows expression-id hashes and so drifts with the
JVM's history: a full-registry dump can differ from a dump of one
query, or from another full dump of the same code. Four queries have
such an ``Expand``: ``agg_exact_distinct_counts``,
``agg_approx_distinct_counts``, ``dq_column_profile`` and
``q21_sole_late_supplier``. Re-dump those four on both sides with
``scripts/dump_plans.py DIR --only <names>`` before reading a
full-registry diff.

Usage:
  python scripts/plan_normalize.py a.txt b.txt      # diff → exit 0/1
  python scripts/plan_normalize.py a.txt            # print normalized
"""

from __future__ import annotations

import re
import sys


def normalize(text: str) -> str:
    t = text
    t = re.sub(r"#\d+L?", "#x", t)           # expression ids
    t = re.sub(r"plan_id=\d+", "plan_id=x", t)
    # lambda variable NAMES are construction artifacts: F.zip_with
    # names them x/y_2/acc..., SQL lambdas use the source names —
    # semantics identical (they are bound variables)
    t = re.sub(r"lambda [A-Za-z_]\w*#", "lambda v#", t)
    t = re.sub(r"lambda [A-Za-z_]\w*", "lambda v", t)
    t = re.sub(r"\blambdavariable\(\w+, ", "lambdavariable(v, ", t)
    t = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[x]", t)
    t = re.sub(r"cte \[\d+\]", "cte [x]", t)
    t = re.sub(r"Subquery subquery\d+", "Subquery subqueryx", t)
    t = re.sub(r"scalar-subquery#x \[id=#?\w+\]", "scalar-subquery", t)
    t = re.sub(r"exprId=\d+", "exprId=x", t)
    t = re.sub(r"StatsEstimation\S*", "", t)
    # the random tempfile.mkdtemp suffix of a streaming query's work
    # dir (queries/streaming.py `_stream_workdir`, prefixes stream_*_)
    t = re.sub(r"\b(stream_[a-z]+_)[a-z0-9_]{8}/", r"\1x/", t)
    return t


def main() -> int:
    a = normalize(open(sys.argv[1]).read())
    if len(sys.argv) == 2:
        sys.stdout.write(a)
        return 0
    b = normalize(open(sys.argv[2]).read())
    if a == b:
        print("PLAN IDENTICAL")
        return 0
    import difflib

    for line in difflib.unified_diff(
        a.splitlines(), b.splitlines(), lineterm="", n=1
    ):
        print(line)
    print("PLAN DIFFERS")
    return 1


if __name__ == "__main__":
    sys.exit(main())
