#!/usr/bin/env python
"""Stage-level wall/metric attribution for one query (guide §1.1/§7.1).

Runs a named registry query N times through the noop sink with the
Spark UI enabled, then scrapes the UI REST API for per-stage wall
time, shuffle bytes, and task counts of the LAST run, printing a
table sorted by stage wall. Read-only tooling; not part of the bench.

Usage: python scripts/probe_stage_attribution.py <query> [--sf DIR] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def main() -> int:
    name = sys.argv[1]
    sf_dir = "/root/testdata/sf0.1"
    runs = 2
    for i, a in enumerate(sys.argv):
        if a == "--sf":
            sf_dir = sys.argv[i + 1]
        if a == "--runs":
            runs = int(sys.argv[i + 1])

    import sys as _sys, os as _os
    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    from mldag_spark.session import recommended_session_confs

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("stage-attribution")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # engine-contract confs from the package's single definition
        # (r16, VERDICT r15 #2): AQE, bucketed-scan ordering, subset
        # co-partition reuse — identical to the bench/tests sessions
        .config(map=recommended_session_confs())
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from mldag_spark.materialize import scope

    qs = entrymod.queries()
    walls = []
    marks = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"{name} run {i}")
        with scope():
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            walls.append(round(time.time() - t0, 3))
        marks.append(time.time())

    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4049/api/v1/applications/{app_id}/stages?status=complete"
    stages = json.load(urllib.request.urlopen(url))
    # keep only stages submitted during the LAST run
    t_start = marks[-2] if len(marks) > 1 else 0

    def ts(s):
        from datetime import datetime, timezone

        return (
            datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )

    rows = []
    for st in stages:
        sub = ts(st["firstTaskLaunchedTime"]) if st.get("firstTaskLaunchedTime") else 0
        if sub < t_start - 0.5:
            continue
        dur = (
            ts(st["completionTime"]) - sub
            if st.get("completionTime") and sub
            else 0
        )
        rows.append(
            {
                "stage": st["stageId"],
                "wall_s": round(dur, 3),
                "tasks": st["numCompleteTasks"],
                "in_mb": round(st["inputBytes"] / 1e6, 2),
                "sh_r_mb": round(st["shuffleReadBytes"] / 1e6, 2),
                "sh_w_mb": round(st["shuffleWriteBytes"] / 1e6, 2),
                "cpu_s": round(st["executorCpuTime"] / 1e9, 2),
                "runtime_s": round(st["executorRunTime"] / 1e3, 2),
                "desc": st["description"][:40] if st.get("description") else "",
                "name": st["name"].split("\n")[0][:60],
            }
        )
    rows.sort(key=lambda r: -r["wall_s"])
    print(json.dumps({"query": name, "walls": walls}, indent=None))
    hdr = ["stage", "wall_s", "tasks", "in_mb", "sh_r_mb", "sh_w_mb", "cpu_s", "runtime_s", "name"]
    print("\t".join(hdr))
    for r in rows:
        print("\t".join(str(r[h]) for h in hdr))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
