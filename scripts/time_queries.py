#!/usr/bin/env python
"""Light per-query timing harness for optimization iteration (r15).

Times named queries via the noop sink (guide §1.4), min-of-N after a
warmup pass, with the bench's codegen probe stamped per pass so a
reading can be discarded when the host degrades mid-measurement.
NOT the official bench — bench.py stays the driver contract.

Usage:
    python scripts/time_queries.py q1,q2,... [--sf DIR] [--repeats N]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    names = sys.argv[1].split(",")
    sf_dir = "/root/testdata/sf0.1"
    repeats = 3
    for i, a in enumerate(sys.argv):
        if a == "--sf":
            sf_dir = sys.argv[i + 1]
        if a == "--repeats":
            repeats = int(sys.argv[i + 1])

    import sys as _sys, os as _os
    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    from mldag_spark.session import recommended_session_confs

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("time-queries")
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

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from bench import codegen_probe

    qs = entrymod.queries()

    # warmup: compile every plan once at the timing sf
    for n in names:
        spark.sparkContext.setJobDescription(f"warmup {n}")
        try:
            qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as e:
            print(f"warmup error {n}: {e}", file=sys.stderr)

    runs: dict[str, list[float]] = {n: [] for n in names}
    probes = []
    for _ in range(repeats):
        probes.append(codegen_probe(spark))
        for n in names:
            spark.sparkContext.setJobDescription(f"time {n}")
            t0 = time.time()
            try:
                qs[n](spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs[n].append(round(time.time() - t0, 3))
            except Exception as e:
                print(f"error {n}: {e}", file=sys.stderr)
                runs[n].append(-1.0)
    out = {
        "sf_dir": sf_dir,
        "mins": {
            n: (min(ok) if (ok := [t for t in ts if t >= 0]) else -1.0)
            for n, ts in runs.items()
        },
        "runs": runs,
        "probes": probes,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
