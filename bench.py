#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed as a full action (``df.write.format("noop")`` —
executes the whole plan without driver-side collection overhead).
"""

from __future__ import annotations

import json
import os
import sys
import time


# Clean-host anchor for the range(1e9) codegen probe: 0.34 s measured
# solo on this 32-cpu box (r8 investigation; see BASELINE.md). Pass
# probes are compared against this to gate/normalize query timings.
# r15 measurement-bug fix: the probe is all-cores work, so the anchor
# only holds at the core count it was measured at. The driver ALSO
# benches at a lower SPARK_GRAFT_CPUS to measure scaling; there a
# clean host reads ~(32/cpus)x the 32-core anchor, which made the
# dirty-pass gate sleep its full retry budget (300 s) EVERY pass and
# stamp honest passes as dirty. The default anchor now scales by
# 32/cpus (range(1e9) is embarrassingly parallel, near-linear on this
# box); at 32 cpus the value — and every prior round's line — is
# unchanged. SPARK_GRAFT_PROBE_ANCHOR still overrides verbatim.
PROBE_ANCHOR_SEC = 0.34
PROBE_ANCHOR_CPUS = 32
# Clean-host anchor for the shuffle-sensitive probe (min-of-2 of the
# 50M-row repartition(64) aggregate in host_calibration), measured on
# an idle box in the same session whose minhash sf0.1 wall matched the
# 4.49s r8 anchored wall (the validity check VERDICT r9 #3 prescribed).
# None disables the shuffle side of the pass gate (longitudinal-only,
# the r9 state). r10: anchored at 2.0s — an idle-host session whose
# codegen probe read 0.265-0.34 (== the clean anchor) and whose
# minhash sf0.1 wall read 3.15s (<= the 4.49s r8 anchored wall, the
# prescribed validity check) measured the 50M-row probe at 1.98-2.54s
# across 9 runs (min 1.978). The r9 degraded-epoch readings were
# 2.9-7.2s, so the 1.5x gate (3.0s) separates the two populations.
SHUFFLE_ANCHOR_SEC: float | None = 2.0

# The headline set: one per operator family, weighted toward the
# shuffling/joining queries that dominate at scale.
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "window_topk_orders_per_customer",
    "agg_rollup_flag_status",
    "events_sessionization",
    "events_asof_latest_order",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "ann_cosine_topk",
    # r6 additions: corpus-frequency boilerplate removal and bigram-LM
    # scoring (two shuffling corpus ops; the headline's job is to
    # track exactly this class round-over-round)
    "text_boilerplate_chunks",
    "text_bigram_surprisal",
)



def bench_layout(spark, sf_dir: str, repeats: int) -> dict:
    """Storage-layout on/off pair (VERDICT r2-r4 ask): the same scan and
    join measured over plain parquet vs the engine's layouts.

    - scan: one-month l_shipdate band + 2-column projection. The sorted
      layout (``write_sorted_layout``: range partition + within-file
      sort) clusters each date into a few row groups, so parquet
      min/max stats skip nearly the whole table; plain parquet has the
      band smeared across every row group and must read them all.
    - join: lineitem ⋈ orders on orderkey + aggregate, with broadcast
      disabled so BOTH variants pay the sort-merge path honestly: the
      bucketed tables (``write_bucketed_table``, same key + bucket
      count both sides) join with ZERO Exchange nodes — at 100 TB the
      difference between re-shuffling the fact table on every join and
      never shuffling it. A plan test pins the no-Exchange property;
      this measures its wall-clock worth.

    Layout writes happen once per bench run and are reported separately
    (write cost is amortized over every later query in production).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mldag_spark.sources import write_bucketed_table, write_sorted_layout

    work = tempfile.mkdtemp(prefix="bench_layout_")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    t0 = time.time()
    sorted_path = f"{work}/lineitem_sorted"
    write_sorted_layout(
        li, sorted_path, ["l_shipdate"], n_files=32,
        sort_within=["l_shipdate", "l_orderkey"],
    )
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS layout_bench LOCATION '{work}/wh'"
    )
    write_bucketed_table(
        li, "layout_bench.lineitem_b", ["l_orderkey"], 32,
        sort_cols=["l_orderkey"],
    )
    write_bucketed_table(
        orders, "layout_bench.orders_b", ["o_orderkey"], 32,
        sort_cols=["o_orderkey"],
    )
    write_sec = round(time.time() - t0, 3)

    lo, hi = "1995-03-01", "1995-04-01"

    def scan(df):
        return (
            df.filter(
                (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
            )
            .groupBy()
            .agg(F.sum("l_extendedprice").alias("s"), F.count("*").alias("n"))
        )

    def join(l, o):
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderstatus")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )

    li_sorted = spark.read.parquet(sorted_path)
    li_b = spark.table("layout_bench.lineitem_b")
    o_b = spark.table("layout_bench.orders_b")

    def timed(mk) -> float:
        best = float("inf")
        for _ in range(max(repeats, 2)):
            t = time.time()
            mk().write.mode("overwrite").format("noop").save()
            best = min(best, time.time() - t)
        return round(best, 3)

    out = {"layout_write_sec": write_sec}
    out["scan_plain"] = timed(lambda: scan(li))
    out["scan_sorted"] = timed(lambda: scan(li_sorted))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out["join_plain"] = timed(lambda: join(li, orders))
        out["join_bucketed"] = timed(lambda: join(li_b, o_b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    if out["scan_sorted"] > 0:
        out["scan_speedup"] = round(out["scan_plain"] / out["scan_sorted"], 2)
    if out["join_bucketed"] > 0:
        out["join_speedup"] = round(out["join_plain"] / out["join_bucketed"], 2)
    spark.sql("DROP DATABASE IF EXISTS layout_bench CASCADE")
    shutil.rmtree(work, ignore_errors=True)
    return out


def bench_shard_write(spark, sf_dir: str, repeats: int) -> dict:
    """Physical training-shard export (VERDICT r5 ask #5): materialize
    the deterministic global shuffle (shard_id, pos coordinates over
    ``documents``) through ``sources.write_training_shards`` and
    measure write throughput. The write runs twice and the per-shard
    file hashes are compared, so the bench row doubles as evidence of
    the byte-deterministic layout the loader contract promises
    (pinned at unit scale by test_sources)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from mldag_spark.queries import REGISTRY
    from mldag_spark.sources import write_training_shards

    work = tempfile.mkdtemp(prefix="bench_shards_")
    shuffled = REGISTRY["sample_global_shuffle"](spark, sf_dir)
    n_rows = shuffled.count()

    def one(out: str) -> tuple[float, dict]:
        t0 = time.time()
        write_training_shards(shuffled, out, "shard_id", "pos")
        dt = round(time.time() - t0, 3)
        hashes = {}
        for d in sorted(os.listdir(out)):
            if not d.startswith("shard_id="):
                continue
            # key by (dir, file INDEX): keying by dir alone kept only
            # the last file (multi-file shards would be vacuously
            # "deterministic"), and keying by file NAME never matches
            # across runs (part- names embed per-run UUIDs)
            files = sorted(
                f for f in os.listdir(os.path.join(out, d))
                if f.endswith(".parquet")
            )
            for i, f in enumerate(files):
                with open(os.path.join(out, d, f), "rb") as fh:
                    hashes[f"{d}/{i}"] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
        return dt, hashes

    try:
        times, all_hashes = [], []
        for i in range(max(repeats, 2)):
            dt, hashes = one(f"{work}/run{i}")
            times.append(dt)
            all_hashes.append(hashes)
        return {
            "write_sec": min(times),
            "rows": n_rows,
            "rows_per_sec": round(n_rows / min(times)),
            "n_shards": len({k.split("/")[0] for k in all_hashes[0]}),
            "deterministic": all(h == all_hashes[0] for h in all_hashes[1:]),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


# Same-session code A/B canary (VERDICT r10 #3). The official bench
# regressed 15.6% in r10 on code that did not change — both runs
# passed both probe gates, so the two-probe protocol demonstrably
# admits ~15% cross-round host variance it cannot see. The fix is a
# ratio, not another probe: check out the PREVIOUS round's code
# (CANARY_REF, refreshed at round close), import it alongside the
# current code, and run both versions of a small canary set
# INTERLEAVED in one Spark session. Host speed hits both versions
# identically and cancels in the ratio; only the code delta survives.
# Round-over-round verdicts should read canary_ratio_vs_prev
# (<1 = current code faster), not raw totals.
#
# The canary set must stay pure-JVM (no Python UDFs): Python workers
# resolve module functions BY NAME, so a prev-code pandas UDF would
# silently import the current module on the worker.
#
# r16 (VERDICT r15 #7): the canary covers the FULL headline set, not a
# 4-query sample — two consecutive rounds' raw totals were host-noise
# mis-verdicts that only the canary could arbitrate, and with 4 queries
# the q5/q6-class entries had no per-query code-only signal at all.
# All 15 are pinned Python-free by
# test_plans.py::test_no_python_udfs_in_jvm_paths (the canary
# precondition, enforced for every headline query). Harness-change
# declaration: the headline timing protocol, query set and JSON line
# are untouched — this only widens the diagnostic A/B that runs after
# the timed passes (adds ~3-4 min of bench wall at 32 cpus).
CANARY = HEADLINE


def _auto_canary_ref(commits, tree_of, head_tree: str) -> str | None:
    """The first of ``commits`` (round-close commits, newest first)
    whose ``mldag_spark`` tree (``tree_of(commit)``) differs from
    HEAD's. Round commits also snapshot a round's end, so the newest
    one can hold HEAD's very code — a canary against it would compare
    HEAD with itself. None when every candidate matches HEAD."""
    for c in commits:
        if tree_of(c) != head_tree:
            return c
    return None


def _load_prev_registry(workdir: str):
    """Materialize CANARY_REF via git-archive and import its
    mldag_spark package, restoring the current package in sys.modules
    afterwards. The returned callables keep the prev module objects
    alive through their __globals__, so both versions coexist."""
    import importlib
    import subprocess
    import tarfile

    repo = os.path.dirname(os.path.abspath(__file__))
    ref = ""
    try:
        ref = open(os.path.join(repo, "CANARY_REF")).readline().split()[0]
    except (OSError, IndexError):
        pass
    if not ref or ref == "auto":
        # auto-detect: every round ends with a "round N: ..." commit;
        # the newest one whose package differs from HEAD's holds the
        # previous code — no manual ref refresh needed
        def git(*args: str) -> str:
            return subprocess.run(
                ["git", *args], cwd=repo, capture_output=True, text=True,
                check=True,
            ).stdout.strip()

        ref = _auto_canary_ref(
            git("log", "--grep", "^round [0-9]*:", "--format=%h").split(),
            lambda r: git("rev-parse", f"{r}:mldag_spark"),
            git("rev-parse", "HEAD:mldag_spark"),
        )
        if ref is None:
            raise RuntimeError(
                "no round commit's mldag_spark differs from HEAD's"
            )
    tar_path = os.path.join(workdir, "prev.tar")
    with open(tar_path, "wb") as f:
        subprocess.run(
            ["git", "archive", ref, "mldag_spark"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            stdout=f, check=True,
        )
    with tarfile.open(tar_path) as t:
        t.extractall(workdir)

    saved = {
        k: v for k, v in sys.modules.items()
        if k == "mldag_spark" or k.startswith("mldag_spark.")
    }
    for k in saved:
        del sys.modules[k]
    sys.path.insert(0, workdir)
    try:
        importlib.invalidate_caches()
        prev_queries = importlib.import_module("mldag_spark.queries")
        registry = dict(prev_queries.REGISTRY)
    finally:
        sys.path.remove(workdir)
        for k in [
            m for m in sys.modules
            if m == "mldag_spark" or m.startswith("mldag_spark.")
        ]:
            del sys.modules[k]
        sys.modules.update(saved)
        importlib.invalidate_caches()
    return ref, registry


def bench_canary(spark, sf_dir: str, qs_current, repeats: int = 2) -> dict:
    """Interleaved prev-vs-current timing of CANARY; returns per-query
    mins for both versions plus the summed ratio."""
    import shutil
    import tempfile

    workdir = tempfile.mkdtemp(prefix="bench_canary_")
    try:
        ref, prev = _load_prev_registry(workdir)
        missing = [n for n in CANARY if n not in prev or n not in qs_current]
        names = [n for n in CANARY if n not in missing]

        def run(fn) -> float:
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            return round(time.time() - t0, 3)

        # Warm both versions at the TIMING sf to STEADY STATE: an
        # sf0.001-only warmup left the first timed version paying the
        # parquet page-cache cold read for both (measured: a spurious
        # 0.75 "speedup" for whichever ran second), and a fixed 2-run
        # warmup was not steady-state inside the full bench session
        # (the first in-bench canary ran right after the layout/shard
        # phases and every query trended 12.7 → 3.1s ACROSS the timed
        # blocks, biasing pooled medians 20% on identical code).
        # Steady = the latest interleaved round is within 15% of the
        # best seen, up to 4 rounds.
        best_seen = {n: float("inf") for n in names}
        for _ in range(4):
            stable = True
            for n in names:
                for fn in (prev[n], qs_current[n]):
                    try:
                        t = run(fn)
                    except Exception:
                        continue
                    if t > best_seen[n] * 1.15:
                        stable = False
                    best_seen[n] = min(best_seen[n], t)
            if stable:
                break

        # Estimator: ABBA blocks with PER-BLOCK sum ratios. Within a
        # block [A,B,B,A] (order flipping per block), a linear session
        # trend (a, a+d, a+2d, a+3d) contributes 2a+3d to BOTH
        # versions' sums, so the block ratio sum(B)/sum(A) is exactly
        # trend-free; the per-query median over blocks then rejects
        # burst-hit blocks. Three rejected designs, measured on
        # IDENTICAL code at sf0.1: min-per-version ratios read
        # 0.78-1.38 per query (a steal burst during one version's min
        # poisons the quotient), per-pair ratio medians read 0.86-1.22
        # (pair quotients compound two samples' noise), and pooled
        # per-version medians read 1.21 inside the full bench (biased
        # by the session trend the block sums cancel).
        import statistics

        prev_t: dict[str, list[float]] = {n: [] for n in names}
        cur_t: dict[str, list[float]] = {n: [] for n in names}
        block_ratios: dict[str, list[float]] = {n: [] for n in names}
        for rep in range(max(repeats, 2)):
            for n in names:
                a = (prev_t, prev[n])
                b = (cur_t, qs_current[n])
                block = [a, b, b, a] if rep % 2 == 0 else [b, a, a, b]
                walls = []
                for sink, fn in block:
                    t = run(fn)
                    sink[n].append(t)
                    walls.append(t)
                pa = walls[0] + walls[3] if rep % 2 == 0 else walls[1] + walls[2]
                pb = walls[1] + walls[2] if rep % 2 == 0 else walls[0] + walls[3]
                if pa > 0:
                    block_ratios[n].append(round(pb / pa, 3))
        prev_min = {n: min(ts) for n, ts in prev_t.items() if ts}
        cur_min = {n: min(ts) for n, ts in cur_t.items() if ts}
        per_query = {
            n: round(statistics.median(rs), 3)
            for n, rs in block_ratios.items() if rs
        }
        # overall: per-query medians weighted by prev wall — the
        # number the headline total would move by if every query's
        # pair ratio held
        w = sum(prev_min[n] for n in per_query)
        ratio = (
            round(
                sum(per_query[n] * prev_min[n] for n in per_query) / w, 3
            )
            if w > 0
            else None
        )
        return {
            "ref": ref,
            "queries": list(names),
            "missing": missing,
            "prev_min": prev_min,
            "cur_min": cur_min,
            "prev_runs": prev_t,
            "cur_runs": cur_t,
            "block_ratios": block_ratios,
            "per_query_ratio": per_query,
            "ratio_vs_prev": ratio,
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def host_calibration(spark) -> dict:
    """Fixed-work host-speed probe, reported in the bench line so
    round-over-round totals are NORMALIZABLE, not just flagged.

    The r7→r8 investigation found the missing attribution lever: the
    r8 host runs an identical fixed workload ~2× slower than the
    r6/r7-epoch host (judge-run pytest: 273 s → 687 s on the same
    suite; a fixed 10M-iteration Python loop: ~0.8 s typical → 1.61 s
    measured; /proc/stat shows 3-4 % CPU steal at IDLE on this
    Firecracker guest), with second-scale steal bursts that min-of-N
    cannot fully cancel. Loadavg is blind to all of this — the r7
    drift happened at loadavg 4 and the guard alone would have
    blessed it. Two deterministic probes fix that:

    - ``py_spin_10m_sec``: single-thread sum of i² over 10M ints —
      pure interpreter speed, no JVM, no allocation.
    - ``spark_range_1e9_sec``: ``range(1e9).sum(id*id)`` through the
      session — whole-stage-codegen multicore JVM throughput on the
      exact executor the headline queries use (min of 2: the second
      run is steady-state).

    A reviewer compares query totals as value × (ref_probe /
    measured_probe); the probes' ratio across rounds IS the host
    factor the r7 verdict could only hypothesize. ``steal_pct`` is
    sampled over 2 s right before timing starts.
    """
    t0 = time.time()
    s = 0
    for i in range(10_000_000):
        s += i * i
    py_spin = round(time.time() - t0, 3)

    spark_runs = []
    for _ in range(2):
        t0 = time.time()
        # (id * id) % 1000003 keeps the multiply in the loop but the
        # SUM below 2^63 — ANSI mode (Spark 4 default) makes a long
        # overflow a hard error, not a wrap
        spark.range(1_000_000_000).selectExpr(
            "sum((id * id) % 1000003)"
        ).collect()
        spark_runs.append(round(time.time() - t0, 3))

    # r9: shuffle-sensitive probe. Three same-code bench runs measured
    # 19.1-20.1s vs the r8 anchored 15.2s while every codegen probe
    # read CLEAN (0.24-0.42) — this guest's degradation sometimes hits
    # memory/shuffle bandwidth only, invisible to a pure-compute
    # probe. Fixed work: 50M rows hash-repartitioned to 64 partitions
    # then aggregated — one real exchange write+read. First readings
    # (r9, on the degraded-epoch host whose codegen probe read clean):
    # 2.9-3.6s min-of-3; the CLEAN anchor must be established on a
    # host whose minhash sf0.1 matches the 4.49s r8 wall — until then
    # the probe's value is longitudinal (compare across rounds).
    shuffle_runs = []
    for _ in range(2):
        t0 = time.time()
        spark.range(50_000_000).repartition(64, "id").selectExpr(
            "sum(id % 97)"
        ).collect()
        shuffle_runs.append(round(time.time() - t0, 3))

    def _stat():
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:9]))

    try:
        a = _stat()
        time.sleep(2.0)
        b = _stat()
        d = [y - x for x, y in zip(a, b)]
        steal_pct = round(100.0 * d[7] / max(1, sum(d)), 2)
    except OSError:
        steal_pct = None
    return {
        "py_spin_10m_sec": py_spin,
        "spark_range_1e9_sec": min(spark_runs),
        "spark_range_runs": spark_runs,
        "spark_shuffle_50m_sec": min(shuffle_runs),
        "spark_shuffle_runs": shuffle_runs,
        "steal_pct": steal_pct,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    # r16 (VERDICT r15 #2): the engine-contract confs (AQE, bucketed-
    # scan ordering, subset co-partition reuse) live in ONE place —
    # mldag_spark.session.recommended_session_confs — consumed here, by
    # tests/conftest.py and by every probe script, so the plans the
    # bench measures are the plans any caller of the package gets.
    from mldag_spark.session import recommended_session_confs

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mldag_spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # r15 retraction: a spill-reader buffer shrink
        # (spark.unsafe.sorter.spill.reader.buffer.size=256k) briefly
        # shipped here against a once-observed dedup_edit_verified OOM
        # in UnsafeSorterSpillReader's read-ahead allocation. Spark 4
        # VALIDATES that conf at first spill-READ against the range
        # [1m, 16m], so 256k made every spilling query throw
        # INVALID_CONF_VALUE instead — it only looked fine because
        # sf0.1 headline runs don't spill. Removed (default 1m is the
        # range minimum anyway); the one observed OOM never reproduced
        # post-r15 across 4/4 sf0.1 passes.
        # NB: do NOT raise spark.driver.memory here. On this host a large
        # (8-16g) heap makes the local-mode JVM intermittently freeze for
        # minutes (jstack cannot even attach); with the default heap the
        # same query sequence is stable and ~10x faster end-to-end.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in recommended_session_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # Warmup at the smallest SF: compiles/JITs every generated stage of
    # the exact headline plans so the timed sf run measures steady-state
    # throughput, not first-query codegen (set SPARK_GRAFT_WARMUP=0 to
    # include cold-start in the measurement).
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        warm_dir = "/root/testdata/sf0.001"
        if os.path.isdir(warm_dir):
            for name in HEADLINE:
                try:
                    qs[name](spark, warm_dir).write.mode("overwrite").format(
                        "noop"
                    ).save()
                except Exception:
                    pass

    # Host-load hygiene (VERDICT r7 #1: the r7 headline drifted +13.6%
    # on an identical query set and 2 repeats could not attribute it):
    # this machine's background load makes a single pass swing
    # 10.7-16s for identical code, which would masquerade as a
    # regression round-over-round. Three levers, all recorded in the
    # JSON line so a reviewer can audit the protocol:
    #   1. idle-host guard — refuse to start timing while the 1-min
    #      loadavg exceeds SPARK_GRAFT_LOAD_MAX (default 6.0 on this
    #      32-cpu host); poll up to SPARK_GRAFT_LOAD_WAIT seconds
    #      (default 600) and flag `load_guard.satisfied=false` if the
    #      host never went idle — a flagged line is NOT comparable
    #      round-over-round.
    #   2. repeats >= 3 (SPARK_GRAFT_REPEATS, default 3) with the
    #      per-query MIN reported — min-of-3 cuts the one-slow-pass
    #      tail the r7 run pairs showed (10-40% spread).
    #   3. all raw passes + loadavg before AND after are in the line.
    # r9: default tightened 6.0 -> 3.0 (VERDICT r8 #2: the official r8
    # run started at loadavg 5.05 and its pass probes read up to 3x the
    # clean anchor — a guard at 6.0 on a 32-cpu box is near-vacuous for
    # JVM-parallel work).
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "3.0"))
    load_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "600"))
    waited = 0.0
    while os.getloadavg()[0] > load_max and waited < load_wait:
        time.sleep(10.0)
        waited += 10.0
    load_guard = {
        "threshold": load_max,
        "waited_sec": round(waited, 1),
        "loadavg_at_start": round(os.getloadavg()[0], 2),
        "satisfied": os.getloadavg()[0] <= load_max,
    }
    try:
        calibration = host_calibration(spark)
    except Exception as e:  # the probe must never kill the bench line
        calibration = {"error": str(e)[:200]}

    # 4 (not the r7-planned 3): the r8 host shows second-scale steal
    # bursts that inflate whole passes (one pass measured 26.3s total
    # vs 17.1s minutes later, identical code); a fourth pass costs
    # ~20 s and materially tightens the min on a bursty host
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "4")))
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # Per-PASS host probes (r8): the session-start calibration measured
    # a CLEAN host while the query passes still came out 1.2-1.9x
    # inflated — this guest's steal bursts arrive mid-run, invisible
    # to a start-only probe. Two fixed-work probes before each pass
    # stamp it with its own anchor: the 10M-int Python spin (~0.7s
    # clean, single-thread) and the range(1e9) codegen aggregate
    # (~0.33s clean, all cores). Measured r8: a burst window showed
    # pass spins [0.69, 0.94, 0.79, 1.12] while the same passes' JVM
    # queries inflated 3x — the contention hits MULTICORE JVM work
    # far harder than a single Python thread, so the spark probe is
    # the one that predicts query-pass quality; the spin is kept to
    # separate interpreter-side from executor-side degradation.
    # r9 (VERDICT r8 #2): the probe is now a GATE, not just a stamp — a
    # pass whose range(1e9) probe exceeds PROBE_RETRY_FACTOR x the clean
    # anchor (PROBE_ANCHOR_SEC, the 0.34 s measured on this box solo,
    # documented in BASELINE.md) is deferred: sleep and re-probe up to
    # SPARK_GRAFT_PROBE_WAIT seconds (default 300 per pass) before
    # timing queries, so a steal burst delays the pass instead of
    # poisoning it. All probe attempts land in the detail file.
    # Protocol note (ADVICE r8 #4): the probes run immediately BEFORE
    # each pass (they must — the retry gate needs the reading before the
    # pass starts), which adds ~1 s of JVM warm work pre-r8 passes did
    # not have; PARITY records this alongside the repeats 3->4 change.
    try:
        _ncpu = max(1, int(cpus))
    except ValueError:
        # ADVICE r15: SPARK_GRAFT_CPUS='*' is valid for local[*] but
        # non-numeric — falling back to the 32-cpu anchor on a smaller
        # box would resurrect the full-sleep gate bug the r15 anchor
        # fix closed. Resolve '*' (or any non-numeric) to the machine's
        # actual core count, which is what local[*] runs with.
        _ncpu = max(1, os.cpu_count() or PROBE_ANCHOR_CPUS)
    probe_anchor = float(
        os.environ.get(
            "SPARK_GRAFT_PROBE_ANCHOR",
            str(PROBE_ANCHOR_SEC * max(1.0, PROBE_ANCHOR_CPUS / _ncpu)),
        )
    )
    probe_limit = probe_anchor * float(
        os.environ.get("SPARK_GRAFT_PROBE_FACTOR", "1.25")
    )
    probe_wait = float(os.environ.get("SPARK_GRAFT_PROBE_WAIT", "300"))
    # r10 (VERDICT r9 #3): the pass gate now checks BOTH probes — r9's
    # three same-code self-runs measured 19-20s totals with CLEAN
    # codegen probes while the shuffle probe read 2.9-3.6s, proving a
    # shuffle-bandwidth-only degradation mode the compute probe cannot
    # see. The shuffle side gates only once a clean-epoch anchor
    # exists (SHUFFLE_ANCHOR_SEC / SPARK_GRAFT_SHUFFLE_ANCHOR);
    # without one it is recorded longitudinal-only, the r9 behavior.
    shuffle_anchor_env = os.environ.get("SPARK_GRAFT_SHUFFLE_ANCHOR")
    shuffle_anchor = (
        float(shuffle_anchor_env)
        if shuffle_anchor_env
        else SHUFFLE_ANCHOR_SEC
    )
    # r15: the 2.0 s shuffle anchor was also measured at 32 cpus; at
    # other core counts (the driver's scaling runs) shuffle throughput
    # does not scale linearly enough to extrapolate, so the shuffle
    # side gates only at the anchor's core count and is recorded
    # longitudinal-only elsewhere (the r9 behavior). An explicit
    # SPARK_GRAFT_SHUFFLE_ANCHOR still gates at any count.
    if not shuffle_anchor_env and _ncpu != PROBE_ANCHOR_CPUS:
        shuffle_anchor = None
    shuffle_limit = (
        shuffle_anchor
        * float(os.environ.get("SPARK_GRAFT_SHUFFLE_FACTOR", "1.5"))
        if shuffle_anchor
        else None
    )
    pass_spin: list[float] = []
    pass_spark: list[float] = []
    pass_shuffle: list[float] = []
    probe_attempts: list[list[float]] = []
    shuffle_attempts: list[list[float]] = []

    def _spark_probe() -> float:
        t0 = time.time()
        spark.range(1_000_000_000).selectExpr(
            "sum((id * id) % 1000003)"
        ).collect()
        return round(time.time() - t0, 3)

    def _shuffle_probe() -> float:
        t0 = time.time()
        spark.range(50_000_000).repartition(64, "id").selectExpr(
            "sum(id % 97)"
        ).collect()
        return round(time.time() - t0, 3)

    for _ in range(repeats):
        t0 = time.time()
        acc = 0
        for i in range(10_000_000):
            acc += i * i
        pass_spin.append(round(time.time() - t0, 3))
        attempts = [_spark_probe()]
        sh_attempts = [_shuffle_probe()]
        waited_probe = 0.0

        def _dirty() -> bool:
            if attempts[-1] > probe_limit:
                return True
            return bool(
                shuffle_limit and sh_attempts[-1] > shuffle_limit
            )

        while _dirty() and waited_probe < probe_wait:
            time.sleep(15.0)
            waited_probe += 15.0
            attempts.append(_spark_probe())
            sh_attempts.append(_shuffle_probe())
        probe_attempts.append(attempts)
        shuffle_attempts.append(sh_attempts)
        pass_spark.append(attempts[-1])
        pass_shuffle.append(sh_attempts[-1])
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs[name].append(round(time.time() - t0, 3))
            except Exception as e:  # keep the bench line parseable on error
                print(f"bench error in {name}: {e}", file=sys.stderr)
                runs[name].append(-1.0)

    times = {
        name: (min(ok) if (ok := [t for t in ts if t >= 0]) else -1.0)
        for name, ts in runs.items()
    }
    total = round(sum(t for t in times.values() if t >= 0), 3)
    failed = sorted(name for name, t in times.items() if t < 0)
    # canary runs IMMEDIATELY after the headline passes, while the
    # session is steady — running it after the layout/shard phases
    # measured a 12.7→3.1s recovery trend across the canary blocks
    try:
        canary = bench_canary(spark, sf_dir, qs, repeats=3)
    except Exception as e:  # canary must never kill the bench line
        print(f"bench error in canary A/B: {e}", file=sys.stderr)
        canary = {"error": str(e)[:200]}
    try:
        layout = bench_layout(spark, sf_dir, repeats)
    except Exception as e:  # layout pair must never kill the bench line
        print(f"bench error in layout pair: {e}", file=sys.stderr)
        layout = {"error": str(e)[:200]}
    try:
        shard_write = bench_shard_write(spark, sf_dir, repeats)
    except Exception as e:  # ditto for the shard-export row
        print(f"bench error in shard write: {e}", file=sys.stderr)
        shard_write = {"error": str(e)[:200]}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Probe-normalized total (VERDICT r8 #8): value x (anchor /
    # measured probe). The per-query values are minimums, drawn from
    # the cleanest pass, so the matching probe reading is the MINIMUM
    # pass probe; the anchor constant is documented in BASELINE.md.
    probe_min = min(pass_spark) if pass_spark else None
    shuffle_min = min(pass_shuffle) if pass_shuffle else None
    # Linear host-speed correction is only meaningful for MILD drift:
    # the probe is embarrassingly parallel codegen while real queries
    # mix shuffle/IO/GC, so on a severely degraded host (r9 measured a
    # 7.49s probe — 22x — while queries inflated only ~2x) the linear
    # model overcorrects into a flattering number. The band is
    # TWO-SIDED (VERDICT r9 #7): beyond 2x the anchor the honest
    # answer is "not normalizable" (emit null, let raw + stamps tell
    # the story), and below 0.8x the anchor a hot/turbo host would
    # INFLATE an honest raw number the same way — null there too.
    # Mixed-pass approximation (ADVICE r9): `total` sums per-query
    # MINIMA that may come from different passes while probe_min is
    # the single best pass probe, so queries whose best wall came from
    # a slower pass are slightly over-corrected; the per-pass-paired
    # normalization (each pass total against its own probe) lands in
    # the detail file as value_normalized_per_pass for comparison.
    value_norm = (
        round(total * probe_anchor / probe_min, 3)
        if probe_min and 0.8 * probe_anchor <= probe_min <= 2.0 * probe_anchor
        else None
    )
    pass_totals = [
        round(sum(runs[name][i] for name in HEADLINE
                  if i < len(runs[name]) and runs[name][i] >= 0), 3)
        for i in range(repeats)
    ]
    # A pass where any headline query errored (-1.0 sentinel) has a
    # silently smaller total and could win the min below, flattering
    # the normalized number (ADVICE r10 #4) — exclude such passes.
    pass_complete = [
        all(i < len(runs[name]) and runs[name][i] >= 0 for name in HEADLINE)
        for i in range(repeats)
    ]
    per_pass_norm = [
        round(pt * probe_anchor / pp, 3)
        for pt, pp, ok in zip(pass_totals, pass_spark, pass_complete)
        if ok and pp and 0.8 * probe_anchor <= pp <= 2.0 * probe_anchor
    ]
    value_norm_per_pass = min(per_pass_norm) if per_pass_norm else None
    # Diagnostics go to a side file (VERDICT r8 #1: the enriched r8
    # line outgrew the driver's 2000-char tail capture and parsed as
    # null — the driver-facing line below stays compact and is the
    # LAST stdout line).
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")
    detail = {
        "runs": runs,
        "layout": layout,
        "shard_write": shard_write,
        "canary": canary,
        "load_guard": load_guard,
        "calibration": calibration,
        "pass_py_spin": pass_spin,
        "pass_spark_range": pass_spark,
        "pass_spark_shuffle": pass_shuffle,
        "probe_attempts": probe_attempts,
        "shuffle_attempts": shuffle_attempts,
        "probe_anchor_sec": probe_anchor,
        "probe_retry_limit_sec": round(probe_limit, 3),
        "shuffle_anchor_sec": shuffle_anchor,
        "shuffle_retry_limit_sec": (
            round(shuffle_limit, 3) if shuffle_limit else None
        ),
        "pass_totals": pass_totals,
        "value_normalized_per_pass": value_norm_per_pass,
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:
        print(f"bench error writing {detail_path}: {e}", file=sys.stderr)
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                # total x (probe anchor / min pass probe): the host-
                # speed-corrected number for round-over-round compares
                "value_normalized": value_norm,
                "unit": "sec",
                "queries": times,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "repeats": repeats,
                # -1.0 entries are EXCLUDED from the headline sum so the
                # total stays comparable across rounds; failures are
                # named here instead of silently shrinking the metric
                "failed": failed,
                "probe_min_sec": probe_min,
                "shuffle_min_sec": shuffle_min,
                # same-session code A/B vs CANARY_REF (<1 = this
                # round's code faster); host speed cancels in the
                # ratio — compare THIS across rounds, not raw totals
                "canary_ratio_vs_prev": canary.get("ratio_vs_prev"),
                "canary_ref": canary.get("ref"),
                "detail_file": detail_path,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
