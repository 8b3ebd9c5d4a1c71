#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line, the last line
on stdout (fields: ``driver_line``).

Protocol: warm every headline plan on the sibling ``sf0.001``
directory; run ``REPEATS`` timed passes, each gated on two fixed-work
host probes; then A/B the previous code's headline builders against
the current ones in the same session (the canary). Each query is
timed as a full action (``df.write.format("noop")``), which executes
the whole plan without driver-side collection; outside the canary it
runs in its own ``materialize.scope()``, closed after the wall is
taken. Per-pass readings go to ``$SPARK_GRAFT_DETAIL`` (default
BENCH_DETAIL.json).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))

# Clean-host reading of ``codegen_probe`` at PROBE_ANCHOR_CPUS cores
# (BASELINE.md "Probe anchor"). The probe is embarrassingly parallel,
# so a clean host with fewer cores reads proportionally slower;
# ``probe_anchor`` scales by that ratio.
PROBE_ANCHOR_SEC = 0.34
PROBE_ANCHOR_CPUS = 32
# Clean-host reading of ``shuffle_probe`` at PROBE_ANCHOR_CPUS cores.
# Shuffle throughput does not scale linearly with cores, so this side
# of the gate applies only at the anchor's core count.
SHUFFLE_ANCHOR_SEC = 2.0
# A pass whose probe reads above its anchor times the factor is
# deferred: sleep and re-probe, up to PROBE_WAIT_SEC per pass, so a
# CPU-steal burst delays the pass instead of poisoning it.
PROBE_FACTOR = 1.25
SHUFFLE_FACTOR = 1.5
PROBE_WAIT_SEC = 300.0
PROBE_SLEEP_SEC = 15.0
# Timed passes; each query reports its minimum. This host shows
# second-scale steal bursts that inflate whole passes.
REPEATS = 4
CANARY_REPEATS = 3
# Commits that close a round or a PR; ``auto`` in CANARY_REF picks the
# newest of them whose package differs from HEAD's.
CANARY_COMMIT_RE = "^(round|PR) [0-9]+:"

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
    "text_boilerplate_chunks",
    "text_bigram_surprisal",
)

# The canary must stay pure-JVM: Python workers resolve module
# functions by name, so a previous-code UDF would silently import the
# current module on the worker. test_plans.py::
# test_no_python_udfs_in_jvm_paths pins every headline query so.
CANARY = HEADLINE


def resolve_cpus(cpus: str) -> int:
    """Cores behind ``local[cpus]``. '*' (or any non-number) is the
    machine's core count, which is what ``local[*]`` runs with."""
    try:
        return max(1, int(cpus))
    except ValueError:
        return max(1, os.cpu_count() or PROBE_ANCHOR_CPUS)


def probe_anchor(ncpu: int) -> float:
    """Clean-host ``codegen_probe`` reading expected at ``ncpu`` cores."""
    return PROBE_ANCHOR_SEC * max(1.0, PROBE_ANCHOR_CPUS / ncpu)


def shuffle_anchor(ncpu: int) -> float | None:
    """Clean-host ``shuffle_probe`` reading, or None where no anchor
    was measured (the probe is then recorded but does not gate)."""
    return SHUFFLE_ANCHOR_SEC if ncpu == PROBE_ANCHOR_CPUS else None


def codegen_probe(spark) -> float:
    """Wall seconds of a fixed whole-stage-codegen aggregate over
    range(1e9): all-core JVM throughput on the session's executor.
    ``% 1000003`` keeps the sum below 2^63, as ANSI mode requires."""
    t0 = time.time()
    spark.range(1_000_000_000).selectExpr("sum((id * id) % 1000003)").collect()
    return round(time.time() - t0, 3)


def shuffle_probe(spark) -> float:
    """Wall seconds of one fixed hash exchange (50M rows into 64
    partitions, then aggregated). It sees a memory/shuffle-bandwidth
    degradation that ``codegen_probe`` reads as clean."""
    t0 = time.time()
    spark.range(50_000_000).repartition(64, "id").selectExpr(
        "sum(id % 97)"
    ).collect()
    return round(time.time() - t0, 3)


def gated_probes(spark, limit: float, shuffle_limit: float | None):
    """Both probes' readings before one pass, re-probed every
    PROBE_SLEEP_SEC while either is above its limit, for at most
    PROBE_WAIT_SEC. The last readings are the pass's stamps."""
    codegen, shuffle = [codegen_probe(spark)], [shuffle_probe(spark)]
    waited = 0.0
    while waited < PROBE_WAIT_SEC and (
        codegen[-1] > limit or (shuffle_limit and shuffle[-1] > shuffle_limit)
    ):
        time.sleep(PROBE_SLEEP_SEC)
        waited += PROBE_SLEEP_SEC
        codegen.append(codegen_probe(spark))
        shuffle.append(shuffle_probe(spark))
    return codegen, shuffle


def normalized(total: float, probe: float | None, anchor: float):
    """``total`` x anchor / probe, the host-speed-corrected total, or
    None outside 0.8-2x the anchor. The probe is pure parallel codegen
    while queries mix shuffle, IO and GC, so on a badly degraded host
    (a 22x probe was seen beside ~2x query inflation) the linear model
    over-corrects, and on a fast host it would inflate the total."""
    if probe and 0.8 * anchor <= probe <= 2.0 * anchor:
        return round(total * anchor / probe, 3)
    return None


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


def resolve_canary_ref(repo: str = REPO) -> str:
    """The canary baseline: the first word of ``repo/CANARY_REF``, or,
    when that is ``auto`` or missing, the newest commit matching
    CANARY_COMMIT_RE whose ``mldag_spark`` tree differs from HEAD's."""
    ref = ""
    try:
        with open(os.path.join(repo, "CANARY_REF")) as f:
            ref = f.readline().split()[0]
    except (OSError, IndexError):
        pass
    if ref and ref != "auto":
        return ref

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=repo, capture_output=True, text=True,
            check=True,
        ).stdout.strip()

    ref = _auto_canary_ref(
        git("log", "-E", "--grep", CANARY_COMMIT_RE, "--format=%h").split(),
        lambda r: git("rev-parse", f"{r}:mldag_spark"),
        git("rev-parse", "HEAD:mldag_spark"),
    )
    if ref is None:
        raise RuntimeError("no round or PR commit's mldag_spark differs from HEAD's")
    return ref


def _load_prev_registry(workdir: str, ref: str) -> dict:
    """Extract ``ref``'s mldag_spark into ``workdir`` and return its
    query registry, restoring the current package in sys.modules
    afterwards. The returned callables keep the previous module
    objects alive through their __globals__, so both versions coexist."""
    import importlib
    import tarfile

    tar_path = os.path.join(workdir, "prev.tar")
    with open(tar_path, "wb") as f:
        subprocess.run(
            ["git", "archive", ref, "mldag_spark"], cwd=REPO, stdout=f,
            check=True,
        )
    with tarfile.open(tar_path) as t:
        t.extractall(workdir)

    def ours(m: str) -> bool:
        return m == "mldag_spark" or m.startswith("mldag_spark.")

    saved = {k: v for k, v in sys.modules.items() if ours(k)}
    for k in saved:
        del sys.modules[k]
    sys.path.insert(0, workdir)
    try:
        importlib.invalidate_caches()
        return dict(importlib.import_module("mldag_spark.queries").REGISTRY)
    finally:
        sys.path.remove(workdir)
        for k in [m for m in sys.modules if ours(m)]:
            del sys.modules[k]
        sys.modules.update(saved)
        importlib.invalidate_caches()


def bench_canary(spark, sf_dir: str, qs_current, repeats: int = 2) -> dict:
    """Interleaved previous-vs-current timing of CANARY in one session.
    Host speed hits both versions alike and cancels in the ratio
    (<1 = current code faster); only the code delta survives. Both
    sides run without a ``materialize.scope()``: the previous registry
    may predate it, and the two must run alike."""
    import shutil
    import tempfile

    workdir = tempfile.mkdtemp(prefix="bench_canary_")
    try:
        ref = resolve_canary_ref()
        prev = _load_prev_registry(workdir, ref)
        missing = [n for n in CANARY if n not in prev or n not in qs_current]
        names = [n for n in CANARY if n not in missing]

        def run(fn) -> float:
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            return round(time.time() - t0, 3)

        # Warm both versions at the timing sf to steady state (the
        # latest interleaved round within 15% of the best seen, up to
        # 4 rounds): a cold parquet page cache or a still-falling
        # session trend otherwise favours whichever version runs second.
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

        # Estimator: ABBA blocks with per-block sum ratios. Within a
        # block [A,B,B,A] (order flipping per block), a linear session
        # trend (a, a+d, a+2d, a+3d) adds 2a+3d to both versions' sums,
        # so the block ratio sum(B)/sum(A) is trend-free; the per-query
        # median over blocks rejects burst-hit blocks. On identical
        # code, min-per-version ratios read 0.78-1.38, per-pair ratio
        # medians 0.86-1.22 and pooled per-version medians 1.21.
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
        # per-query medians weighted by previous wall: what the
        # headline total would move by if every query's ratio held
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


def driver_line(
    runs: dict[str, list[float]],
    pass_probe: list[float],
    pass_shuffle: list[float],
    anchor: float,
    canary: dict,
    sf_dir: str,
    ncpu: int,
    detail_path: str,
) -> dict:
    """The object the driver parses, keys in contract order.

    ``runs`` maps each query to its pass walls, -1.0 for a failed
    pass. ``value`` sums each query's fastest pass; a query that failed
    every pass is named in ``failed`` and left out of the sum, so the
    total stays comparable across commits. ``value_normalized``
    corrects it by the fastest pass probe (``normalized``).
    ``canary_ratio_vs_prev`` is the same-session code A/B against
    ``canary_ref`` (<1 = this code faster); compare it across commits,
    not raw totals. The driver reads only the last 2000 characters of
    stdout, so per-pass detail goes to ``detail_file``.
    """
    times = {
        name: (min(ok) if (ok := [t for t in ts if t >= 0]) else -1.0)
        for name, ts in runs.items()
    }
    total = round(sum(t for t in times.values() if t >= 0), 3)
    probe_min = min(pass_probe) if pass_probe else None
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline_queries_total_sec",
        "value": total,
        "value_normalized": normalized(total, probe_min, anchor),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": len(pass_probe),
        "failed": sorted(name for name, t in times.items() if t < 0),
        "probe_min_sec": probe_min,
        "shuffle_min_sec": min(pass_shuffle) if pass_shuffle else None,
        "canary_ratio_vs_prev": canary.get("ratio_vs_prev"),
        "canary_ref": canary.get("ref"),
        "detail_file": detail_path,
        "cpus": ncpu,
        "probe_anchor_sec": round(anchor, 4),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")
    ncpu = resolve_cpus(cpus)
    anchor = probe_anchor(ncpu)
    limit = anchor * PROBE_FACTOR
    sh_anchor = shuffle_anchor(ncpu)
    sh_limit = sh_anchor * SHUFFLE_FACTOR if sh_anchor else None

    from pyspark.sql import SparkSession

    from mldag_spark.materialize import scope
    from mldag_spark.session import recommended_session_confs

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mldag_spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # No larger spark.driver.memory: on this host an 8-16g heap
        # makes the local-mode JVM freeze for minutes at a time.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in recommended_session_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    def run(name: str, sf: str) -> None:
        qs[name](spark, sf).write.mode("overwrite").format("noop").save()

    # Compile every headline plan and both probes once, so the timed
    # passes and their gate readings measure steady state.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                with scope():
                    run(name, warm_dir)
            except Exception:
                pass
    codegen_probe(spark)
    shuffle_probe(spark)

    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    probe_attempts: list[list[float]] = []
    shuffle_attempts: list[list[float]] = []
    for _ in range(REPEATS):
        attempts, sh_attempts = gated_probes(spark, limit, sh_limit)
        probe_attempts.append(attempts)
        shuffle_attempts.append(sh_attempts)
        for name in HEADLINE:
            # released after the wall is taken, outside the timing
            with scope():
                t0 = time.time()
                try:
                    run(name, sf_dir)
                    runs[name].append(round(time.time() - t0, 3))
                except Exception as e:  # keep the bench line parseable
                    print(f"bench error in {name}: {e}", file=sys.stderr)
                    runs[name].append(-1.0)
    pass_probe = [a[-1] for a in probe_attempts]
    pass_shuffle = [a[-1] for a in shuffle_attempts]

    # the canary runs right after the passes, while the session is steady
    try:
        canary = bench_canary(spark, sf_dir, qs, repeats=CANARY_REPEATS)
    except Exception as e:  # the canary must never kill the bench line
        print(f"bench error in canary A/B: {e}", file=sys.stderr)
        canary = {"error": str(e)[:200]}

    line = driver_line(runs, pass_probe, pass_shuffle, anchor, canary,
                       sf_dir, ncpu, detail_path)
    pass_totals = [
        round(sum(runs[n][i] for n in HEADLINE if runs[n][i] >= 0), 3)
        for i in range(REPEATS)
    ]
    # a pass with a failed query has a silently smaller total; it must
    # not win the minimum below
    per_pass_norm = [
        v
        for i, (total, probe) in enumerate(zip(pass_totals, pass_probe))
        if all(runs[n][i] >= 0 for n in HEADLINE)
        and (v := normalized(total, probe, anchor)) is not None
    ]
    detail = {
        "runs": runs,
        "canary": canary,
        "pass_spark_range": pass_probe,
        "pass_spark_shuffle": pass_shuffle,
        "probe_attempts": probe_attempts,
        "shuffle_attempts": shuffle_attempts,
        "probe_anchor_sec": anchor,
        "probe_retry_limit_sec": round(limit, 3),
        "shuffle_anchor_sec": sh_anchor,
        "shuffle_retry_limit_sec": round(sh_limit, 3) if sh_limit else None,
        "pass_totals": pass_totals,
        "value_normalized_per_pass": min(per_pass_norm) if per_pass_norm else None,
    }
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError as e:
        print(f"bench error writing {detail_path}: {e}", file=sys.stderr)
    spark.stop()
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
