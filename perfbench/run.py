"""Layer-split benchmark for mldag_spark.

Runs one workload through the package's public entry points on a
``local[N]`` Spark session and prints its end-to-end metrics; with
``--trace 1`` it prints the per-layer metrics instead (see README.md).

    python3 perfbench/run.py --workload headline_exec --seed 1 \\
        --seconds 5 --trace 0

Run from the root of a checkout: the package is imported from there,
the input tables are read from ``perfbench/data`` and every file Spark
or the tracer writes stays under ``.perfbench``. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
# copies of the repository's sf0.01 and sf0.001 test tables
DATA = os.path.join(HERE, "data")
SF = 0.01

# Frozen copy of the bench.py headline list, so edits there cannot
# change this workload.
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

# The registry pipelines with a public ``build_*_dag``, run the way their
# registry functions run them, so the trace can add its mixin:
# op name -> (builder, MLDag verb, output, dag label in span names).
DAG_OPS = {
    "dag_pipeline_fit_apply": (
        "build_fit_apply_dag", "fit_transform", "fit_apply_stats", "fit_apply"),
    "dag_pipeline_clean_pack": (
        "build_clean_pack_dag", "transform", "packed_corpus", "clean_pack"),
    "dag_pipeline_fuzzy_dedup": (
        "build_fuzzy_dedup_dag", "transform", "survivors", "fuzzy_dedup"),
}

WORKLOADS = {"headline_exec": HEADLINE, "dag_fit_transform": tuple(DAG_OPS)}

# Warm-up passes, and timed passes a run makes at least. Per-pass CPU
# falls by 10-20% a pass over the three passes after the cold one and
# levels off from the fourth (README.md has the figures). A warm-up that
# deep does not fit the driver's time budget, so the warm-up stops two
# passes after the cold one, and one pass earlier on headline_exec, whose
# fingerprint checks re-run all 15 queries twice a run.
WARMUP = {"headline_exec": 2, "dag_fit_transform": 3}
MIN_PASSES = 1


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sf_name(sf: float) -> str:
    return f"sf{sf:g}"


# ---------------------------------------------------------------------
# process-level measurement: CPU and peak RSS of the driver plus the JVM
# ---------------------------------------------------------------------
def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the Spark
    JVM and its Python workers), including children they have reaped."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------
# session and ops
# ---------------------------------------------------------------------
def start_session(cores: int, trace: bool):
    from pyspark.sql import SparkSession

    from mldag_spark.session import recommended_session_confs

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed heap: the default scales with the host's memory
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")
    )
    if trace:
        b = (b.config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000"))
    for k, v in recommended_session_confs().items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_op(spark, name: str, sf_dir: str, tracer):
    """Build op ``name``'s result DataFrame through the public API."""
    from mldag_spark.queries import REGISTRY, dag_pipeline

    if name not in DAG_OPS:
        return REGISTRY[name](spark, sf_dir)
    builder, verb, output, label = DAG_OPS[name]
    dag = getattr(dag_pipeline, builder)(spark)
    if tracer is not None:
        from layers import NodeSpans

        dag.mixins.append(NodeSpans(tracer, label))
    return getattr(dag, verb)(sf_dir).outputs[output]


def fingerprint_exprs(df):
    """Row count plus an order-independent hash of every row. Doubles are
    hashed at float32 precision, so summation order in the engine cannot
    flip a fingerprint. (Every op's result has flat columns.)"""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.col(f"`{f.name}`").cast("float")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row_hash = F.pmod(F.xxhash64(*cols), F.lit(2147483647))
    return F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")


class Bench:
    """One workload run: warm-up, timed passes, metrics."""

    def __init__(self, workload, seed, seconds, trace, sf, cores, warmup,
                 min_passes):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.sf, self.cores = trace, sf, cores
        self.warmup, self.min_passes = warmup, min_passes
        self.ops = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.sf_dir = os.path.join(DATA, sf_name(sf))
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f).get(sf_name(sf), {})
        self.attempted = self.failed = 0
        self.first_fp: dict[str, list] = {}
        self.errors: list[str] = []
        self.ops_log: list[dict] = []
        self.spark = self.tracer = self.probe = self.py4j = None
        self.n_op = 0

    # -- one op --------------------------------------------------------
    def run_op(self, name: str, traced: bool, check: bool):
        """Build op ``name`` and run its noop-write action; when ``check``,
        fingerprint the result afterwards, outside the op's wall time.
        Returns the op's record and result frame (None if it failed)."""
        self.n_op += 1
        self.attempted += 1
        rec = {"op": self.n_op, "name": name, "traced": traced, "ok": True}
        t0 = time.perf_counter()
        df = None
        try:
            if traced:
                df = self._traced_op(name, rec)
            else:
                df = build_op(self.spark, name, self.sf_dir, None)
                df.write.mode("overwrite").format("noop").save()
                rec["wall_s"] = time.perf_counter() - t0
            if check:
                t1 = time.perf_counter()
                self.check(df, rec)
                rec["check_s"] = time.perf_counter() - t1
        except Exception as e:  # noqa: BLE001 - an op failure is counted
            rec.setdefault("wall_s", time.perf_counter() - t0)
            self.fail(rec, f"{type(e).__name__}: {e}")
        if traced:
            self._after_traced_op(rec)
        self.ops_log.append(rec)
        return rec, df

    def fail(self, rec: dict, why: str) -> None:
        self.errors.append(f"op {rec['op']} {rec['name']}: {why}"[:600])
        if rec["ok"]:
            rec["ok"] = False
            self.failed += 1

    def check(self, df, rec: dict) -> None:
        """Fingerprint ``df`` and compare it with the expected value."""
        row = df.select(*fingerprint_exprs(df)).collect()[0]
        got = [row["n"], row["h"]]
        rec.setdefault("fingerprints", []).append(got)
        # against the recorded value, and against this run's first
        # result for the op, so state left behind by earlier ops shows
        first = self.first_fp.setdefault(rec["name"], got)
        for want in (self.expected.get(rec["name"]), first):
            if want is not None and got != want:
                self.fail(rec, f"fingerprint {got} != expected {want}")

    def _traced_op(self, name, rec):
        tr, sc, py4j = self.tracer, self.spark.sparkContext, self.py4j
        group = f"op{self.n_op}"
        tr.op = self.n_op
        op_sid = tr.begin(f"op:{name}")
        try:
            sc.setJobGroup(f"{group}.build", name)
            trips0 = py4j.trips
            with tr.span("build"):
                df = build_op(self.spark, name, self.sf_dir, tr)
            rec["build_trips"] = py4j.trips - trips0
            trips0 = py4j.trips
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"{group}.action", name)
            with tr.span("action"):
                df.write.mode("overwrite").format("noop").save()
            rec["action_trips"] = py4j.trips - trips0
        finally:
            rec["wall_s"] = tr.end(op_sid)
            tr.op = None
            sc._jsc.clearJobGroup()
        return df

    def _after_traced_op(self, rec) -> None:
        """Jobs, stage totals and storage for a traced op, read after its
        op span has ended."""
        p = self.probe
        for phase in ("build", "action"):
            jobs = p.group_jobs(f"op{rec['op']}.{phase}")
            rec[f"{phase}_jobs"] = len(jobs)
            rec[f"{phase}_stages"] = dict(p.stage_metrics(p.stage_ids(jobs)))
        rdds, mem, disk = p.storage()
        rec.update(persistent_rdds=rdds, storage_mem_mb=mem,
                   storage_disk_mb=disk)

    # -- passes --------------------------------------------------------
    def run_pass(self, traced: bool = False, check: bool = False,
                 seeded: bool = True) -> dict:
        """Every op once, in seeded order (or in list order). The pass
        wall is the sum of the op walls, so bookkeeping between ops is
        not counted."""
        order = list(self.ops)
        if seeded:
            self.rng.shuffle(order)
        gc0 = self.probe.gc_s() if traced else 0.0
        span0 = len(self.tracer.spans) if traced else 0
        cpu0 = tree_cpu_s()
        results = [self.run_op(name, traced, check) for name in order]
        cpu = tree_cpu_s() - cpu0
        recs = [r for r, _ in results]
        out = {"traced": traced, "wall_s": sum(r["wall_s"] for r in recs),
               "cpu_s": cpu, "order": order,
               "ops": (recs[0]["op"], recs[-1]["op"]), "results": results}
        if traced:
            out["gc_s"] = self.probe.gc_s() - gc0
            out["spans"] = (span0, len(self.tracer.spans))
        return out

    def run(self, t_start: float) -> dict:
        import pyspark

        trace = self.trace
        self.spark = start_session(self.cores, trace)
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.management.ManagementFactory
                           .getRuntimeMXBean().getPid())
        if trace:
            from layers import Py4jCounter, SparkProbe, Tracer

            self.tracer, self.probe = Tracer(), SparkProbe(self.spark)
            self.py4j = Py4jCounter()
            self.py4j.install()
        # the warm-up runs in list order, so set-up does not vary by seed;
        # its last pass also fingerprints every op's result
        warm = [self.run_pass(check=i == self.warmup - 1, seeded=False)
                for i in range(self.warmup)]
        setup_s = time.perf_counter() - t_start
        jit_setup_s = self.probe.jit_s() if trace else None
        passes, t0 = [], time.perf_counter()
        # a trace run alternates untraced and traced passes, at least
        # untraced-traced-untraced, so the tracing overhead is measured
        # in one JVM against passes on both sides of the traced one
        min_passes = 3 if trace else self.min_passes
        while (len(passes) < min_passes
               or time.perf_counter() - t0 < self.seconds):
            passes.append(self.run_pass(traced=trace and len(passes) % 2 == 1))
        # check the last timed pass's results, outside the timed region
        for rec, df in passes[-1]["results"]:
            if df is not None:
                try:
                    self.check(df, rec)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    self.fail(rec, f"{type(e).__name__}: {e}")
        for p in warm + passes:
            del p["results"]
        peak = peak_rss_mb(os.getpid()) + peak_rss_mb(self.jvm_pid)
        meta = {
            "workload": self.workload, "seed": self.seed, "sf": self.sf,
            "cores": self.cores, "spark": pyspark.__version__,
            "seconds": self.seconds, "trace": int(trace),
            "warmup": warm, "passes": passes,
        }
        timed = [p for p in passes if not p["traced"]]
        result = {
            "meta": meta,
            "setup_s": setup_s,
            "pass_s": statistics.median(p["wall_s"] for p in timed),
            "cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "peak_rss_mb": peak,
        }
        if trace:
            result["layers"] = self.layer_metrics(passes, result["pass_s"])
            result["layers"]["jvm.jit_s"] = jit_setup_s
        return result

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.py4j is not None:
            self.py4j.uninstall()
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # -- per-layer metrics (trace runs) ---------------------------------
    def layer_metrics(self, passes, untraced_pass_s) -> dict:
        """Per-layer totals of each traced pass, then their median."""
        tr = self.tracer
        selfs = tr.self_times()
        by_op = {r["op"]: r for r in self.ops_log}
        per_pass = []
        for p in passes:
            if not p["traced"]:
                continue
            m: dict[str, float] = {}

            def add(k, v):
                m[k] = m.get(k, 0.0) + v

            cover = []
            for i in range(*p["spans"]):
                sp = tr.spans[i]
                dur = sp["end"] - sp["start"]
                name = sp["name"]
                if name.startswith("op:"):
                    cover.append((dur - selfs[i]) / dur)
                elif name == "build":
                    add("queries.build_s", dur)
                elif name == "plan":
                    add("catalyst.plan_s", dur)
                elif name == "action":
                    add("spark.exec_s", dur)
                elif name.startswith("node:"):
                    add("core.node_s." + name[5:], dur)
                elif name.startswith("run:"):
                    add("core.overhead_s", selfs[i])
            lo, hi = p["ops"]
            for r in (by_op[i] for i in range(lo, hi + 1)):
                add("queries.build_jobs", r["build_jobs"])
                add("py4j.trips", r.get("build_trips", 0))
                add("py4j.action_trips", r.get("action_trips", 0))
                add("spark.exec_jobs", r["action_jobs"])
                st = r["action_stages"]
                add("spark.exec_stages", st.get("stages", 0))
                for k in ("task_s", "shuffle_read_mb", "shuffle_write_mb",
                          "spill_mb"):
                    add(f"spark.{k}", st.get(k, 0.0))
                m["spark.task_skew"] = max(m.get("spark.task_skew", 0.0),
                                           st.get("task_skew", 0.0))
            m["jvm.gc_s"] = p["gc_s"]
            m["trace.pass_s"] = p["wall_s"]
            m["trace.span_coverage"] = min(cover)
            per_pass.append(m)
        keys = {k for m in per_pass for k in m}
        out = {k: statistics.median(m.get(k, 0.0) for m in per_pass)
               for k in keys}
        traced_ops = [r for r in self.ops_log if r["traced"]]
        rdds = [r["persistent_rdds"] for r in traced_ops]
        out["storage.persistent_rdds"] = statistics.median(rdds)
        out["storage.persistent_rdds_max"] = max(rdds)
        for k in ("mem_mb", "disk_mb"):
            out[f"storage.{k}"] = statistics.median(
                r[f"storage_{k}"] for r in traced_ops)
        out["trace.untraced_pass_s"] = untraced_pass_s
        out["trace.overhead_frac"] = out["trace.pass_s"] / untraced_pass_s - 1
        return out


def emit(result: dict, spec: dict, trace: bool, attempted: int,
         failed: int) -> None:
    """Print the metric lines, then the one-line JSON result."""
    section = spec["per_layer"] if trace else spec["end_to_end"]
    values = result["layers"] if trace else result
    meta = result["meta"]
    no_dag = not any(op in DAG_OPS for op in WORKLOADS[meta["workload"]])
    metrics = {}
    for m in section:
        name = m["name"]
        if name in values:
            v = values[name]
        elif no_dag and name.startswith("core."):
            v = 0.0  # a workload that runs no DAG has no core spans
        else:
            # e.g. a DAG node was renamed: the metric list must follow
            raise SystemExit(f"metric {name} was not measured")
        metrics[name] = {"value": float(v), "unit": m["unit"]}
    print(f"# workload={meta['workload']} seed={meta['seed']} "
          f"sf={meta['sf']} cores={meta['cores']} spark={meta['spark']} "
          f"passes={len(meta['passes'])}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"fail_frac {failed / max(attempted, 1):.6g} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def run_all(args) -> int:
    """Run every workload, each in its own process, and merge them."""
    attempted = failed = 0
    merged = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--sf", str(args.sf)]
        res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            sys.stderr.write(res.stderr[-4000:])
            return 1
        for line in lines[:-1]:
            print(f"{w}: {line}" if not line.startswith("#") else line)
        out = json.loads(lines[-1])
        attempted += out["attempted"]
        failed += out["failed"]
        merged.update({f"{w}.{k}": v for k, v in out["metrics"].items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": merged}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="input scale factor (the smoke test uses 0.001)")
    ap.add_argument("--warmup", type=int, default=0,
                    help="warm-up passes (default: the workload's own)")
    ap.add_argument("--passes", type=int, default=0,
                    help="timed passes at least (default: the workload's own)")
    args = ap.parse_args()
    spec = load_spec()
    if args.workload == "all":
        return run_all(args)

    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    if not os.path.isdir(os.path.join(DATA, sf_name(args.sf))):
        raise SystemExit(f"no input tables for {sf_name(args.sf)} in {DATA}")

    # set-up time starts here: imports, session start, warm-up pass
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    import mldag_spark

    pkg = os.path.dirname(os.path.abspath(mldag_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise SystemExit(f"mldag_spark imported from {pkg}, not {ROOT}")
    # three task slots at most, and never all of the host's cores: the
    # spare core runs the Python driver and the JVM's JIT and GC threads,
    # which keeps pass times from swinging with the JIT's compile load
    cores = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.sf, cores, args.warmup or WARMUP[args.workload],
                  args.passes or MIN_PASSES)
    try:
        result = bench.run(t_start)
    finally:
        bench.stop()
    if bench.errors:
        sys.stderr.write("\n".join(bench.errors) + "\n")
    record = {"meta": result["meta"], "ops": bench.ops_log,
              "errors": bench.errors}
    if args.trace:
        record.update(spans=bench.tracer.spans,
                      self_s=bench.tracer.self_times(),
                      layers=result["layers"])
    kind = "trace" if args.trace else "run"
    path = os.path.join(WORK, f"{kind}-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(record, f)
    print(f"# run record written to {os.path.relpath(path, ROOT)}")
    emit(result, spec, bool(args.trace), bench.attempted, bench.failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
