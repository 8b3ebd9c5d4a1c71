"""Per-layer instrumentation for traced benchmark runs.

Everything here wraps calls into public entry points from the outside;
nothing inside ``mldag_spark`` is patched except the py4j client's
``send_command``, which is counted, not changed. Spans are kept in
memory and written out once, when the run ends.

Layers and their boundaries:

- ``queries``: the builder call (``REGISTRY[name](spark, dir)`` or a
  ``build_*_dag`` run), span ``build``;
- ``py4j``: ``ClientServerConnection.send_command`` calls per phase;
- ``catalyst``: ``df._jdf.queryExecution().executedPlan()``, span ``plan``;
- ``spark``: the noop-write action, span ``action``; jobs, stages and task
  metrics per phase from job groups and the local UI REST API;
- ``core``: every ``MLDag`` node hook and run, through an ``MLDagMixin``;
- ``storage`` and ``jvm``: block-manager and MXBean reads between ops.
"""

from __future__ import annotations

import contextlib
import gc
import json
import time
import urllib.request
from collections import defaultdict

import py4j.clientserver

from mldag_spark import MLDagMixin

MB = 1024.0 * 1024.0


class Py4jCounter:
    """Counts py4j round trips while installed."""

    def __init__(self) -> None:
        self.trips = 0
        self._orig = None

    def install(self) -> None:
        orig = self._orig = py4j.clientserver.ClientServerConnection.send_command
        counter = self

        def send_command(conn, *a, **kw):
            counter.trips += 1
            return orig(conn, *a, **kw)

        py4j.clientserver.ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


class Tracer:
    """In-memory span recorder: each span has a name, start, end, parent
    and op id. ``span`` is a context manager; spans nest by call order."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent, "op": self.op})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, sid: int) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        self._stack.pop()
        return span["end"] - span["start"]

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]


class NodeSpans(MLDagMixin):
    """Benchmark-side mixin: one span per DAG run and per node hook,
    named ``run:<dag>`` and ``node:<dag>.<node>.<verb>``."""

    def __init__(self, tracer: Tracer, dag_name: str) -> None:
        self.tracer, self.dag = tracer, dag_name
        self._runs: dict[str, int] = {}

    def _hook(self, verb, call_next, node, *a, **kw):
        with self.tracer.span(f"node:{self.dag}.{node.name}.{verb}"):
            return call_next(*a, **kw)

    def _fit(self, call_next, node, *a, **kw):
        return self._hook("fit", call_next, node, *a, **kw)

    def _transform(self, call_next, node, *a, **kw):
        return self._hook("transform", call_next, node, *a, **kw)

    def _start_run(self, run_id: str) -> None:
        self._runs[run_id] = self.tracer.begin(f"run:{self.dag}")

    def _end_run(self, run_id: str) -> None:
        self.tracer.end(self._runs.pop(run_id))


class SparkProbe:
    """Reads the JVM side: job groups, UI REST stage metrics, MXBeans and
    block-manager storage. Needs the Spark UI enabled. Only used between
    ops, outside op spans."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.mf = self.jvm.java.lang.management.ManagementFactory
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = (f"http://127.0.0.1:{port}/api/v1/applications/"
                    f"{self.sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.loads(r.read())

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, jobs: list[int]) -> list[int]:
        ids = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stage_metrics(self, stage_ids: list[int]) -> dict:
        """Totals over the completed stages among ``stage_ids``: stage
        count, task seconds, shuffle read/write and spill MB, and the
        largest max/median task-time ratio (skew)."""
        tot = defaultdict(float)
        wanted = set(stage_ids)
        for st in self._get("/stages?status=complete"):
            if st["stageId"] not in wanted:
                continue
            tot["stages"] += 1
            tot["task_s"] += st["executorRunTime"] / 1000.0
            tot["shuffle_read_mb"] += st["shuffleReadBytes"] / MB
            tot["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            tot["spill_mb"] += (st["memoryBytesSpilled"]
                                + st["diskBytesSpilled"]) / MB
            if st["numTasks"] > 1:
                q = self._get(f"/stages/{st['stageId']}/{st['attemptId']}"
                              "/taskSummary?quantiles=0.5,1.0")
                med, mx = q["executorRunTime"]
                if med > 0:
                    tot["task_skew"] = max(tot["task_skew"], mx / med)
        return tot

    def gc_s(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def jit_s(self) -> float:
        return self.mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def storage(self) -> tuple[int, float, float]:
        """(persistent RDDs, storage memory MB, storage disk MB), read
        after a Python and a JVM garbage collection."""
        gc.collect()
        self.jvm.java.lang.System.gc()
        time.sleep(0.05)  # let the ContextCleaner drain what GC freed
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mem = sum(i.memSize() for i in infos) / MB
        disk = sum(i.diskSize() for i in infos) / MB
        return self.sc._jsc.getPersistentRDDs().size(), mem, disk
