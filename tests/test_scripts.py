"""Checks on the scripts, on citations of them and on one engine
idiom; all Spark-free but one, which runs scripts/dump_plans.py in a
subprocess.

A script that builds its own session without the engine's confs gates
or measures plans no caller gets; one that runs queries outside a
``materialize.scope()`` carries their blocks into the next query; a
cited ``scripts/<name>.py`` that was deleted sends the reader nowhere;
a size probe written outside ``materialize.collect_bounded`` costs the
extra Spark action that function exists to save; prose copied from
SCALING.json into its harness drifts from the file that owns it.
"""

from __future__ import annotations

import ast
import importlib.util
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_every_session_builder_applies_recommended_confs():
    files = [*(REPO / "scripts").glob("*.py"), REPO / "bench.py",
             REPO / "tests" / "conftest.py", REPO / "perfbench" / "run.py"]
    builders = [p for p in files if "SparkSession.builder" in p.read_text()]
    assert REPO / "scripts" / "check_oracle.py" in builders
    missing = [str(p.relative_to(REPO)) for p in builders
               if "recommended_session_confs()" not in p.read_text()]
    assert not missing, missing


def test_every_query_running_script_opens_a_scope():
    # the caller that runs a query's last action owns the scope that
    # releases its checkpoints and caches (mldag_spark/materialize.py)
    files = [*(REPO / "scripts").glob("*.py"), REPO / "bench.py"]
    runners = [p for p in files if "queries()" in p.read_text()
               and re.search(r"\.save\(\)|\.toPandas\(\)", p.read_text())]
    assert {"bench.py", "time_queries.py", "check_oracle.py",
            "bench_scaling.py"} <= {p.name for p in runners}
    missing = [p.name for p in runners if "scope()" not in p.read_text()]
    assert not missing, missing


def test_cited_script_paths_exist():
    sources = [*(REPO / "mldag_spark").rglob("*.py"),
               *(REPO / "tests").rglob("*.py"), *(REPO / "scripts").glob("*.py"),
               REPO / "README.md", REPO / ".claude" / "skills" / "verify" / "SKILL.md"]
    cited = {(name, str(p.relative_to(REPO))) for p in sources
             for name in re.findall(r"scripts/(\w+\.py)", p.read_text())}
    assert ("check_oracle.py", "README.md") in cited
    dangling = sorted(c for c in cited
                      if not (REPO / "scripts" / c[0]).is_file())
    assert not dangling, dangling


def _size_probes(tree: ast.AST):
    """(function, line) of each ``X.limit(n + 1)`` that is not a
    top-(n+1) sort-limit, and of each ``X.limit(n).count()``."""
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            recv = node.func.value
            arg = node.args[0] if node.args else None
            plus_one = (isinstance(arg, ast.BinOp)
                        and isinstance(arg.op, ast.Add)
                        and isinstance(arg.right, ast.Constant)
                        and arg.right.value == 1)
            ordered = (isinstance(recv, ast.Call)
                       and isinstance(recv.func, ast.Attribute)
                       and recv.func.attr in ("orderBy", "sort"))
            if node.func.attr == "limit" and plus_one and not ordered:
                found.append((fn, node.lineno))
            if (node.func.attr == "count" and isinstance(recv, ast.Call)
                    and isinstance(recv.func, ast.Attribute)
                    and recv.func.attr == "limit"):
                found.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_size_decisions_go_through_collect_bounded():
    # finish-on-the-driver decisions are made once, in
    # materialize.collect_bounded: one limit(cap + 1) action that
    # measures and fetches together
    probes = {
        (str(p.relative_to(REPO)), fn, line)
        for p in (REPO / "mldag_spark").rglob("*.py")
        for fn, line in _size_probes(ast.parse(p.read_text()))
    }
    assert {(path, fn) for path, fn, _ in probes} == {
        ("mldag_spark/materialize.py", "collect_bounded")}, sorted(probes)
    sample = ast.parse("a = df.limit(cap + 1).count()\n"
                       "b = df.orderBy('c').limit(k + 1).collect()\n")
    assert [line for _, line in _size_probes(sample)] == [1, 1]


def test_plan_normalize_masks_stream_workdirs():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_normalize", REPO / "scripts" / "plan_normalize.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    line = "Location: InMemoryFileIndex [file:/tmp/{}/sketch]"
    a, b, c = (mod.normalize(line.format(d)) for d in (
        "stream_hh_x9879nz1", "stream_hh_8w_sqynb", "stream_pack_xdsrrusu"))
    assert a == b == "Location: InMemoryFileIndex [file:/tmp/stream_hh_x/sketch]"
    assert c != a  # the prefix still tells the queries apart


def test_dump_plans_runs_udf_queries_from_another_directory(tmp_path, sf_dir):
    # the Python workers of a UDF query must find mldag_spark even when
    # neither the working directory nor PYTHONPATH holds the repo
    import os
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / "dump_plans.py"), "out",
         "--sf", sf_dir, "--only", "multimodal_fitted_audit"],
        cwd=tmp_path, env=env, capture_output=True, timeout=600, check=True,
    )
    plan = (tmp_path / "out" / "multimodal_fitted_audit.txt").read_text()
    assert not plan.startswith("ERROR"), plan[:300]
    assert "== Physical Plan ==" in plan


def _bench_scaling():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", REPO / "scripts" / "bench_scaling.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _scaling() -> dict:
    return json.loads((REPO / "SCALING.json").read_text())


def test_scaling_merge_without_rows_is_byte_identical():
    # SCALING.json owns the harness's prose, so merging nothing into it
    # gives it back unchanged; and loading the harness starts no Spark
    text = (REPO / "SCALING.json").read_text()
    assert json.dumps(_bench_scaling().merge(json.loads(text), {}), indent=1) == text
    loaded = subprocess.run(
        [sys.executable, "-c", "import sys; sys.path.insert(0, 'scripts'); "
         "import bench_scaling; print(sorted(m for m in sys.modules "
         "if m.split('.')[0] in ('pyspark', 'py4j')))"],
        cwd=REPO, capture_output=True, text=True, timeout=120, check=True)
    assert loaded.stdout.strip() == "[]"


def test_scaling_merge_restamps_the_ratio_prefix():
    prior = _scaling()
    old_row = prior["queries"]["q6_revenue_forecast"]
    old_text = prior["sf3.0_diagnoses"]["q6_revenue_forecast"]
    out = _bench_scaling().merge(prior, {
        "q6_revenue_forecast": {"sf3.0_sec": 9.9, "ratio_30x": 48.06}})
    assert out["sf3.0_diagnoses"]["q6_revenue_forecast"] == (
        "48.06x at 30x data: " + old_text.split(": ", 1)[1])
    row = out["queries"]["q6_revenue_forecast"]
    assert row["sf1.0_sec"] == old_row["sf1.0_sec"]  # not re-measured: kept
    assert prior["sf3.0_diagnoses"]["q6_revenue_forecast"] == old_text


def test_scaling_merge_reports_a_core_count_change():
    # a 4-vCPU host cannot reproduce the 32-core rows, so replacing one
    # is reported; columns measured before the stamp count as local[32]
    # (sf0.1, sf1.0) and local[16] (sf3.0, sf10)
    mod = _bench_scaling()
    prior = _scaling()
    row = {"sf0.1_sec": 0.3, "cores_sf0.1": 4,
           "sf3.0_sec": 0.9, "cores_sf3.0": 16}
    assert mod.core_changes(prior, {"q6_revenue_forecast": row}) == [
        "q6_revenue_forecast sf0.1: 4 cores replace 32"]
    restamped = mod.merge(prior, {"q6_revenue_forecast": row})
    assert mod.core_changes(restamped, {"q6_revenue_forecast": row}) == []


def test_bench_scaling_holds_no_prose():
    # diagnoses, notes and session text live in SCALING.json only
    tree = ast.parse((REPO / "scripts" / "bench_scaling.py").read_text())

    def is_str(node):
        return isinstance(node, ast.JoinedStr) or (
            isinstance(node, ast.Constant) and isinstance(node.value, str))

    prose = []
    for stmt in tree.body:
        if not isinstance(stmt, (ast.Assign, ast.AnnAssign)) or stmt.value is None:
            continue
        for node in ast.walk(stmt.value):
            if ((is_str(node) and node.end_lineno > node.lineno)
                    or (isinstance(node, ast.Dict) and any(map(is_str, node.values)))):
                prose.append(stmt.lineno)
    assert not prose, prose
