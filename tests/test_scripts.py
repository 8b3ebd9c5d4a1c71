"""Checks on the scripts and on citations of them; all Spark-free but
one, which runs scripts/dump_plans.py in a subprocess.

A script that builds its own session without the engine's confs gates
or measures plans no caller gets; one that runs queries outside a
``materialize.scope()`` carries their blocks into the next query; a
cited ``scripts/<name>.py`` that was deleted sends the reader nowhere.
"""

from __future__ import annotations

import re
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
               *(REPO / "tests").rglob("*.py"), REPO / "README.md"]
    cited = {(name, str(p.relative_to(REPO))) for p in sources
             for name in re.findall(r"scripts/(\w+\.py)", p.read_text())}
    assert ("check_oracle.py", "README.md") in cited
    dangling = sorted(c for c in cited
                      if not (REPO / "scripts" / c[0]).is_file())
    assert not dangling, dangling


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
