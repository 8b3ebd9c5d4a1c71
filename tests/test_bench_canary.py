"""bench.py's driver line and its canary baseline choice (never HEAD's
own code). Spark-free."""

from __future__ import annotations

import json
import os
import subprocess

from bench import _auto_canary_ref


def test_canary_skips_round_commits_with_heads_package():
    # newest first: a round-end snapshot that holds HEAD's package,
    # then the previous round's code
    trees = {"c3": "tree-head", "c2": "tree-head", "c1": "tree-prev",
             "c0": "tree-older"}
    asked = []

    def tree_of(c):
        asked.append(c)
        return trees[c]

    assert _auto_canary_ref(["c3", "c2", "c1", "c0"], tree_of,
                            "tree-head") == "c1"
    assert asked == ["c3", "c2", "c1"]  # stops at the first difference


def test_canary_takes_newest_round_commit_when_it_differs():
    trees = {"c1": "tree-prev", "c0": "tree-older"}
    assert _auto_canary_ref(["c1", "c0"], trees.__getitem__,
                            "tree-head") == "c1"


def test_canary_has_no_ref_when_every_round_matches_head():
    assert _auto_canary_ref(["c1", "c0"], lambda c: "tree-head",
                            "tree-head") is None
    assert _auto_canary_ref([], lambda c: "x", "tree-head") is None


PARENT_KEYS = [
    "metric", "value", "value_normalized", "unit", "queries", "sf",
    "repeats", "failed", "probe_min_sec", "shuffle_min_sec",
    "canary_ratio_vs_prev", "canary_ref", "detail_file",
]


def test_driver_line_keeps_parent_keys_then_adds_cpus_and_anchor():
    from bench import HEADLINE, driver_line, probe_anchor, resolve_cpus

    runs = {n: [12.345, 11.111, -1.0, 10.999] for n in HEADLINE}
    runs["q1_pricing_summary"] = [-1.0] * 4
    ncpu = resolve_cpus("*")
    anchor = probe_anchor(ncpu)
    line = driver_line(
        runs, [anchor * 1.1] * 4, [2.345] * 4, anchor,
        {"ratio_vs_prev": 0.987, "ref": "abc1234"},
        "data/sf0.01", ncpu, "/" + "d" * 200 + "/BENCH_DETAIL.json",
    )
    assert list(line) == PARENT_KEYS + ["cpus", "probe_anchor_sec"]
    assert line["cpus"] == ncpu and isinstance(ncpu, int) and ncpu >= 1
    assert line["probe_anchor_sec"] == round(anchor, 4)
    assert line["failed"] == ["q1_pricing_summary"]
    assert line["value"] == round(10.999 * (len(HEADLINE) - 1), 3)
    assert line["sf"] == 0.01 and line["repeats"] == 4
    assert line["value_normalized"] == round(line["value"] / 1.1, 3)
    assert len(json.dumps(line)) < 2000  # the driver's stdout tail


def test_resolve_cpus_and_core_scaled_anchor():
    from bench import PROBE_ANCHOR_SEC, probe_anchor, resolve_cpus

    assert resolve_cpus("4") == 4
    assert resolve_cpus("*") == (os.cpu_count() or 32)
    assert probe_anchor(32) == probe_anchor(64) == PROBE_ANCHOR_SEC
    assert probe_anchor(4) == PROBE_ANCHOR_SEC * 8


def _git(repo, *args):
    return subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.strip()


def _commit(repo, msg, files):
    for name, text in files.items():
        path = repo / name
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", msg)
    return _git(repo, "rev-parse", "--short", "HEAD")


def test_auto_canary_ref_takes_pr_commits(tmp_path):
    from bench import resolve_canary_ref

    _git(tmp_path, "init", "-q")
    _commit(tmp_path, "round 1: first", {"mldag_spark/a.py": "1",
                                         "CANARY_REF": "auto\n# comment\n"})
    pr2 = _commit(tmp_path, "PR 2: code", {"mldag_spark/a.py": "2"})
    _commit(tmp_path, "re-anchor @ PR 2: docs", {"mldag_spark/a.py": "2b"})
    pr3 = _commit(tmp_path, "PR 3: docs only", {"README": "x"})
    _commit(tmp_path, "PR 4: code", {"mldag_spark/a.py": "4"})
    # PR 4 holds HEAD's package; PR 3 is the previous code
    assert _git(tmp_path, "rev-parse", "--short", "HEAD~1") == pr3
    assert resolve_canary_ref(str(tmp_path)) == pr3
    _commit(tmp_path, "PR 5: docs only", {"README": "y"})
    assert resolve_canary_ref(str(tmp_path)) == pr3
    (tmp_path / "CANARY_REF").write_text(pr2 + "\n")
    assert resolve_canary_ref(str(tmp_path)) == pr2
