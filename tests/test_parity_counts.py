"""PARITY.md bookkeeping pins (VERDICT r5 #7 / #4).

PARITY.md is the map the next round navigates by; these tests force
its two load-bearing numbers to track the code: the registry count,
and the NEVER_GATED ledger (queries that have not yet been inside any
round's driver-gated window). The ledger must shrink monotonically as
gate rotation proceeds — growing it requires a conscious PARITY.md
edit, which this test turns into a reviewable diff.
"""

from __future__ import annotations

import ast
import glob
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from mldag_spark.queries import ORACLES, REGISTRY  # noqa: E402


def _parity_text() -> str:
    return (REPO / "PARITY.md").read_text()


def test_parity_registry_count_matches_code():
    m = re.search(r"\((\d+) entries: (\d+) DuckDB\noracle-matched \+ (\d+) rows-only", _parity_text())
    assert m, "PARITY.md registry-count sentence not found"
    total, oracle, rows_only = map(int, m.groups())
    assert total == len(REGISTRY)
    assert oracle == len(ORACLES)
    assert rows_only == len(set(REGISTRY) - set(ORACLES))


def _computed_never_gated() -> set[str]:
    ever = set(list(entrymod.queries())[:50])
    # r*.json, not r0*.json — the glob must keep matching from round
    # 10 onward or rotated-out queries would wrongly re-enter the ledger
    for f in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        ever |= set(json.load(open(f)))
    return set(REGISTRY) - ever


def _documented_never_gated() -> set[str]:
    text = _parity_text()
    section = text.split("## Gate-coverage ledger (NEVER_GATED)", 1)[1]
    return set(re.findall(r"`([a-z0-9_]+)`", section)) & set(REGISTRY)


def test_never_gated_ledger_is_current_and_shrinking():
    computed = _computed_never_gated()
    documented = _documented_never_gated()
    # the ledger must list exactly the currently never-gated queries —
    # stale entries (already gated) and missing entries (new queries
    # registered outside the window, or rotation regressions) both fail
    assert computed == documented, (
        f"PARITY NEVER_GATED ledger out of date: "
        f"missing={sorted(computed - documented)}, "
        f"stale={sorted(documented - computed)}"
    )


def _defined_names(rel: str) -> set[str]:
    """Dotted names of the definitions in ``mldag_spark/<rel>``:
    module- and class-level functions, classes and assigned names
    (``MLDag.fit``, ``_KIND_ORDER``)."""
    names: set[str] = set()

    def walk(body, prefix):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.add(prefix + node.name)
            elif isinstance(node, ast.ClassDef):
                names.add(prefix + node.name)
                walk(node.body, f"{prefix}{node.name}.")
            elif isinstance(node, ast.Assign):
                names.update(
                    prefix + t.id for t in node.targets
                    if isinstance(t, ast.Name)
                )
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                names.add(prefix + node.target.id)

    walk(ast.parse((REPO / "mldag_spark" / rel).read_text()).body, "")
    return names


def test_parity_cites_resolve_to_definitions():
    """Every `core/*.py::Symbol` / `persistence.py::Symbol` cite in
    PARITY.md (comma-separated symbols share one file) must name a
    definition in the current source, resolved with ``ast``: a
    renamed or deleted function, method, class or module constant
    fails here instead of leaving a stale map (VERDICT r7 #6). Cites
    by symbol do not drift when code moves, so line-number cites of
    these files are refused.

    Reference-side cites (``mldagbase.py:…``, bare ``graph.py:…``,
    ``display.py:…``) are out of scope — they cite the read-only
    reference checkout, not this repo.
    """
    text = _parity_text()
    line_cite = re.compile(r"`(?:core/\w+|persistence)\.py:\d")
    assert not line_cite.findall(text), "cite by symbol, not by line"
    cite = re.compile(r"`((?:core/\w+|persistence)\.py)::([\w.,]+)`")
    checked = 0
    bad = []
    for m in cite.finditer(text):
        rel, syms = m.groups()
        defined = _defined_names(rel)
        for sym in syms.split(","):
            checked += 1
            if sym not in defined:
                bad.append(f"{rel}::{sym}")
    assert checked >= 40, f"cite regex matched too little ({checked})"
    assert not bad, f"PARITY cites name no definition: {bad}"


# Core-scaled probe gates per SCALING column: sf0.1/sf1.0 rows ran in
# the local[32] session (clean anchor 0.34s, gate 1.25x), sf3.0/sf10 in
# local[16] (anchor 0.68s). VERDICT r9 #6: any row whose probe stamp
# exceeds its gate must be machine-readably marked dirty so automation
# can filter poisoned measurements without reading prose notes.
_PROBE_GATES = {
    "probe_sf0.1": 0.425,
    "probe_sf1.0": 0.425,
    "probe_sf3.0": 0.85,
    "probe_sf10": 0.85,
    "probe_sf10_post": 0.85,
}


def test_scaling_rows_over_probe_gate_are_marked_dirty():
    data = json.load(open(REPO / "SCALING.json"))
    bad = []
    for q, row in data["queries"].items():
        for key, gate in _PROBE_GATES.items():
            v = row.get(key)
            col_dirty = row.get(
                key.replace("probe_", "").replace("_post", "") + "_dirty"
            )
            if isinstance(v, (int, float)) and v > gate and not col_dirty:
                bad.append((q, key, v))
    assert bad == [], f"probe stamp over gate without dirty mark: {bad}"


def test_known_poisoned_sf10_rows_stay_marked_until_restamped():
    # The r9 sf10 epoch poisoned these two rows mid-flight (row-start
    # probes read clean; the unchanged-code control proved the window,
    # SCALING.json:sf10_remeasure_r9). Until a clean-window re-measure
    # restamps them (which should DELETE the dirty mark alongside the
    # new probe stamps), they must stay machine-readably flagged so a
    # reader greping ratio_100x does not take 55.74/30.04 at face value.
    data = json.load(open(REPO / "SCALING.json"))
    for q, poisoned_wall in (
        ("dedup_ngram_jaccard", 346.264),
        ("dedup_components", 329.644),
    ):
        row = data["queries"][q]
        if abs(row.get("sf10_sec", 0) - poisoned_wall) < 0.01:
            assert row.get("sf10_dirty") is True, q
            assert "dirty_reason" in str(sorted(row)), q
