"""bench.py's canary baseline choice: never HEAD's own code."""

from __future__ import annotations

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
