"""Smoke self-test and fingerprint recorder for the benchmark.

    python3 perfbench/selftest.py             # smoke test
    python3 perfbench/selftest.py --record 0.01

The smoke test runs every workload at sf0.001 for one warm-up and one
timed pass, with ``--trace 0`` and ``--trace 1``, and checks the last output line: the
four keys, every metric of the matching BENCHMARK.json section with its
unit, finite values, and no failed op.

``--record SF`` re-records the expected result fingerprints at scale
factor SF in ``expected.json``. It runs each workload under two seeds
and keeps a fingerprint only if every run agrees. Record only from code
whose results are known to be right.

Run both from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload: str, seed: int, trace: int, sf: float,
          quick: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "0", "--trace",
           str(trace), "--sf", str(sf)]
    if quick:
        cmd += ["--warmup", "1", "--passes", "1"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        raise AssertionError(f"{cmd} exited {res.returncode}:\n"
                             f"{res.stderr[-3000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def smoke() -> int:
    spec = run.load_spec()
    problems = []
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            out = bench(workload, 0, trace, 0.001, quick=True)
            want = spec["per_layer" if trace else "end_to_end"]
            where = f"{workload} trace={trace}"
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{where}: correct={out['correct']} "
                                f"failed={out['failed']}")
            if [m["name"] for m in want] != list(out["metrics"]):
                problems.append(f"{where}: metric names differ")
            for m in want:
                got = out["metrics"].get(m["name"], {})
                if got.get("unit") != m["unit"]:
                    problems.append(f"{where}: {m['name']} unit {got}")
                elif not math.isfinite(got["value"]):
                    problems.append(f"{where}: {m['name']} = {got['value']}")
            print(f"ok {where}: {len(out['metrics'])} metrics, "
                  f"{out['attempted']} ops")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


def record(sf: float) -> int:
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    key = run.sf_name(sf)
    expected.pop(key, None)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    seen: dict[str, set] = {}
    for workload in run.WORKLOADS:
        for seed in (1, 2):
            out = bench(workload, seed, 0, sf, quick=True)
            if not out["correct"]:
                raise AssertionError(f"{workload} seed {seed} failed")
            with open(os.path.join(
                    run.WORK, f"run-{workload}-seed{seed}.json")) as f:
                for rec in json.load(f)["ops"]:
                    for fp in rec.get("fingerprints", []):
                        seen.setdefault(rec["name"], set()).add(tuple(fp))
    unstable = sorted(n for n, fps in seen.items() if len(fps) != 1)
    if unstable:
        print("unstable fingerprints, not recorded:", unstable)
        return 1
    expected[key] = {n: list(next(iter(fps))) for n, fps in sorted(seen.items())}
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    print(f"recorded {len(seen)} fingerprints at {key}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--record", type=float, metavar="SF")
    args = ap.parse_args()
    return smoke() if args.record is None else record(args.record)


if __name__ == "__main__":
    sys.exit(main())
