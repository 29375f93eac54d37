#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/smoke.py

For every workload in ``BENCHMARK.json`` it runs ``run.py --scale smoke``
three times, each a fresh process, and asserts:

- untraced: every end-to-end metric is emitted with its declared unit,
  ``attempted >= 1`` and ``failed == 0`` (``op_fail_frac == 0``);
- traced: every per-layer metric is emitted with its declared unit;
- sabotaged (one expected answer corrupted): exactly one op counts as
  failed and the run reports ``correct: false``.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "0",
           "--scale", "smoke", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        raise SystemExit(f"{what}: metric names differ: missing "
                         f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        if got[name]["unit"] != unit:
            raise SystemExit(f"{what}: {name} has unit {got[name]['unit']!r}, not {unit!r}")
        if not isinstance(got[name]["value"], (int, float)):
            raise SystemExit(f"{what}: {name} value is not a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        plain = run(w, "--trace", "0")
        check_metrics(plain, bench["end_to_end"], f"{w} untraced")
        if not (plain["correct"] and plain["attempted"] >= 1 and plain["failed"] == 0):
            raise SystemExit(f"{w}: op_fail_frac != 0: {plain['failed']}/{plain['attempted']}")
        traced = run(w, "--trace", "1")
        check_metrics(traced, bench["per_layer"], f"{w} traced")
        if traced["failed"]:
            raise SystemExit(f"{w} traced: {traced['failed']} ops failed")
        bad = run(w, "--trace", "0", "--sabotage")
        if bad["correct"] or bad["failed"] != 1:
            raise SystemExit(f"{w}: a corrupted expected answer was not counted as "
                             f"one failed op: {bad['failed']} failed, correct={bad['correct']}")
        print(f"{w}: ok ({plain['attempted']} ops; sabotaged run counted "
              f"{bad['failed']}/{bad['attempted']} failed)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
