#!/usr/bin/env python3
"""Self-test of the benchmark. Run it from the repository root:

    python3 perfbench/selftest.py [workload ...]

1. Smoke: each workload runs once on the sf0.001 corpus (``--smoke``).
   The run must pass its correctness gate and print every metric named
   in BENCHMARK.json with that metric's unit.
2. Negative: with ``--corrupt`` one output row is dropped before the
   check. The gate must trip: exit code 1 and ``"correct": false``.
3. Bare directory: a copy holding only BENCHMARK.json and the benchmark
   directory must exit non-zero and print no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join("perfbench", "run.py")


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, RUN, *args], cwd=cwd, timeout=600,
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, last


def main(argv: list[str]) -> int:
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    problems = []
    for w in argv or sorted(WORKLOADS):
        code, res = run(["--workload", w, "--smoke"])
        if code != 0 or not res or res["correct"] is not True:
            problems.append(f"{w}: smoke run failed (exit {code}): {res}")
            continue
        got = res["metrics"]
        for name, unit in units.items():
            if name not in got:
                problems.append(f"{w}: metric {name} missing")
            elif got[name]["unit"] != unit:
                problems.append(f"{w}: {name} unit {got[name]['unit']} != {unit}")
        print(f"smoke {w}: ok, {len(got)} metrics")

    code, res = run(["--workload", bench["workloads"][0]["name"], "--smoke",
                     "--corrupt"])
    if code == 0 or not res or res["correct"] is not False:
        problems.append(f"corrupted output passed the gate (exit {code}): {res}")
    else:
        print("negative check: corrupted output trips the gate")

    bare = os.path.join(ROOT, ".perfbench_tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res = run(["--workload", bench["workloads"][0]["name"],
                         "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
        if code == 0 or res is not None:
            problems.append(f"bare directory run exited {code} with {res}")
        else:
            print(f"bare directory: exits {code} without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"PROBLEM: {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main(sys.argv[1:]))
