#!/usr/bin/env python3
"""Run-to-run steadiness: run the benchmark once per seed and print, per
metric, the median and the spread (quartile distance over median).

    python3 perfbench/steadiness.py --workload bulk --seeds 1-10

Run from the repository root. Runs are sequential; each is the
benchmark's own command with BENCHMARK.json's ``run_seconds`` and
tracing off. The spread of every end-to-end metric should stay below
a third of its bound in BENCHMARK.json. ``setup_s`` is printed and
flagged like the others, but its spread is not gated: set-up is wall
time and follows the host's steal; only its median may not worsen by
more than its bound between two sets of runs.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = str(bench["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", seconds,
             "--trace", "0"],
            capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: {time.perf_counter() - t:.1f} s, "
              f"correct={result['correct']} attempted={result['attempted']}"
              f" failed={result['failed']}", flush=True)
        for line in proc.stderr.splitlines():
            if line.startswith("perfbench:"):
                print("   ", line, flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    for name, vals in values.items():
        bound = bounds.get(name)
        spread = stats.spread(vals)
        flag = "" if bound is None else (
            f"  bound {bound}" + ("  OVER A THIRD" if spread > bound / 3
                                   else ""))
        print(f"{name:34s} median {stats.median(vals):12.4f} {units[name]:6s}"
              f" spread {spread:.3f} n={len(vals)}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
