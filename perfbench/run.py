#!/usr/bin/env python3
"""Layered extract benchmark: one command, four workloads.

    python3 perfbench/run.py --workload bulk|stream|skew|resume \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The seed picks the synth corpus window,
generated once and cached; set-up (corpus load, session start, a
warm-up pass, and for ``resume`` the restart state) is timed as
``setup_s``. The workload op is then repeated until ``--seconds`` of
measuring have passed, every output is checked against the
``refparser`` oracle, and the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones (see perfbench/layers.py). A failed
correctness check is reported on stderr, counts every operation as
failed, and makes the exit code 1. Scratch files live in
``.perfbench_work/`` under the repository root.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("bulk", "stream", "skew", "resume"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _env(run_dir: str) -> None:
    """Keep every file the run writes under the work directory, and let
    Spark's Python workers import the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.path.dirname(os.path.abspath(__file__))]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
           if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def _clear_stale_runs() -> None:
    """Remove the run directories of runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name[len("run-"):]
        if name.startswith("run-") and pid.isdigit() and \
                not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "document_parser_spark")):
        print("perfbench: document_parser_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    _clear_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _env(run_dir)
    from harness import Bench  # needs the package on sys.path

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  WORK, run_dir)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"]:
        print("perfbench: CORRECTNESS CHECK FAILED:\n  "
              + "\n  ".join(bench.errors), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
