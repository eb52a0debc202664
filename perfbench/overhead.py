"""Tracing overhead: one untraced and one traced run of the same workload,
seed and length, one after the other.

    python3 perfbench/overhead.py --workload daily_cycle --seed 1 --seconds 12

Prints the per-op median of both runs and their difference, and exits 1
unless both runs are correct and report the same operations attempted and
failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", args.workload, "--seed",
         str(args.seed), "--seconds", str(args.seconds), "--trace",
         str(trace)], stdout=subprocess.PIPE, check=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    base = plain["metrics"]["op_p50_ms"]["value"]
    with_trace = traced["metrics"]["trace.op_p50_ms"]["value"]
    same = (plain["attempted"] == traced["attempted"]
            and plain["failed"] == traced["failed"])
    print(json.dumps({
        "workload": args.workload,
        "untraced": {"attempted": plain["attempted"],
                     "failed": plain["failed"], "op_p50_ms": base},
        "traced": {"attempted": traced["attempted"],
                   "failed": traced["failed"], "op_p50_ms": with_trace,
                   "tracer_self_ms_per_op":
                       traced["metrics"]["trace.self_ms_per_op"]["value"]},
        "overhead_ms_per_op": with_trace - base,
        "overhead_share": (with_trace - base) / base,
        "same_operations": same}))
    return 0 if same and plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
