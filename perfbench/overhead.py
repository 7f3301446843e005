#!/usr/bin/env python3
"""Tracing overhead: one workload and seed, run untraced and then traced.

    python3 perfbench/overhead.py --workload compact_mor --seed 1 --seconds 10

Prints every end-to-end metric of both runs and the traced-minus-untraced
difference, also as a share of the untraced value. Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not trace:
        return {k: v["value"] for k, v in result["metrics"].items()}
    with open(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")) as f:
        return json.load(f)["end_to_end"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    print(f"{'metric':<22} {'untraced':>14} {'traced':>14} {'traced-untraced':>16} {'share':>8}")
    for k, v in plain.items():
        d = traced[k] - v
        print(f"{k:<22} {v:>14.4f} {traced[k]:>14.4f} {d:>16.4f} {d / v:>8.1%}")


if __name__ == "__main__":
    main()
