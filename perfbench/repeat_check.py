#!/usr/bin/env python3
"""Check that the benchmark's counters repeat exactly.

    python3 perfbench/repeat_check.py --workload delta_refresh --seed 3

Runs ``run.py --trace 1`` twice with the same seed and compares, phase by
phase, the counters that must not depend on timing: Spark jobs, buckets
touched, memo hits and misses, object saves and skips, and root swaps.
The runs are timed loops and may complete different numbers of
operations; the operations both completed are compared. Prints every
mismatch and exits 1 if there is one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTERS = ("jobs", "buckets_touched", "memo_hits", "memo_misses", "saves",
            "save_skips", "root_swaps")


def traced_run(workload: str, seed: int, seconds: float) -> dict:
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", "1"],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".perfbench_out",
                        f"{workload}-seed{seed}-phases.json")
    with open(path) as f:
        phases = json.load(f)["phases"]
    # an operation may run a phase more than once: key by occurrence
    seen: Counter = Counter()
    out = {}
    for r in phases:
        out[r["op"], r["phase"], seen[r["op"], r["phase"]]] = r
        seen[r["op"], r["phase"]] += 1
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args(argv)
    a = traced_run(args.workload, args.seed, args.seconds)
    b = traced_run(args.workload, args.seed, args.seconds)
    common = sorted(set(a) & set(b))
    mismatches = 0
    for key in common:
        for c in COUNTERS:
            if a[key].get(c) != b[key].get(c):
                mismatches += 1
                print(f"op {key[0]} {key[1]} #{key[2]}: {c} "
                      f"{a[key].get(c)} != {b[key].get(c)}")
    print(f"{len(common)} phases compared on {len(COUNTERS)} counters: "
          f"{mismatches} mismatches")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
