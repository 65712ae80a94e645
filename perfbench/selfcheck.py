#!/usr/bin/env python3
"""Check that Spark's job, stage and task counts repeat exactly.

    python3 perfbench/selfcheck.py --workload refresh_batch --seed 3 --seconds 5

Makes two traced runs of the same workload and seed, one after the
other, and compares the counts every span recorded in both, in order.
Exits 1 and names the first span that differs, so a later change can
cite a count as exact only while this passes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("jobs", "stages", "tasks")


def spans_by_op(path: str) -> list[list[tuple]]:
    """Every operation's spans as (name, jobs, stages, tasks) rows."""
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    ops: dict[int, list[tuple]] = {}
    for s in spans:
        ops.setdefault(s["op"], []).append(
            (s["name"], *(s["counters"][k] for k in COUNTS))
        )
    return [ops[k] for k in sorted(ops)]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("api_mix", "refresh_batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5)
    args = p.parse_args()
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    runs = []
    for label in ("a", "b"):
        path = os.path.join(out, f"selfcheck-{args.workload}-seed{args.seed}-{label}.trace.json")
        subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "run.py"),
                "--workload", args.workload,
                "--seed", str(args.seed),
                "--seconds", str(args.seconds),
                "--trace", "1",
                "--trace-out", path,
            ],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        runs.append(spans_by_op(path))
    a, b = runs
    n = min(len(a), len(b))
    for i in range(n):
        if a[i] != b[i]:
            print(f"operation {i} differs:\n  first : {a[i]}\n  second: {b[i]}", file=sys.stderr)
            return 1
    print(f"counts of {n} operations repeat exactly", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
