"""Split the counts job's CPU time into a fixed part and a part per input
row.

    python3 perfbench/sizing.py --workload mix --seed 1 --rows 10000,50000,100000

One session runs the warm-up the benchmark runs, then ``ROUNDS`` rounds of
one counts job at each size (every result checked against the oracle).
A least-squares line through each size's median CPU time (the JVM and its
Python workers, as ``seq_per_cpu_s`` counts it) gives the fixed CPU seconds
per job and the CPU microseconds per input row, and from them the share of
a job that grows with the input at the benchmark's own size.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np

import run
from stats import median

ROUNDS = 3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOAD_ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", required=True, help="comma-separated input sizes")
    args = ap.parse_args()

    work = run.STATE / f"sizing-{os.getpid()}"
    conf = run.prepare_env(work)
    try:
        benches = [
            run.Bench(args.workload, args.seed, work, conf, int(n)) for n in args.rows.split(",")
        ]
        first = benches[0]
        first.start()
        try:
            for b in benches:
                b.spark = first.spark
            for _ in range(run.WARMUP_JOBS):
                first.op("warmup", first.counts)
            times: dict[int, list[float]] = {b.n_rows: [] for b in benches}
            for _ in range(ROUNDS):
                for b in benches:
                    cpu0 = run.tree_cpu_s(os.getpid())
                    b.op(f"counts {b.n_rows}", b.counts)
                    times[b.n_rows].append(run.tree_cpu_s(os.getpid()) - cpu0)
        finally:
            first.stop()
            run.stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if any(b.failed for b in benches):
        print("a counts job failed", file=sys.stderr)
        return 1
    rows = np.array(sorted(times), dtype=float)
    secs = np.array([median(times[int(n)]) for n in rows])
    per_row, fixed = np.polyfit(rows, secs, 1)
    n = run.WORKLOAD_ROWS[args.workload]
    for r, t in zip(rows, secs):
        print(f"{int(r):>9} rows: median {t:.2f} CPU s of {times[int(r)]}")
    print(f"fixed {fixed:.2f} CPU s per job, {per_row * 1e6:.1f} CPU us per row")
    print(f"at {n} rows: {per_row * n / (fixed + per_row * n):.0%} of the job grows with the input")
    return 0


if __name__ == "__main__":
    sys.exit(main())
