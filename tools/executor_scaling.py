"""Executor-level scaling evidence: the north rule's literal "N vs 4N
executors", run as real separate executor JVM processes via Spark's
local-cluster mode (each executor = its own process, own heap, own GC —
the per-executor environment is IDENTICAL across legs, unlike single-JVM
local[N] where one heap serves all cores).

Legs: local-cluster[1,C,M] vs local-cluster[4,C,M] (default C=6 so the 4N
leg's 24 executor cores + driver fit the 32-core box). Whole process tree
CPU-pinned per leg to executors*C + driver headroom.  The job, warm-up and
best-of-3 timing are ``tools/scaling_bench.run_leg``'s.

Usage: python tools/executor_scaling.py [sf_dir] [rep] [cores_per_exec]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scaling_bench import run_leg  # noqa: E402


def run_level(n_exec: int, cpe: int, sf_dir: str, rep: int) -> dict:
    conf = {"spark.master": f"local-cluster[{n_exec},{cpe},4096]", "spark.executor.memory": "4g"}
    pin_cores = min(n_exec * cpe + 2, 32)  # executors + driver headroom
    leg = run_leg(conf, n_exec * cpe, pin_cores, sf_dir, rep)
    return {"executors": n_exec, "cores_per_exec": cpe, **leg}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    cpe = int(sys.argv[3]) if len(sys.argv) > 3 else 6

    low = run_level(1, cpe, sf_dir, rep)
    high = run_level(4, cpe, sf_dir, rep)
    eff = (high["rows_per_sec"] / low["rows_per_sec"]) / 4
    print(json.dumps({"low": low, "high": high, "scaling_efficiency": round(eff, 3)}))


if __name__ == "__main__":
    main()
