"""Run the benchmark once per seed and report each end-to-end metric's
spread: the distance between its first and third quartile as a share of its
median, next to the metric's bound.

    python3 perfbench/spread.py --workload mix --seeds 101-110

Runs go one after another, never two at a time.  Each run's JSON line is
appended to ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

from stats import median, quartile_spread

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    log = ROOT / ".perfbench" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in parse_seeds(args.seeds):
        t = time.perf_counter()
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **result}) + "\n")
        for k in values:
            values[k].append(result["metrics"][k]["value"])
        print(f"seed {seed}: {wall:.0f}s correct={result['correct']} "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    if len(values["setup_s"]) >= 2:
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            print(f"{m['name']}: median {median(v):.4g} spread {quartile_spread(v):.3f} bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
