"""Scaling-efficiency evidence for the north rule: run the IDENTICAL
end-to-end job on the IDENTICAL input at two parallelism levels (local[N] and
local[4N] — the sandbox stand-in for N vs 4N executors) and report throughput
at both plus efficiency = (thr_4N / thr_N) / 4.

Prints one JSON line.  ``run_leg`` is the one leg runner; it is shared with
``tools/executor_scaling.py`` (local-cluster sessions) and bench.py's hunt.

Usage: python tools/scaling_bench.py [sf_dir] [rep] [n_low] [n_high]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: a fresh interpreter per leg, so every leg starts its own JVM
RUNNER = "import sys; sys.path.insert(0, %r); from tools.scaling_bench import _leg; _leg(*sys.argv[1:])" % REPO


def _leg(conf: str, cores: str, sf_dir: str, rep: str, n_runs: str) -> None:
    """One leg, in this process: the routed pipeline folded through bench's
    sink, one warm-up then best-of-``n_runs``.  Prints one JSON line."""
    import time

    from bench import _noop_sink
    from go_fluentd_spark.config import DEFAULT_CONFIG
    from go_fluentd_spark.operators.dispatcher import route
    from go_fluentd_spark.plans import pipeline as P
    from go_fluentd_spark.session import build_spark
    from go_fluentd_spark.sources.synth import sequences_df

    cores, rep = int(cores), int(rep)
    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    spark = build_spark(
        "scaling", cores=cores, shuffle_partitions=cores * 2,
        extra_conf={"spark.local.dir": "/dev/shm/spark-tmp", **json.loads(conf)},
    )

    def job():
        return _noop_sink(route(spark, P.chain(spark, sequences_df(spark, sf_dir, rep=rep)), DEFAULT_CONFIG))

    n_rows = P.chain(spark, sequences_df(spark, sf_dir, rep=rep), upto="ingested").count()
    job()  # warm-up (JVM JIT, file listing, broadcast)
    best = None
    for _ in range(int(n_runs)):
        t0 = time.perf_counter()
        job()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    print(json.dumps({"cores": cores, "rows": n_rows, "sec": round(best, 3),
                      "rows_per_sec": round(n_rows / best, 1)}))
    spark.stop()


def run_leg(conf: dict, cores: int, pin: int, sf_dir: str, rep: int, n_runs: int = 3) -> dict:
    """Run one leg in a fresh process: a session over ``cores`` task slots
    with ``conf`` on top of ``build_spark``'s, the whole process tree pinned
    to CPUs 0..pin-1."""
    # Pin the whole process tree: in local[N] the JVM's GC/JIT/shuffle
    # threads are NOT bounded by N, so an unpinned low-N leg borrows idle
    # cores and understates scaling.  taskset makes "N cores" mean N cores —
    # the cluster analogue where an executor's cgroup caps it.
    cmd = [sys.executable, "-c", RUNNER, json.dumps(conf), str(cores), sf_dir, str(rep), str(n_runs)]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{pin - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=2400)
    for line in out.stdout.strip().splitlines()[::-1]:
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"runner failed (cores={cores}, conf={conf}):\n{out.stderr[-2000:]}")


def run_level(cores: int, sf_dir: str, rep: int, n_runs: int = 3) -> dict:
    """A local[cores] leg pinned to exactly ``cores`` CPUs."""
    return run_leg({}, cores, cores, sf_dir, rep, n_runs)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_low = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_high = int(sys.argv[4]) if len(sys.argv) > 4 else 32

    low = run_level(n_low, sf_dir, rep)
    high = run_level(n_high, sf_dir, rep)
    ratio = n_high / n_low
    eff = (high["rows_per_sec"] / low["rows_per_sec"]) / ratio
    result = {
        "sf_dir": sf_dir,
        "rows": low["rows"],
        "low": low,
        "high": high,
        "core_ratio": ratio,
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
