"""Benchmark runner for go_fluentd_spark.

    python3 perfbench/run.py --workload mix --seed 7 --seconds 12 --trace 0

The runner makes the workload's ``orders.parquet`` from ``--seed`` (see
``gen.py``), builds a ``local[nproc]`` session through the program's own
``build_spark`` and drives the program's public APIs one Spark job at a
time.  Every result is checked against the DuckDB oracle.  The last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``; the exit code is 1 when an operation failed or disagreed with
the oracle.

``--trace 0`` reports the end-to-end metrics.  After an untimed warm-up, it
times counts jobs, in wall and CPU seconds, until ``--seconds`` have passed.
A counts job is one action over ``route(enriched(...))`` that returns the
row count and token checksum per (sink, tag).

``--trace 1`` reports the per-layer metrics from one session with the
Spark event log on.  After one warm-up job it times the counts job, then
each layer on its own: every layer's input is the persisted output of the
layer before it.  Then come ``write_sinks`` and a fresh ``ManifestedRun.run`` with its
no-op rerun.  Spans tag their Spark jobs with a job group, and after
``spark.stop()`` the event log gives each span's jobs, shuffle, spill, GC
and task times.  The spans are written to
``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import threading
import time
import traceback
from pathlib import Path
import gen
from spans import Tracer, harvest_event_log, total
from stats import median

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
CORES = len(os.sched_getaffinity(0))
T0 = time.perf_counter()

#: rows per workload.  A warm counts job costs ~11 CPU s whatever its size,
#: plus 145 CPU us a row on mix and 58 on multiline_skew (4 cores;
#: ``sizing.py`` measures it), so at these sizes only 14-21% of a job grows
#: with the input.  Sizes where that part leads make a run take over 90 s,
#: and 4 + 22 * 2 runs must fit in 3420 s.
WORKLOAD_ROWS = {"mix": 20_000, "multiline_skew": 30_000}
#: the JIT keeps speeding the counts job up for its first three or four runs
#: in a session: set-up runs two, and the median of at least three timed runs
#: drops the slowest, still-warming one
WARMUP_JOBS = 2
MIN_SAMPLES = 3
#: ManifestedRun resume granule: one bucket per core, so that the sink run
#: does not mostly time small-file overhead at these input sizes
N_BUCKETS = CORES


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def workload_keys(workload: str, seed: int, n_rows: int):
    if workload == "mix":
        return gen.mix_keys(seed, n_rows)
    return gen.multiline_skew_keys(seed, n_rows)


# -- process environment -------------------------------------------------------


def driver_mem() -> str:
    """A sixth of physical memory, between 1g and 4g: the host is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (6 * 1024 * 1024)))}g"


def prepare_env(work: Path) -> dict[str, str]:
    """Point every temp and scratch location into ``work`` and let the
    Python workers import the program; returns the Spark conf to add."""
    for d in ("tmp", "local", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    sys.path.insert(0, str(ROOT))
    return {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # build_spark's -Xss16m default guards the stream thread; keep it.
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Xss16m -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root``'s descendants, the driver JVM and its
    Python workers, with those of the children they have reaped."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root``'s descendants: pages shared by the
    forked Python workers count once in total, not once per worker."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
    return kb / 1e3


class MemorySampler:
    """Peak memory of this process's children, the driver JVM and its Python
    worker tree, since the last ``reset()``."""

    def __init__(self, interval: float = 0.2):
        self._peak = 0.0
        self._lock = threading.Lock()
        self._interval = interval
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._done.wait(self._interval):
            mb = tree_pss_mb(os.getpid())
            with self._lock:
                self._peak = max(self._peak, mb)

    def reset(self) -> float:
        """Return the peak so far and start a new one."""
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join(10)


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM this process launched and wait until it and
    every process under it have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    if descendants(os.getpid()):
        raise RuntimeError("child processes still running after shutdown")


# -- the operations ------------------------------------------------------------


class Bench:
    """One run's inputs, session, oracle results and operation tally.

    Operations time only the call into the program, in a span of
    ``tracer``; their checks run after the span."""

    def __init__(
        self, workload: str, seed: int, work: Path, conf: dict[str, str], n_rows: int | None = None
    ):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from expect import oracle_tables

        self.workload, self.seed, self.work, self.conf = workload, seed, work, conf
        self.keys = workload_keys(workload, seed, n_rows or WORKLOAD_ROWS[workload])
        self.n_rows = len(self.keys)
        self.sf = work / f"sf{self.n_rows}"
        self.sf.mkdir()
        pq.write_table(pa.table({"o_orderkey": self.keys}), self.sf / "orders.parquet")
        self.want_counts, self.want = oracle_tables(str(self.sf), str(work / "tmp"))
        self.spark = None
        self.tracer = Tracer(f"{workload}-seed{seed}")
        self.attempted = 0
        self.failed = 0
        self._outs = 0

    def start(self, extra: dict[str, str] | None = None) -> None:
        from go_fluentd_spark.session import build_spark

        self.spark = build_spark("perfbench", cores=CORES, extra_conf={**self.conf, **(extra or {})})

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def op(self, name: str, fn, *args) -> float | None:
        """Run one checked operation; returns its timed seconds, or None if
        it raised or its result disagreed with the oracle."""
        self.attempted += 1
        try:
            seconds, problems = fn(*args)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            traceback.print_exc(file=sys.stderr)
            seconds, problems = None, [f"{name} raised"]
        if problems:
            self.failed += 1
            for p in problems:
                log(f"{name} FAILED: {p}")
            return None
        log(f"{name} ok in {seconds:.2f}s")
        return seconds

    def counts(self, span: str = "counts") -> tuple[float, list[str]]:
        """One action over ``route(enriched(...))``: rows and token checksum
        per (sink, tag)."""
        from expect import collect_table, diff
        from go_fluentd_spark.config import DEFAULT_CONFIG as cfg
        from go_fluentd_spark.operators.dispatcher import route
        from go_fluentd_spark.plans import pipeline as P

        with self.tracer.span(span) as s:
            got = collect_table(route(self.spark, P.enriched(self.spark, str(self.sf), cfg), cfg))
        return s.duration, diff("counts", got, self.want)

    def sink_run(self, span: str = "manifest.run") -> tuple[float, list[str]]:
        """A fresh ``ManifestedRun.run``, then its tables and manifest read
        back."""
        from go_fluentd_spark.plans.manifest import ManifestedRun

        self._outs += 1
        self.out = self.work / f"out{self._outs}"
        run = ManifestedRun(self.spark, str(self.out), n_buckets=N_BUCKETS)
        with self.tracer.span(span) as s:
            stats = run.run(str(self.sf))
        return s.duration, self.check_sink(run, stats)

    def noop_run(self, span: str = "manifest.noop") -> tuple[float, list[str]]:
        """``ManifestedRun.run`` again over the fully committed output."""
        from go_fluentd_spark.plans.manifest import ManifestedRun

        run = ManifestedRun(self.spark, str(self.out), n_buckets=N_BUCKETS)
        with self.tracer.span(span) as s:
            stats = run.run(str(self.sf))
        ok = stats["buckets"] == 0 and stats["skipped"] == run.n_buckets
        return s.duration, [] if ok else [f"no-op rerun did work: {stats}"]

    def check_sink(self, run, stats: dict) -> list[str]:
        from pyspark.sql import functions as F

        from expect import collect_table, diff, per_sink
        from go_fluentd_spark.config import DEFAULT_CONFIG as cfg

        problems = []
        want_sink = per_sink(self.want)
        if stats["buckets"] != run.n_buckets or stats["rows"] != sum(want_sink.values()):
            problems.append(f"run stats {stats}")
        problems += diff("sink tables", collect_table(read_sinks(self.spark, self.out)), self.want)
        rows = (
            run.manifest()
            .filter(F.col("run_id") == stats["run_id"])
            .groupBy("sink")
            .agg(
                F.sum("rows").alias("rows"),
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("state") != "committed").alias("bad"),
            )
            .collect()
        )
        got = {r.sink: (int(r.rows), int(r.n), int(r.bad)) for r in rows}
        want = {s.name: (want_sink.get(s.name, 0), run.n_buckets, 0) for s in cfg.sinks}
        return problems + diff("manifest", got, want)


def read_sinks(spark, out: Path):
    """Every ``sink=<name>`` table under ``out`` as one frame with a ``sink``
    column."""
    dirs = [str(d) for d in out.iterdir() if d.name.startswith("sink=")]
    return spark.read.option("basePath", str(out)).parquet(*dirs)


# -- --trace 0: end-to-end -----------------------------------------------------


def run_end_to_end(bench: Bench, seconds: float) -> dict:
    samples: list[float] = []
    cpu: list[float] = []
    peaks: list[float] = []
    with MemorySampler() as mem:
        t0 = time.perf_counter()
        bench.start()
        for _ in range(WARMUP_JOBS):
            bench.op("warmup", bench.counts)
        setup_s = time.perf_counter() - t0
        t_start = time.perf_counter()
        while len(samples) < MIN_SAMPLES or time.perf_counter() - t_start < seconds:
            mem.reset()
            cpu0 = tree_cpu_s(os.getpid())
            dt = bench.op("counts", bench.counts)
            if dt is None:
                break
            cpu.append(tree_cpu_s(os.getpid()) - cpu0)
            samples.append(dt)
            peaks.append(mem.reset())
        bench.stop()
    log(f"setup {setup_s:.2f}s, counts wall {samples}, cpu {cpu}, peaks {peaks}")
    return {
        "setup_s": (setup_s, "s"),
        # CPU time, not wall time: on a shared 4-core host the same counts
        # job took 7.4 s and 12.3 s of wall time minutes apart, but 18.5 and
        # 18.4 CPU seconds
        "seq_per_cpu_s": (bench.n_rows / median(cpu) if cpu else None, "seq/cpu_s"),
        # a job's peak depends on when the JVM last collected garbage; the
        # median over the timed jobs is what repeats
        "peak_mem_mb": (median(peaks) if peaks else None, "MB"),
    }


# -- --trace 1: per layer ------------------------------------------------------


def run_traced(bench: Bench) -> dict:
    events = bench.work / "events"
    bench.start(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )

    def job_group(name: str | None) -> None:
        sc = bench.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    m: dict[str, float] = {}
    # one warm-up, not WARMUP_JOBS: a run must stay under 180 s even when a
    # shared 4-core host runs at half speed (it took 144 s then)
    bench.op("warmup", bench.counts, "warmup")
    tracer = bench.tracer
    tracer.on_enter = job_group
    cpu0 = tree_cpu_s(os.getpid())
    m["counts.wall_s"] = bench.op("e2e", bench.counts, "e2e")
    m["counts.cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
    with tracer.span("iteration"):
        enriched = layers(bench, m)
        bench.op("writer", writer_layer, bench, m, enriched)
        enriched.unpersist()
        m["manifest.run_s"] = bench.op("manifest", bench.sink_run, "manifest.run")
        m["manifest.noop_s"] = bench.op("manifest.noop", bench.noop_run, "manifest.noop")
    bench.stop()

    log_file = max(events.iterdir(), key=lambda p: p.stat().st_mtime)
    with open(log_file) as f:
        groups = harvest_event_log(f)
    concat = groups.get("concat", {})
    for k in ("shuffle_mb", "spill_mb", "task_skew"):
        m[f"concat.{k}"] = concat.get(k, math.nan)
    m["enrich.jobs"] = groups.get("enrich", {}).get("jobs", 0)
    m["manifest.jobs"] = groups.get("manifest.run", {}).get("jobs", 0)
    m["manifest.noop_jobs"] = groups.get("manifest.noop", {}).get("jobs", 0)
    m["manifest.noop_input_rows"] = groups.get("manifest.noop", {}).get("input_rows", 0)
    # the layer spans only: checks and untimed set-up run in the root
    # span's group
    tot = total({k: v for k, v in groups.items() if k not in (None, "iteration", "warmup", "e2e")})
    for k in ("jobs", "tasks", "shuffle_mb", "spill_mb", "gc_s", "task_skew", "task_tail_ms"):
        m[f"spark.{k}"] = tot[k]
    # the event log's cost to the jobs is not in it: measuring that takes a
    # second, untraced session, which the 180 s limit does not leave room for
    m["trace.overhead_s"] = tracer.overhead_s

    STATE.mkdir(exist_ok=True)
    dump = STATE / f"trace-{bench.workload}-seed{bench.seed}.json"
    for g in groups.values():
        g.pop("task_ms")
    dump.write_text(
        json.dumps(
            {
                "spans": tracer.dump(),
                "groups": {str(k): v for k, v in groups.items()},
                "task_tail_pct": tot["task_tail_pct"],
            },
            indent=1,
        )
    )
    log(f"spans written to {dump}")
    return {k: (m.get(k, math.nan), unit) for k, (unit, _, _) in PER_LAYER.items()}


def layers(bench: Bench, m: dict):
    """Time each layer's public function plus a persist-and-count action on
    the persisted output of the layer before it; returns the enriched frame,
    still persisted."""
    from pyspark.sql import functions as F

    from go_fluentd_spark.config import DEFAULT_CONFIG as cfg
    from go_fluentd_spark.operators.acceptor import acceptor_chain
    from go_fluentd_spark.operators.concat import concat_sessions
    from go_fluentd_spark.operators.dispatcher import route
    from go_fluentd_spark.operators.enrich import add_fields, es_index, msgid
    from go_fluentd_spark.operators.parser import parse
    from go_fluentd_spark.operators.postfilter import post_default
    from go_fluentd_spark.plans.pipeline import POST_STRING_COLS
    from go_fluentd_spark.sources.synth import sequences_df, with_ingest_columns

    spark = bench.spark

    def layer(name, build, prev=None):
        with bench.tracer.span(name) as s:
            df = build().persist()
            n = df.count()
        m[f"{name}.s"] = s.duration
        if prev is not None:
            prev.unpersist()
        return df, n

    # synth includes the receive step that derives tag/container/id
    synth, n_in = layer("synth", lambda: with_ingest_columns(sequences_df(spark, str(bench.sf))))
    m["synth.rows_out"] = n_in

    conc, n_conc = layer("concat", lambda: concat_sessions(synth, max_len=cfg.concat_max_len), synth)
    merged = conc.agg(F.sum("n_merged"), F.max("n_merged")).first()
    m["concat.rows_out"] = n_conc
    m["concat.fold_ratio"] = merged[0] / n_conc
    m["concat.max_merged"] = merged[1]

    acc, n_acc = layer("acceptor", lambda: acceptor_chain(conc, cfg), conc)
    m["acceptor.keep_ratio"] = n_acc / n_conc
    m["parser.input_mb"] = acc.agg(F.sum(F.length("source"))).first()[0] / 1e6

    par, n_par = layer("parser", lambda: parse(acc, cfg), acc)
    m["parser.rows_out"] = n_par
    m["parser.match_ratio"] = n_par / n_acc

    # plans.pipeline.enriched applies post_default second; it only rewrites
    # message columns, so timing it last gives the same frame
    enr, _ = layer("enrich", lambda: msgid(es_index(spark, add_fields(spark, par, cfg), cfg), cfg), par)
    post, n_post = layer("postfilter", lambda: post_default(enr, cfg, msg_cols=POST_STRING_COLS), enr)

    def dispatch():
        routed, n_routed = layer("dispatcher", lambda: route(spark, post, cfg))
        routed.unpersist()
        m["dispatcher.deliveries"] = n_routed
        m["dispatcher.fanout_ratio"] = n_routed / n_post
        want = sum(bench.want_counts.values())
        return m["dispatcher.s"], [] if n_routed == want else [f"{n_routed} deliveries, oracle {want}"]

    bench.op("dispatcher", dispatch)
    return post


def writer_layer(bench: Bench, m: dict, enriched) -> tuple[float, list[str]]:
    """``write_sinks`` on the persisted enriched frame; tables read back."""
    from expect import collect_rows, diff
    from go_fluentd_spark.config import DEFAULT_CONFIG as cfg
    from go_fluentd_spark.operators.dispatcher import write_sinks

    out = bench.work / "writer"
    with bench.tracer.span("writer") as s:
        write_sinks(bench.spark, enriched, cfg, str(out))
    files = [p for p in out.rglob("*.parquet") if p.is_file()]
    m["writer.s"] = s.duration
    m["writer.files"] = len(files)
    m["writer.mb"] = sum(p.stat().st_size for p in files) / 1e6
    got = collect_rows(read_sinks(bench.spark, out))
    return s.duration, diff("writer tables", got, bench.want_counts)


#: per-layer metric -> (unit, better, the end-to-end metric it should move)
PER_LAYER = {
    "counts.wall_s": ("s", "lower", "seq_per_cpu_s; the wall time a user waits, too noisy here to bound"),
    "counts.cpu_s": ("s", "lower", "seq_per_cpu_s"),
    "synth.s": ("s", "lower", "seq_per_cpu_s on both workloads"),
    "synth.rows_out": ("rows", "higher", "seq_per_cpu_s on both workloads"),
    "concat.s": ("s", "lower", "seq_per_cpu_s on multiline_skew most, mix less"),
    "concat.rows_out": ("rows", "lower", "seq_per_cpu_s on multiline_skew"),
    "concat.fold_ratio": ("ratio", "higher", "seq_per_cpu_s on multiline_skew"),
    "concat.max_merged": ("rows", "lower", "seq_per_cpu_s on multiline_skew"),
    "concat.shuffle_mb": ("MB", "lower", "seq_per_cpu_s on multiline_skew most, mix less"),
    "concat.spill_mb": ("MB", "lower", "seq_per_cpu_s on multiline_skew"),
    "concat.task_skew": ("ratio", "lower", "seq_per_cpu_s on multiline_skew"),
    "acceptor.s": ("s", "lower", "seq_per_cpu_s on mix; about nil on multiline_skew"),
    "acceptor.keep_ratio": ("ratio", "higher", "seq_per_cpu_s on mix"),
    "parser.s": ("s", "lower", "seq_per_cpu_s on mix; little on multiline_skew"),
    "parser.rows_out": ("rows", "higher", "seq_per_cpu_s on mix"),
    "parser.match_ratio": ("ratio", "higher", "seq_per_cpu_s on mix"),
    "parser.input_mb": ("MB", "lower", "seq_per_cpu_s on mix"),
    "enrich.s": ("s", "lower", "seq_per_cpu_s on mix"),
    "enrich.jobs": ("count", "lower", "seq_per_cpu_s on mix"),
    "postfilter.s": ("s", "lower", "seq_per_cpu_s on mix"),
    "dispatcher.s": ("s", "lower", "seq_per_cpu_s on mix"),
    "dispatcher.deliveries": ("rows", "higher", "seq_per_cpu_s on mix"),
    "dispatcher.fanout_ratio": ("ratio", "higher", "seq_per_cpu_s on mix"),
    "writer.s": ("s", "lower", "none: sink writes are measured only in the traced run"),
    "writer.mb": ("MB", "lower", "none: sink writes are measured only in the traced run"),
    "writer.files": ("count", "lower", "none: sink writes are measured only in the traced run"),
    "manifest.run_s": ("s", "lower", "none: sink runs are measured only in the traced run"),
    "manifest.jobs": ("count", "lower", "none: sink runs are measured only in the traced run"),
    "manifest.noop_s": ("s", "lower", "none: resume cost, measured only in the traced run"),
    "manifest.noop_jobs": ("count", "lower", "none: resume cost, measured only in the traced run"),
    "manifest.noop_input_rows": ("rows", "lower", "none: resume cost, measured only in the traced run"),
    "spark.jobs": ("count", "lower", "seq_per_cpu_s and setup_s"),
    "spark.tasks": ("count", "lower", "seq_per_cpu_s and setup_s"),
    "spark.shuffle_mb": ("MB", "lower", "seq_per_cpu_s, peak_mem_mb"),
    "spark.spill_mb": ("MB", "lower", "seq_per_cpu_s, peak_mem_mb"),
    "spark.gc_s": ("s", "lower", "seq_per_cpu_s, peak_mem_mb"),
    "spark.task_skew": ("ratio", "lower", "seq_per_cpu_s"),
    "spark.task_tail_ms": ("ms", "lower", "seq_per_cpu_s"),
    "trace.overhead_s": ("s", "lower", "none: time in span bookkeeping and setJobGroup calls"),
}


def result(attempted: int, failed: int, metrics: dict) -> dict:
    """The run's result object.  It is correct only if no operation failed
    and every metric has a finite value; a metric without one reads null."""
    missing = [k for k, (v, _) in metrics.items() if v is None or not math.isfinite(v)]
    if missing:
        log(f"no value for {missing}")
    return {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": None if k in missing else v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # run the cleanup below when stopped from outside, too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    work = STATE / f"work-{os.getpid()}"
    conf = prepare_env(work)
    try:
        import go_fluentd_spark.session  # noqa: F401 - fail fast without the program

        bench = Bench(args.workload, args.seed, work, conf)
        try:
            metrics = run_traced(bench) if args.trace else run_end_to_end(bench, args.seconds)
        finally:
            bench.stop()
            stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = result(bench.attempted, bench.failed, metrics)
    print(json.dumps(out))
    return 0 if out["correct"] else 1

if __name__ == "__main__":
    sys.exit(main())
