"""Tests for the benchmark's pure-Python parts (no Spark):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import statistics

import numpy as np
import pytest

import gen
from spans import Tracer, harvest_event_log, total
from stats import Span, median, percentile, quartile_spread, self_time, supported_percentile


# -- generators ----------------------------------------------------------------


@pytest.mark.parametrize("make", [gen.mix_keys, gen.multiline_skew_keys])
def test_generators_are_deterministic_per_seed(make):
    a, b, c = make(11, 20_000), make(11, 20_000), make(12, 20_000)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    assert len(a) == 20_000
    assert len(np.unique(a)) == len(a)
    assert a.min() >= 0 and a.max() < gen.KEY_LIMIT


def test_mix_keeps_the_reference_family_mix():
    keys = gen.mix_keys(3, 5_000)
    assert np.array_equal(np.bincount(keys % 100, minlength=100), np.full(100, 50))
    # every continuation tail (94/95) has its own head (44/45) in the sample
    tails = keys[np.isin(keys % 100, (94, 95))]
    assert np.isin(tails - 50, keys).all()


def test_multiline_skew_sessions_fold_as_laid_out():
    keys = gen.multiline_skew_keys(5, 20_000)
    fam = keys % 100
    tails, heads = keys[np.isin(fam, (94, 95))], keys[np.isin(fam, (44, 45))]
    assert len(tails) == 12_000
    # the synth's concat container: (key % 50) * 100 + (key // 100) % 100
    container = lambda k: (k % 50) * 100 + (k // 100) % 100  # noqa: E731
    assert set(container(tails)) <= set(container(heads))
    assert len(set(container(heads))) <= 200
    # each tail's session head: the latest head in its container before it
    by_c: dict[int, list[int]] = {}
    for h in sorted(heads.tolist()):
        by_c.setdefault(int(container(h)), []).append(h)
    sizes: dict[int, int] = {}
    for t in tails.tolist():
        hs = by_c[int(container(t))]
        head = max(h for h in hs if h < t)
        sizes[head] = sizes.get(head, 0) + 1
    # one session runs past concat_max_len (300k chars at 59 chars a tail)
    assert max(sizes.values()) * 59 > 300_000
    discards = np.isin(fam, [f for pair in gen.DISCARD_FAMILIES for f in pair])
    assert discards.sum() == len(keys) - len(tails) - len(heads)


def test_check_keys_rejects_bad_keys():
    with pytest.raises(ValueError):
        gen.check_keys(np.array([1, 2, 2]))
    with pytest.raises(ValueError):
        gen.check_keys(np.array([gen.KEY_LIMIT]))
    with pytest.raises(ValueError):
        gen.check_keys(np.array([-1]))


# -- order statistics ----------------------------------------------------------


@pytest.mark.parametrize(
    "n,p", [(0, None), (19, None), (20, 50), (25, 60), (40, 75), (100, 90), (1000, 99), (1001, 99)]
)
def test_supported_percentile(n, p):
    assert supported_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10


def test_percentile_median_and_spread():
    xs = list(range(1, 101))
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([5.0], 50) == 5.0
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / 14.5)
    with pytest.raises(ValueError):
        median([])


def test_self_time_subtracts_the_union_of_direct_children():
    parent = Span("root", 0.0, 10.0, None, "t")
    spans = [
        parent,
        Span("a", 1.0, 4.0, "root", "t"),
        Span("b", 3.0, 5.0, "root", "t"),  # overlaps a: covered 1..5
        Span("c", 7.0, 12.0, "root", "t"),  # clipped to the parent: 7..10
        Span("a.1", 1.5, 2.0, "a", "t"),  # grandchild: not subtracted from root
        Span("d", 0.0, 9.0, "root", "other"),  # another trace
    ]
    assert self_time(parent, spans) == pytest.approx(10 - 4 - 3)
    assert self_time(spans[1], spans) == pytest.approx(3 - 0.5)
    assert self_time(spans[4], spans) == pytest.approx(0.5)


def test_tracer_nests_spans_and_reports_job_groups():
    seen = []
    tr = Tracer("t0", on_enter=seen.append)
    with tr.span("iteration"):
        with tr.span("layer"):
            pass
    assert seen == ["iteration", "layer", "iteration", None]
    dump = {s["name"]: s for s in tr.dump()}
    assert list(dump) == ["iteration", "layer"]
    assert dump["layer"]["parent"] == "iteration" and dump["iteration"]["parent"] is None
    root = dump["iteration"]
    assert root["self_s"] == pytest.approx(root["end"] - root["start"] - dump["layer"]["self_s"])


def test_tracer_counts_its_own_time_as_overhead():
    import time

    tr = Tracer("t0", on_enter=lambda name: time.sleep(0.01))
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.2)
    # four on_enter calls; the work inside the spans is not overhead
    assert 0.04 <= tr.overhead_s < 0.2


# -- event-log harvest ---------------------------------------------------------


def _task(stage, ms, **metrics):
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
            "Task Metrics": {
                "JVM GC Time": metrics.get("gc", 0),
                "Disk Bytes Spilled": metrics.get("spill", 0),
                "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("shuffle", 0)},
                "Input Metrics": {"Records Read": metrics.get("rows", 0)},
            },
        }
    )


def test_harvest_attributes_tasks_to_job_groups():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "concat"}}),
        json.dumps({"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {}}),
        json.dumps({"Event": "SparkListenerLogStart"}),
        _task(0, 100, shuffle=2_000_000, gc=500),
        _task(0, 100),
        _task(0, 100),
        _task(1, 900, spill=3_000_000, rows=7),  # stage 1 ran in the first job
        _task(1, 100),
        _task(1, 100),
        _task(2, 50),
    ]
    groups = harvest_event_log(lines)
    concat = groups["concat"]
    assert concat["jobs"] == 1 and concat["tasks"] == 6
    assert concat["shuffle_mb"] == pytest.approx(2.0)
    assert concat["spill_mb"] == pytest.approx(3.0)
    assert concat["gc_s"] == pytest.approx(0.5)
    assert concat["input_rows"] == 7
    assert concat["task_skew"] == pytest.approx(9.0)
    assert groups[None]["jobs"] == 1 and groups[None]["tasks"] == 1
    assert groups[None]["task_skew"] == 1.0  # one task: no skew
    tot = total(groups)
    assert tot["jobs"] == 2 and tot["tasks"] == 7
    assert tot["task_tail_pct"] is None and math.isnan(tot["task_tail_ms"])


# -- the result line -------------------------------------------------------------


def test_result_reports_failures_and_missing_values():
    import run

    ok = run.result(4, 0, {"setup_s": (1.5, "s"), "seq_per_cpu_s": (900.0, "seq/cpu_s")})
    assert ok == {
        "correct": True,
        "attempted": 4,
        "failed": 0,
        "metrics": {"setup_s": {"value": 1.5, "unit": "s"}, "seq_per_cpu_s": {"value": 900.0, "unit": "seq/cpu_s"}},
    }
    failed = run.result(4, 1, {"setup_s": (1.5, "s"), "seq_per_cpu_s": (None, "seq/cpu_s")})
    assert failed["correct"] is False and failed["failed"] == 1
    assert failed["metrics"]["seq_per_cpu_s"] == {"value": None, "unit": "seq/cpu_s"}
    json.dumps(failed, allow_nan=False)
    assert run.result(1, 0, {"x": (math.nan, "s")})["correct"] is False


# -- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_matches_the_runner():
    from pathlib import Path

    import run

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOAD_ROWS)
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert per_layer == {k: (u, b) for k, (u, b, _) in run.PER_LAYER.items()}
    names = [m["name"] for m in spec["end_to_end"]]
    assert "setup_s" in names
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
