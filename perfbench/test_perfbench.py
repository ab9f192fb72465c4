"""Tests of the benchmark itself: metric names and units, the span and
event-log arithmetic on synthetic traces, and a one-pass smoke of every
workload at sf0.001, untraced and traced.

Run from the repository root: python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import Span, attach_jobs, group_id, outer_total, read_event_log, self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_runner_emits():
    bench = _benchmark()
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    for key, emitted in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        assert declared == emitted, key
    for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]:
        assert NAME.fullmatch(m["name"]), m["name"]


def test_self_times_subtract_direct_children():
    spans = [
        Span("pass", 0.0, 10.0, None),
        Span("query", 1.0, 9.0, 0),
        Span("build", 1.0, 4.0, 1),
        Span("catalog.load_table", 2.0, 3.0, 2),
        Span("write", 5.0, 9.0, 1),
    ]
    assert self_times(spans) == pytest.approx(
        {"pass": 2.0, "query": 1.0, "build": 2.0, "catalog.load_table": 1.0, "write": 4.0}
    )


def test_self_times_merge_overlapping_children_and_clip_to_parent():
    spans = [
        Span("query", 0.0, 10.0, None),
        Span("build", 1.0, 5.0, 0),
        Span("build", 3.0, 7.0, 0),
        Span("write", 9.0, 12.0, 0),  # ends after its parent
    ]
    assert self_times(spans)["query"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_outer_total_counts_nested_calls_once_in_time():
    spans = [
        Span("pass", 0.0, 10.0, None, {"pass": 0}),
        Span("catalog.load_tables", 1.0, 5.0, 0, {"pass": 0}),
        Span("catalog.load_table", 1.5, 2.5, 1, {"pass": 0}),
        Span("catalog.load_table", 3.0, 4.0, 1, {"pass": 0}),
        Span("catalog.load_table", 6.0, 6.5, None),  # outside every pass
    ]
    in_pass = lambda s: "pass" in s.ids  # noqa: E731
    assert outer_total(spans, "catalog.", in_pass) == (3, pytest.approx(4.0))


def test_event_log_jobs_attach_by_group_then_by_time():
    ids = {"pass": 0, "query": "q"}
    spans = [Span("build", 10.0, 11.0, None, ids), Span("write", 11.0, 13.0, None, ids)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_100,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": group_id("build", 0, "q")}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000, "JVM GC Time": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1 << 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 << 20},
            "Input Metrics": {"Bytes Read": 3 << 20}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10_600},
        # A streaming micro-batch job carries the stream's own group.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 12_000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "3f2a-run-id"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12_500},
        # Our idle group attaches nowhere, even inside a phase span.
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 12_100,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "perfbench:idle"}},
    ]
    jobs = read_event_log(json.dumps(e) for e in events)
    job0 = jobs[0]
    assert (job0.tasks, sorted(job0.stages), job0.end) == (1, [0], 10.6)
    assert (job0.cpu_s, job0.run_s, job0.gc_s) == pytest.approx((2.0, 3.0, 0.1))
    assert (job0.shuffle_read_mb, job0.shuffle_write_mb, job0.input_mb) == pytest.approx((1.0, 2.0, 3.0))
    attached = attach_jobs(jobs, spans, ("build", "write"))
    assert {i: [j.job_id for j in js] for i, js in attached.items()} == {0: [0], 1: [1]}


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    value, pct = run.tail([float(x) for x in range(1, 21)])
    assert (value, pct) == (10.0, 50.0)
    with pytest.raises(ValueError):
        run.tail([1.0] * 10)


def test_pass_count_is_fixed_by_the_seconds_argument():
    breadth = WORKLOADS["breadth-sf0.01"]
    assert [breadth.passes(s) for s in (0, 10, 20, 60)] == [1, 1, 2, 6]


def test_exits_nonzero_without_the_engine(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream-sf0.01",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.mark.parametrize("trace", [False, True], ids=["untraced", "traced"])
@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_one_pass_smoke_at_sf0001(name, trace):
    workload = WORKLOADS[name]
    detail, result = run.measure(ROOT, workload, seed=0, seconds=0, trace=trace, sf_dir=workload.sf_dir("0.001"))
    assert detail["passes"] == 1
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] == 2 * len(workload.queries)
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == units
    for k, m in result["metrics"].items():
        assert NAME.fullmatch(k) and isinstance(m["value"], (int, float)), k
    metrics = {k: m["value"] for k, m in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in metrics.values()), metrics
    else:
        assert metrics["scheduler.jobs"] > 0 and metrics["sources.pass_builds"] == 0
        if name.startswith("stream"):
            assert metrics["streaming.drains"] > 0 and metrics["streaming.batches"] > 0
