"""tools/task_metrics_bench.py's per-query rows, from synthetic event-log
jobs (no Spark): times are the minimum over runs, counts the maximum,
and only the `<name>#<run>` groups of the timed runs count."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from perfbench.spans import Job  # noqa: E402
from task_metrics_bench import query_rows  # noqa: E402


def _job(job_id, group, **metrics):
    return Job(job_id, group, submit=0.0, **metrics)


def test_times_take_the_minimum_and_counts_the_maximum():
    jobs = [
        _job(0, "q#0", tasks=4, cpu_s=2.0, run_s=3.0, gc_s=0.5, shuffle_read_mb=1.0, shuffle_write_mb=1.0, input_mb=8.0),
        _job(1, "q#0", tasks=2, cpu_s=1.0, run_s=1.0, gc_s=0.1, shuffle_read_mb=0.5),
        _job(2, "q#1", tasks=5, cpu_s=1.5, run_s=2.5, gc_s=0.2, shuffle_read_mb=1.0, shuffle_write_mb=1.0, input_mb=8.0),
    ]
    rows = query_rows(jobs, {"q": [2.0, 1.5]})
    assert rows == {
        "q": {
            "wall_s": 1.5,
            "cpu_s": 1.5,
            "run_s": 2.5,
            "gc_s": 0.2,
            "tasks": 6,
            "shuffle_read_mb": 1.5,
            "shuffle_write_mb": 1.0,
            "input_mb": 8.0,
            "jobs": 2,
        }
    }


def test_warm_up_and_ungrouped_jobs_are_ignored():
    jobs = [
        _job(0, "warmup", tasks=100, cpu_s=100.0),
        _job(1, None, tasks=100, cpu_s=100.0),
        _job(2, "q#0", tasks=3, cpu_s=1.0),
    ]
    row = query_rows(jobs, {"q": [1.0]})["q"]
    assert (row["tasks"], row["cpu_s"], row["jobs"]) == (3, 1.0, 1)


def test_a_query_with_no_jobs_is_omitted():
    jobs = [_job(0, "q#0", tasks=1, cpu_s=0.1)]
    assert list(query_rows(jobs, {"q": [1.0], "idle": [0.2, 0.3]})) == ["q"]
