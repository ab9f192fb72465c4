"""Per-query cost rows: wall clock plus Spark's own task metrics.

Wall clock on a contended host is noise-bound; executor CPU time, shuffle
and input bytes, and task and job counts are not. This tool runs
bench.py's loop (`warm_up`, then `time_queries`, which puts each run
under the job group `<name>#<run>`) on a `session.get_spark` session
with the event log enabled, then reads the log with perfbench's reader
and reports per query, in perfbench's names and units (seconds, MiB):

  * `wall_s`, `cpu_s`, `run_s`, `gc_s`: the minimum over runs;
  * `tasks`, `jobs`, `shuffle_read_mb`, `shuffle_write_mb`, `input_mb`:
    the maximum over runs (they repeat run to run; the maximum guards
    against a run that reused a skipped stage).

`--plans DIR` also writes each query's `explain("formatted")` plan to
`DIR/<name>.txt`. bench.py remains the driver contract.

Usage:
    SPARK_GRAFT_SF_DIR=path/to/sf0.1 python tools/task_metrics_bench.py \\
        [--runs 4] [--out TASKMETRICS.json] [--plans DIR] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from collections import defaultdict
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_queries, warm_up  # noqa: E402
from iris_pyspark_spark.registry import load_all  # noqa: E402
from iris_pyspark_spark.session import get_spark  # noqa: E402
from perfbench.spans import Job, read_event_log  # noqa: E402

_MIN_FIELDS = ("cpu_s", "run_s", "gc_s")
_MAX_FIELDS = ("tasks", "shuffle_read_mb", "shuffle_write_mb", "input_mb")


def query_rows(jobs: list[Job], wall: dict[str, list[float]]) -> dict[str, dict[str, float]]:
    """One row per query of `wall` ({name: [seconds per run]}) from the
    jobs of its `<name>#<run>` groups; jobs of any other group, or of
    none, are not counted, and a query none of whose runs ran a job is
    left out."""
    by_group: dict[str | None, list[Job]] = defaultdict(list)
    for job in jobs:
        by_group[job.group].append(job)
    rows: dict[str, dict[str, float]] = {}
    for name, secs in wall.items():
        runs = [by_group[f"{name}#{i}"] for i in range(len(secs)) if by_group.get(f"{name}#{i}")]
        if not runs:
            continue
        totals = [{f: sum(getattr(j, f) for j in run) for f in _MIN_FIELDS + _MAX_FIELDS} for run in runs]
        row: dict[str, float] = {"wall_s": round(min(secs), 4)}
        row.update({f: round(min(t[f] for t in totals), 4) for f in _MIN_FIELDS})
        row.update({f: round(max(t[f] for t in totals), 3) for f in _MAX_FIELDS})
        row["jobs"] = max(len(run) for run in runs)
        rows[name] = row
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: headline set)")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--out", default="", help="also write the JSON line to this file")
    ap.add_argument("--plans", default="", help="write each query's formatted plan to DIR/<name>.txt")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    names = args.queries or sorted(n for n, q in registry.items() if q.headline)
    queries = {n: registry[n] for n in names}

    # The event-log confs of perfbench's traced runs; spark-submit reads
    # them when get_spark starts the JVM.
    event_dir = tempfile.mkdtemp(prefix="iris_eventlog_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        f"--conf spark.eventLog.dir=file://{event_dir}",
        "pyspark-shell",
    ])
    try:
        spark = get_spark(app_name="iris-task-metrics")
        cores = spark.sparkContext.defaultParallelism
        warm_up(spark, queries, sf_dir)
        wall = time_queries(spark, queries, sf_dir, args.runs)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            for name, q in queries.items():
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f, redirect_stdout(f):
                    q.fn(spark, sf_dir).explain("formatted")
        spark.stop()  # closes the event log
        jobs: list[Job] = []
        for fname in os.listdir(event_dir):
            with open(os.path.join(event_dir, fname)) as f:
                jobs += read_event_log(f)
    finally:
        shutil.rmtree(event_dir, ignore_errors=True)

    line = json.dumps({
        "sf_dir": sf_dir,
        "runs": args.runs,
        "cores": cores,
        "queries": query_rows(jobs, wall),
    })
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
