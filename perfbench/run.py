"""Benchmark of record for the iris_pyspark_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client in one engine
process (perfbench/worker.py) issues the workload's frozen query list back
to back, in an order fixed by the seed, for as many whole passes as fit in
--seconds (at least one); then every query's output is checked against its
DuckDB oracle.
The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it
carries the details (tail percentile, failures, host probe).

Everything the run writes lives in a private directory under the checkout
that is removed when the run ends. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

import host
from spans import Job, Span, attach_jobs, outer_total, read_event_log, self_times, union_length
from workloads import WORKLOADS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_TIMEOUT_S = 165.0
PHASES = ("build", "plan", "write")
TAIL_BEYOND = 10
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.write_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.idle_s": "s",
    "executor.cpu_s": "s",
    "executor.run_s": "s",
    "executor.gc_s": "s",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "scan.input_mb": "MB",
    "python.worker_cpu_s": "s",
    "sources.artifact_builds": "count",
    "sources.artifact_build_s": "s",
    "sources.pass_builds": "count",
    "sources.scratch_mb": "MB",
    "streaming.drains": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_mb": "MB",
    "self.pass_s": "s",
    "self.query_s": "s",
    "self.build_s": "s",
    "self.plan_s": "s",
    "self.write_s": "s",
    "trace.pass_s": "s",
    "host.probe_ratio": "ratio",
}


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    `beyond` samples above it (nearest rank)."""
    ordered = sorted(samples)
    if len(ordered) <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {len(ordered)}")
    k = len(ordered) - beyond - 1
    return ordered[k], 100.0 * (k + 1) / len(ordered)


def pinned_env(root: str, work: str, cpus: int, trace: bool) -> dict[str, str]:
    """The engine process's environment: local[cpus], a 2g driver heap
    (under the 8g default, G1's heap growth alone moved peak memory by a
    quarter between identical runs), the checkout on PYTHONPATH (Python
    workers unpickle package functions), and every scratch, temp,
    checkpoint and event-log path private to this run."""
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "IRIS_PYSPARK_", "PYSPARK_"))}
    for d in ("scratch", "local", "tmp", "checkpoints", "eventlog", "cwd"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    submit = [
        f"--conf spark.sql.streaming.checkpointLocation={work}/checkpoints",
        f"--conf spark.driver.defaultJavaOptions=-Xms{DRIVER_MEM}",
    ]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
        ]
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        IRIS_PYSPARK_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=root,
        PYTHONHASHSEED="0",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        IRIS_PYSPARK_SCRATCH=os.path.join(work, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # No hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    )
    return env


def run_worker(cfg: dict, env: dict[str, str], work: str) -> tuple[dict, float]:
    """Run the engine process to completion; return its result and its
    set-up time (spawn until the engine reported itself ready)."""
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=os.path.join(work, "cwd"), env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap(proc)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"engine process failed (exit {code})")
    with open(cfg["out"]) as f:
        result = json.load(f)
    host.wait_gone(result["pids"], timeout=30.0)
    return result, result["ready_time"] - spawned


def _reap(proc: subprocess.Popen) -> None:
    """Stop the engine process and everything below it if it is still
    running (it overran its time), and wait until all of it has ended."""
    if proc.poll() is None:
        tree = host.descendants(proc.pid)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        host.wait_gone(tree, timeout=0.0)
    proc.wait()


def end_to_end(result: dict, setup_s: float) -> tuple[dict[str, float], dict]:
    passes = result["passes"]
    samples = [s for p in passes for s in p["queries"].values()]
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "query_p50_s": statistics.median(samples),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": result["driver_peak_rss_mb"] + result["jvm_peak_rss_mb"],
    }
    detail = {
        "passes": len(passes),
        "pass_times_s": [p["pass_s"] for p in passes],
        "query_samples": len(samples),
        "warmup_s": result["warmup_s"],
        "check_s": result["check_s"],
        "driver_peak_rss_mb": result["driver_peak_rss_mb"],
        "jvm_peak_rss_mb": result["jvm_peak_rss_mb"],
        "query_median_s": {
            q: statistics.median(p["queries"][q] for p in passes if q in p["queries"])
            for q in sorted({q for p in passes for q in p["queries"]})
        },
    }
    if len(samples) > TAIL_BEYOND:
        detail["query_tail_s"], detail["query_tail_percentile"] = tail(samples)
    return metrics, detail


def per_layer(result: dict, spans: list[Span], jobs: list[Job], scratch_mb: float, probe: float) -> dict[str, float]:
    """Per-layer metrics of a traced run, each per timed pass."""
    passes = result["passes"]
    n = len(passes)
    timed = [s for s in spans if "pass" in s.ids]
    attached = attach_jobs(jobs, spans, PHASES)
    pass_jobs = [j for i, js in attached.items() if "pass" in spans[i].ids for j in js]
    build_jobs = sum(len(js) for i, js in attached.items() if spans[i].name == "build" and "pass" in spans[i].ids)
    idle = 0.0
    for s in timed:
        if s.name == "pass":
            busy = [
                (max(j.submit, s.start), min(j.end, s.end))
                for j in pass_jobs if j.submit < s.end and j.end > s.start
            ]
            idle += s.duration - union_length(busy)
    selfs = self_times(spans)  # the pass/query/phase spans exist only in passes
    load_calls = sum(1 for s in timed if s.name == "catalog.load_table")
    in_pass = lambda s: "pass" in s.ids  # noqa: E731
    drains, drain_s = outer_total(spans, "streaming.drain", in_pass)
    windows = [(s.start, s.end) for s in timed if s.name == "pass"]
    batches = [
        b for b in result.get("progress", [])
        if any(a <= _epoch(b["timestamp"]) <= e for a, e in windows)
    ]

    def dur(key: str) -> float:
        return sum(b["durationMs"].get(key, 0) for b in batches)

    builds = result["artifact_builds_setup"]
    out = {
        "queries.build_s": sum(s.duration for s in timed if s.name == "build"),
        "queries.build_jobs": build_jobs,
        "catalog.load_table_calls": load_calls,
        "catalog.load_table_s": outer_total(spans, "catalog.", in_pass)[1],
        "plan.analysis_ms": sum(p["plan_ms"]["analysis"] for p in passes),
        "plan.optimization_ms": sum(p["plan_ms"]["optimization"] for p in passes),
        "plan.planning_ms": sum(p["plan_ms"]["planning"] for p in passes),
        "exec.write_s": sum(s.duration for s in timed if s.name == "write"),
        "scheduler.jobs": len(pass_jobs),
        "scheduler.stages": sum(len(j.stages) for j in pass_jobs),
        "scheduler.tasks": sum(j.tasks for j in pass_jobs),
        "scheduler.idle_s": idle,
        "executor.cpu_s": sum(j.cpu_s for j in pass_jobs),
        "executor.run_s": sum(j.run_s for j in pass_jobs),
        "executor.gc_s": sum(j.gc_s for j in pass_jobs),
        "shuffle.read_mb": sum(j.shuffle_read_mb for j in pass_jobs),
        "shuffle.write_mb": sum(j.shuffle_write_mb for j in pass_jobs),
        "scan.input_mb": sum(j.input_mb for j in pass_jobs),
        "python.worker_cpu_s": sum(p["python_cpu_s"] for p in passes),
        "streaming.drains": drains,
        "streaming.drain_s": drain_s,
        "streaming.batches": len(batches),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.state_commit_ms": sum(op["commitMs"] for b in batches for op in b["state"]),
        "streaming.state_rows": sum(op["rows"] for b in batches for op in b["state"]),
        **{f"self.{k}_s": selfs.get(k, 0.0) for k in ("pass", "query", "build", "plan", "write")},
    }
    out = {k: v / n for k, v in out.items()}  # per pass
    out.update({
        "session.start_s": result["session_start_s"],
        "registry.load_s": result["registry_load_s"],
        "sources.artifact_builds": len(builds),
        "sources.artifact_build_s": sum(builds.values()),
        "sources.pass_builds": len(result["artifact_builds_passes"]),
        "sources.scratch_mb": scratch_mb,
        "streaming.state_memory_mb": max(
            (sum(op["memory"] for op in b["state"]) / 2**20 for b in batches), default=0.0
        ),
        "trace.pass_s": statistics.median(p["pass_s"] for p in passes),
        "host.probe_ratio": probe,
    })
    return out


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total / 2**20


def measure(root: str, workload: Workload, seed: int, seconds: float, trace: bool, sf_dir: str) -> tuple[dict, dict]:
    """One benchmark run from the checkout at `root`: (detail, result),
    where result is the contract's final JSON object."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(root, ".perfbench_work", uuid.uuid4().hex[:12])
    try:
        env = pinned_env(root, work, cpus, trace)
        probe_start = host.probe_ratio(cpus) if trace else None
        cfg = {
            "sf_dir": sf_dir,
            "queries": list(workload.queries),
            "seed": seed,
            "passes": workload.passes(seconds),
            "trace": trace,
            "out": os.path.join(work, "result.json"),
            "spans_path": os.path.join(work, "spans.jsonl"),
        }
        result, setup_s = run_worker(cfg, env, work)
        probe = (probe_start + host.probe_ratio(cpus)) / 2 if trace else None
        failures = [{"query": q, "error": e} for q, e in result["checks"].items() if e] + result["errors"]
        attempted = sum(len(p["queries"]) for p in result["passes"]) + len(result["errors"]) + len(result["checks"])
        e2e, detail = end_to_end(result, setup_s)
        if trace:
            with open(cfg["spans_path"]) as f:
                spans = [Span(**json.loads(line)) for line in f]
            jobs = []
            for name in os.listdir(os.path.join(work, "eventlog")):
                with open(os.path.join(work, "eventlog", name)) as f:
                    jobs += read_event_log(f)
            values, units = per_layer(result, spans, jobs, _dir_mb(env["IRIS_PYSPARK_SCRATCH"]), probe), PER_LAYER
        else:
            values, units = e2e, END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    detail.update(
        workload=workload.name, seed=seed, sf_dir=os.path.relpath(sf_dir, root), cores=cpus,
        queries=len(workload.queries), failed_frac=len(failures) / attempted, failures=failures,
        host_probe_ratio=probe, artifact_builds_in_passes=result["artifact_builds_passes"],
    )
    return detail, {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    workload = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(root, "iris_pyspark_spark", "registry.py")):
        print(f"perfbench: no engine source under {root}; run from the root of a checkout", file=sys.stderr)
        return 2
    sf_dir = workload.sf_dir()
    if not os.path.isdir(sf_dir):
        print(f"perfbench: missing input tables {sf_dir}", file=sys.stderr)
        return 2
    detail, result = measure(root, workload, args.seed, args.seconds, bool(args.trace), sf_dir)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
