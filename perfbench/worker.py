"""The engine process of one benchmark run.

Started by run.py with the environment already pinned. It sets the engine
up (registry import, session, one warm-up execution of every query at the
scale factor under test, whose output it keeps), runs the given number of
timed passes over the workload's query list, then checks each
kept output against the query's oracle (untimed) and writes one JSON
result file.

It drives the engine only through its public surface: `registry.load_all`,
`session.get_spark`, each query's `fn(spark, sf_dir)` forced with the
`noop` sink, `testing.make_oracle_con` / `testing.compare_frames`, and,
in the traced run, the module-level `catalog.load_table(s)` and
`streaming.drain_to_table` functions, which it rebinds to timed wrappers.

Usage: python perfbench/worker.py <config.json>
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
import traceback

import host
from spans import GROUP_PREFIX, Tracer, group_id

PLAN_PHASES = ("analysis", "optimization", "planning")


def pass_order(queries: list[str], seed: int, pass_index: int) -> list[str]:
    """The seeded query order of one pass."""
    order = list(queries)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


class _ProgressLog:
    """Collects StreamingQueryListener events (delivered on a Py4J thread)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log.lock:
                    log.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "timestamp": p.timestamp,
                    "durationMs": dict(p.durationMs),
                    "state": [
                        {
                            "rows": s.numRowsTotal,
                            "memory": s.memoryUsedBytes,
                            "commitMs": s.commitTimeMs,
                        }
                        for s in p.stateOperators
                    ],
                }
                with log.lock:
                    log.progress.append(row)

            def onQueryTerminated(self, event):
                with log.lock:
                    log.terminated += 1

        return _Listener()

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until every started streaming query has reported its end
        and no event has arrived for half a second."""
        deadline = time.time() + timeout
        last = -1
        while time.time() < deadline:
            with self.lock:
                seen = (self.started, self.terminated, len(self.progress))
            if seen[0] == seen[1] and seen == last:
                return
            last = seen
            time.sleep(0.5)


def _wrap_layers(tracer: Tracer) -> None:
    """Rebind the catalog and streaming entry points, in every engine
    module that imported them, to wrappers that record a span per call."""
    from iris_pyspark_spark import catalog, streaming

    targets = {
        catalog.load_table: "catalog.load_table",
        catalog.load_tables: "catalog.load_tables",
        streaming.drain_to_table: "streaming.drain",
    }

    def wrap(fn, name):
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    wrappers = {fn: wrap(fn, name) for fn, name in targets.items()}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("iris_pyspark_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if callable(value) and value in wrappers:
                setattr(mod, attr, wrappers[value])


def _plan_ms(df) -> dict[str, float]:
    """Force physical planning and read Catalyst's per-phase times."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in PLAN_PHASES:
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def check_output(q, pdf, con) -> str | None:
    """None when a query's output is correct, else what is wrong: it must
    have rows and match its DuckDB oracle, or, for a rows-only query,
    carry `*_ok` columns that are true on every row."""
    from iris_pyspark_spark.testing import compare_frames

    if len(pdf) == 0:
        return "no rows"
    if q.oracle is not None:
        res = compare_frames(pdf, con.execute(q.oracle).df())
        return None if res.ok else res.detail[:500]
    ok_cols = [c for c in pdf.columns if c.endswith("_ok")]
    if not ok_cols:
        return "rows-only query has no *_ok column"
    bad = [c for c in ok_cols if not pdf[c].all()]
    return f"false rows in {bad}" if bad else None


def run(cfg: dict) -> dict:
    sf_dir, queries, trace = cfg["sf_dir"], cfg["queries"], cfg["trace"]
    tracer = Tracer(trace, run=cfg["seed"])
    result: dict = {"errors": []}

    t0 = time.perf_counter()
    from iris_pyspark_spark import registry, session, sources
    from iris_pyspark_spark.testing import make_oracle_con

    with tracer.span("registry.load_all"):
        reg = registry.load_all()
    result["registry_load_s"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = session.get_spark(app_name="perfbench")
    result["session_start_s"] = time.perf_counter() - t1
    sc = spark.sparkContext
    me = os.getpid()
    jvm = host.java_child(me)
    progress = _ProgressLog()
    if trace:
        _wrap_layers(tracer)
        spark.streams.addListener(progress.listener())

    def python_cpu() -> float:
        return host.python_children_cpu_s(jvm) if trace and jvm else 0.0

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm-up: one execution of every query at the SF under test, its
    # output collected for the correctness check made after the passes.
    w0 = time.perf_counter()
    outputs: dict[str, object] = {}
    with tracer.span("warmup"):
        for name in queries:
            try:
                outputs[name] = reg[name].fn(spark, sf_dir).toPandas()
            except Exception:
                outputs[name] = traceback.format_exc(limit=3)
    result["ready_time"] = time.time()
    result["warmup_s"] = time.perf_counter() - w0
    builds_setup = dict(sources.ARTIFACT_BUILD_SECONDS)

    passes: list[dict] = []
    for index in range(cfg["passes"]):
        cpu0, py0 = host.tree_cpu_s(me), python_cpu()
        start = time.perf_counter()
        samples: dict[str, float] = {}
        plan_ms = dict.fromkeys(PLAN_PHASES, 0.0)
        with tracer.span("pass", **{"pass": index}):
            for name in pass_order(queries, cfg["seed"], index):
                q0 = time.perf_counter()
                try:
                    with tracer.span("query", query=name):
                        if trace:
                            sc.setJobGroup(group_id("build", index, name), name)
                        with tracer.span("build"):
                            df = reg[name].fn(spark, sf_dir)
                        if trace:
                            sc.setJobGroup(group_id("plan", index, name), name)
                            with tracer.span("plan"):
                                for ph, ms in _plan_ms(df).items():
                                    plan_ms[ph] += ms
                            sc.setJobGroup(group_id("write", index, name), name)
                        with tracer.span("write"):
                            noop(df)
                except Exception:
                    result["errors"].append({"query": name, "pass": index, "error": traceback.format_exc(limit=3)})
                    continue
                finally:
                    if trace:
                        sc.setJobGroup(GROUP_PREFIX + "idle", "idle")
                samples[name] = time.perf_counter() - q0
        passes.append({
            "pass_s": time.perf_counter() - start,
            "cpu_s": host.tree_cpu_s(me) - cpu0,
            "python_cpu_s": python_cpu() - py0,
            "plan_ms": plan_ms,
            "queries": samples,
        })
    result["passes"] = passes
    builds_after = dict(sources.ARTIFACT_BUILD_SECONDS)
    result["artifact_builds_setup"] = builds_setup
    result["artifact_builds_passes"] = {
        k: v - builds_setup.get(k, 0.0) for k, v in builds_after.items() if v != builds_setup.get(k)
    }

    # Correctness: untimed, after the passes.
    c0 = time.perf_counter()
    con = make_oracle_con(sf_dir)
    result["checks"] = {
        name: out if isinstance(out, str) else check_output(reg[name], out, con)
        for name, out in outputs.items()
    }
    con.close()
    result["check_s"] = time.perf_counter() - c0

    result["driver_peak_rss_mb"] = host.peak_rss_mb(me)
    result["jvm_peak_rss_mb"] = host.peak_rss_mb(jvm) if jvm else 0.0
    if trace:
        progress.settle()
        result["progress"] = progress.progress
    result["pids"] = host.descendants(me)
    spark.stop()  # flushes the event log of a traced run
    if trace:
        tracer.dump(cfg["spans_path"])
    return result


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    result = run(cfg)
    with open(cfg["out"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
