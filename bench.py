"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the `noop` sink — full computation,
no driver-side collect cost in the measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iris_pyspark_spark.registry import load_all
from iris_pyspark_spark.session import get_spark

#: The round-1..4 headline set. The headline list grows as operators
#: land, so the all-query total is NOT comparable across rounds; the sum
#: over this frozen set is the like-for-like number (machine-readable as
#: `original_13_sum`).
ORIGINAL_13 = frozenset({
    "j_asof_last_click", "j_broadcast_star", "j_multiway_topk",
    "j_q17_small_qty_revenue", "n_cosine_topk", "n_exact_dedup",
    "n_minhash_lsh", "n_text_stats_top_terms", "pipeline_data_curation",
    "q1_pricing_summary", "t_sessionize_gap", "t_tumbling_window",
    "w_topk_per_group",
})


def _calibration_sec() -> float:
    """Fixed single-thread CPU yardstick (~60ms on an idle core),
    min-of-3: deterministic elementwise numpy over 4M doubles —
    elementwise kernels never multithread, so this measures ONE core's
    effective speed. Reported beside the query timings because this
    container shows 3-8x wall-clock spikes from external contention;
    the ratio of two rounds' calibration values tells a reader whether
    a swing in the query numbers is the engine or the host."""
    import numpy as np

    x = (np.arange(4_000_000, dtype=np.float64) % 97.0) - 48.0
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        y = np.tanh(x)
        y += np.sqrt(np.abs(x))
        float(y.sum())
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _calibration_parallel_sec() -> float:
    """Parallel MEMORY-STREAMING yardstick: the single-core kernel run
    on one concurrent thread per CPU this process may use, up to 8
    (numpy releases the GIL for large elementwise ops), reported as
    per-thread median wall. More threads than CPUs would time CPU
    oversubscription, not the memory system. On a quiet
    host this ~equals _calibration_sec (cores are independent); under
    external MEMORY-BANDWIDTH contention it blows up by 10-200x while
    the single-core number barely moves — round 9 observed exactly
    that failure mode (serial 1.45x the yardstick, parallel streaming
    ~200x; pure-CPU loops unaffected), which shuffle/scan-heavy Spark
    queries track far more closely than any single-core probe. Read
    BOTH: serial calibration = per-core speed, parallel = effective
    memory system. A bench run whose parallel calibration is >>3x the
    serial one is measuring the host, not the engine."""
    import threading

    import numpy as np

    results: list[float] = []
    lock = threading.Lock()

    def work() -> None:
        x = (np.arange(4_000_000, dtype=np.float64) % 97.0) - 48.0
        t0 = time.perf_counter()
        y = np.tanh(x)
        y += np.sqrt(np.abs(x))
        float(y.sum())
        el = time.perf_counter() - t0
        with lock:
            results.append(el)

    n_threads = min(8, len(os.sched_getaffinity(0)))
    threads = [threading.Thread(target=work) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return round(sorted(results)[len(results) // 2], 4)


def warm_up(spark, queries: dict, sf_dir: str) -> None:
    """Run each query once into the `noop` sink at the `sf0.001` sibling
    of `sf_dir`: generated classes depend on plan shape, not data
    volume, so this compiles every stage for pennies and the runs at
    the SF under test measure steady-state execution, not JIT
    compilation. A failing warm-up query raises rather than silently
    leaving its JIT cold."""
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for q in queries.values():
        q.fn(spark, warm_dir).write.format("noop").mode("overwrite").save()


def time_queries(spark, queries: dict, sf_dir: str, n_runs: int) -> dict[str, list[float]]:
    """Wall seconds of `n_runs` `noop`-sink runs of each query at
    `sf_dir`, each run under the Spark job group `<name>#<run>` so an
    event log can attribute its jobs; the group is cleared afterwards."""
    sc = spark.sparkContext
    runs: dict[str, list[float]] = {}
    try:
        for name, q in queries.items():
            runs[name] = []
            for i in range(n_runs):
                sc.setJobGroup(f"{name}#{i}", f"{name} run {i}")
                t0 = time.perf_counter()
                q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs[name].append(time.perf_counter() - t0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return runs


def main() -> None:
    from iris_pyspark_spark.sources import ARTIFACT_BUILD_SECONDS

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    headline = {n: q for n, q in sorted(load_all().items()) if q.headline}

    spark = get_spark(app_name="iris-pyspark-bench")
    warm_up(spark, headline, sf_dir)

    # Drop warm-up (sf0.001) artifact builds from the build-seconds
    # report: the additive key below should hold only the builds paid at
    # the SF under test (run 1 of the measured loop), i.e. the cold
    # first-consumer cost the warm min-of-N numbers hide.
    ARTIFACT_BUILD_SECONDS.clear()

    # Four measured runs per query, report the fastest: the container
    # this runs in shows 3-8x wall-clock spikes from external CPU
    # contention (same plan, same data, back-to-back runs: 36s vs 4s),
    # and min-of-N measures the engine rather than the noise. n=2 proved
    # too jittery to distinguish a real regression from scheduler luck
    # (round-3 verdict: three join headliners swung 27-40% with no code
    # change on their path); n=4 keeps the round-over-round comparison
    # meaningful at ~30s extra wall-clock.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4"))
    calib_before = _calibration_sec()
    calib_parallel = _calibration_parallel_sec()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name, runs in time_queries(spark, headline, sf_dir, n_runs).items():
        runs.sort()
        timings[name] = round(runs[0], 4)
        # Median alongside min: a min far below the median marks a query
        # whose wall-clock is dominated by external CPU contention rather
        # than the plan — distinguishes "got slower" from "noisier".
        mid = len(runs) // 2
        med = runs[mid] if len(runs) % 2 else (runs[mid - 1] + runs[mid]) / 2
        medians[name] = round(med, 4)

    calib_after = _calibration_sec()

    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "queries_median": medians,
                # Effective parallelism of the session that ran the
                # queries (additive key, round 12): local[$SPARK_GRAFT_CPUS]
                # is applied at session build (session.py), but the JSON
                # never RECORDED it, so a reader of two runs at different
                # core counts could not verify the env var was honored
                # (PERF_r11 mis-flagged suspect_cpus_ignored).
                "cores": spark.sparkContext.defaultParallelism,
                # One-time scratch-artifact build seconds paid inside
                # this process (additive key, round 12): min-of-N is warm
                # for artifact-backed queries (run 1 pays the build), so
                # this is the extra cost a cold single-query consumer
                # would see on first use. Empty when no artifact query
                # rebuilt anything.
                "artifact_build_sec": dict(sorted(ARTIFACT_BUILD_SECONDS.items())),
                # Like-for-like sum over the frozen round-1..4 headline
                # set — the cross-round comparable number; `value` grows
                # whenever new headliners are added.
                "original_13_sum": round(
                    sum(v for k, v in timings.items() if k in ORIGINAL_13), 4
                ),
                "n": n_runs,  # min-of-n runs per query (see contention note)
                # Host-noise yardstick: fixed single-core numpy workload,
                # min-of-3, measured twice (before/after the query loop).
                # Compare across rounds to separate engine changes from
                # host contention.
                "calibration_sec": calib_before,
                "calibration_sec_after": calib_after,
                # Parallel memory-streaming yardstick (one concurrent
                # copy of the same kernel per usable CPU, up to 8;
                # per-thread median). Quiet
                # host: ~= calibration_sec. Under external memory-
                # bandwidth contention it inflates 10-200x while the
                # serial number barely moves — and the query timings
                # with it. If this is >>3x calibration_sec, the run
                # measured the host, not the engine.
                "calibration_parallel_sec": calib_parallel,
                # Self-adjudication of the two calibrations (VERDICT r09
                # task 5): True when the parallel yardstick exceeds 3x
                # the serial one, i.e. the host's memory system was
                # collapsed during this run and the query timings
                # measured the HOST, not the engine. Readers should
                # discard collapsed runs' timings and compare CPU-s and
                # byte counts (tools/task_metrics_bench.py) instead.
                "host_collapsed": bool(
                    calib_parallel > 3.0 * max(calib_before, 1e-9)
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
