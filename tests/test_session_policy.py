"""The session policy: the registry door applies the engine's runtime
confs once per session, and a conf the caller sets afterwards holds;
`get_spark`'s generated-class cache holds a many-query session's
classes; building a warm query launches no schema-inference job."""

from __future__ import annotations

import os
from functools import partial

import pytest

from iris_pyspark_spark.registry import load_all
from iris_pyspark_spark.session import CODEGEN_CACHE_ENTRIES, RUNTIME_CONFS, scoped_confs
from perfbench.workloads import BREADTH


def test_registry_door_configures_once_and_caller_confs_hold(spark, sf_dir):
    """A fresh session gets RUNTIME_CONFS from its first query (which
    loads tables), and a shuffle width set after that survives the next
    query's table loads."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    q = load_all()["q1_pricing_summary"]
    q.fn(s, sf_dir)
    assert {k: s.conf.get(k) for k in RUNTIME_CONFS} == RUNTIME_CONFS
    s.conf.set("spark.sql.shuffle.partitions", "3")
    q.fn(s, sf_dir)
    assert s.conf.get("spark.sql.shuffle.partitions") == "3"


def _classes_compiled(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


#: The Spark jobs each breadth query's `fn` launches on a warm run, where
#: nonzero: a CSV round-trip (write, header read, CSV schema inference)
#: and an MLlib `LinearRegression.fit`. Reading an input table or a
#: scratch artifact launches none (catalog.read_parquet).
WARM_BUILD_JOBS = {"s_csv_scan_roundtrip": 3, "ml_linreg_normal_eq_check": 2}


@pytest.fixture(scope="module")
def breadth_runs(spark, sf_dir, jobs_of):
    """perfbench's breadth list run twice at sf0.001 into the `noop`
    sink, with whole-stage codegen on as in a production session: per
    run, the classes compiled and each query's build-time jobs."""
    reg = load_all()
    small = os.path.join(os.path.dirname(sf_dir), "sf0.001")

    def run_list() -> tuple[int, dict[str, int]]:
        before = _classes_compiled(spark)
        build_jobs = {}
        for name in BREADTH:
            df, build_jobs[name] = jobs_of(partial(reg[name].fn, spark, small))
            df.write.format("noop").mode("overwrite").save()
        return _classes_compiled(spark) - before, build_jobs

    with scoped_confs(spark, {"spark.sql.codegen.wholeStage": "true"}):
        return run_list(), run_list()


def test_warm_rerun_compiles_no_classes(spark, breadth_runs):
    """Spark keeps generated classes in an LRU of
    `spark.sql.codegen.cache.maxEntries` entries. A query list that
    needs more classes than the cache holds (Spark's default is 100)
    evicts each class before its next use, so every re-run compiles
    them all again. perfbench's breadth list needs more than 100; on
    `get_spark`'s session its second run compiles none."""
    cache_size = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert cache_size == str(CODEGEN_CACHE_ENTRIES)
    (first, _), (second, _) = breadth_runs
    assert first > 100, f"the list compiled only {first} classes"
    assert second == 0


def test_warm_rerun_build_jobs(breadth_runs):
    """Building a breadth query launches only the jobs it needs for its
    own work: on the warm run, no input read infers a schema."""
    _, (_, build_jobs) = breadth_runs
    assert {n: j for n, j in build_jobs.items() if j} == WARM_BUILD_JOBS
