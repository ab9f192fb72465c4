"""Session policy: the SparkSession factory and every conf the engine writes.

`configure` applies RUNTIME_CONFS once per session; the registry calls it
at query entry (every `Query.fn`), so a conf the caller sets afterwards
holds. Engine code overrides a conf only inside `scoped_confs`, which
restores it. The runtime confs, all safe on a multi-executor cluster:

  * AQE on (runtime re-planning, partition coalescing, skew-join split).
  * Arrow on (vectorized pandas interchange for the UDF slow-path).
  * `nanosAsLong` on: the `events` table is parquet TIMESTAMP(NANOS),
    which Spark 4 refuses to read natively; we read it as raw ns-int64
    and convert to TIMESTAMP_NTZ in the catalog (catalog.py).
  * shuffle.partitions defaults small for the MB-scale test data; at
    real scale AQE coalescing makes the static number mostly moot, and
    callers can override via IRIS_PYSPARK_SHUFFLE_PARTITIONS.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Runtime (SQL) confs — settable on an existing session too, which is how we
#: harden sessions handed to us by external drivers (see `configure`).
RUNTIME_CONFS: dict[str, str] = {
    # The width a batch shuffle starts at before AQE coalesces it (a
    # vanilla session's 200 writes 200 map-output blocks per mapper at
    # MB scale). Streaming drains size their own state stores
    # (streaming.drain), not from this.
    "spark.sql.shuffle.partitions": os.environ.get(
        "IRIS_PYSPARK_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # NOTE: spark.sql.parquet.aggregatePushdown was set here in round 3
    # and removed in round 4: it only applies to the DSv2 parquet reader,
    # and Spark's default spark.sql.sources.useV1SourceList keeps parquet
    # on the v1 FileScan path — verified empirically (MIN/MAX probe plan
    # shows FileScan with no PushedAggregation). An inert conf is worse
    # than none: it reads as a capability the engine doesn't deliver.
    # Footer-stats skipping for MIN/MAX probes is instead provided
    # explicitly by s_minmax_manifest_skipping's manifest pattern.
}


#: Sessions `configure` has already run on. Weak, so a stopped session
#: is not kept alive; keyed by object, not `id()`, since ids are reused.
_CONFIGURED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session, once per session.

    Used both by our own factory and, through the registry, on
    driver-provided sessions, since reading `events.parquet` is
    impossible without `nanosAsLong`. Later calls on the same session do
    nothing, so a conf the caller changes after the first query holds.

    Failures to apply a conf are collected and reported in ONE warning
    (not raised): a session that rejects `nanosAsLong` will fail on
    `events` reads far from the cause, and the warning is the breadcrumb.
    """
    if spark in _CONFIGURED:
        return spark
    failed: list[str] = []
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            failed.append(k)
    _CONFIGURED.add(spark)  # after the sets: a concurrent caller re-applies, never skips
    if failed:
        import warnings

        warnings.warn(
            "could not apply session confs "
            f"{failed}; events.parquet reads need "
            "spark.sql.legacy.parquet.nanosAsLong — expect failures there"
            if "spark.sql.legacy.parquet.nanosAsLong" in failed
            else f"could not apply session confs {failed}",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def _put(spark: SparkSession, key: str, value: str | None) -> None:
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


@contextmanager
def scoped_confs(
    spark: SparkSession, confs: dict[str, str | None]
) -> Iterator[None]:
    """Set `confs` for the block (a `None` value unsets the conf), then
    put each back: its prior value, or unset if it had none. The one
    way engine code overrides a conf, so no override outlives the query
    that needed it."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            _put(spark, k, v)
        yield
    finally:
        for k, v in prior.items():
            _put(spark, k, v)


#: Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`)
#: for the sessions `get_spark` builds. The cache is an LRU of 100
#: classes by default, and a many-query session needs more: one pass of
#: perfbench's 22-query breadth list needs about 195 (whole-stage code
#: plus projections, predicates and orderings), so at 100 every class is
#: evicted before its next use and each pass re-runs Janino and the JIT
#: on all of them. A full registry preflight at sf0.01 (674 queries)
#: compiles 7,715 distinct classes, measured with an unbounded cache;
#: 8000 rounds that up. The conf is static: it works only in the
#: builder, before the session exists, so `configure` cannot apply it
#: and a session a driver hands in keeps Spark's 100.
CODEGEN_CACHE_ENTRIES = 8000


def get_spark(
    app_name: str = "iris_pyspark_spark",
    master: str | None = None,
) -> SparkSession:
    """Create (or fetch) the process-wide SparkSession, configured."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("IRIS_PYSPARK_DRIVER_MEM", "8g"))
        # Whole-stage codegen emits one class per query stage; the JVM
        # default 240 MB code cache fills after a few dozen generated
        # stages, the JIT stops compiling, and everything silently runs
        # interpreted (~5-10x slower). Size it for a many-query session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    configure(spark)
    _gc_scratch_once()
    return spark


_GC_DONE = False


def _gc_scratch_once() -> None:
    """Once per process: remove the scratch trees of exited processes
    (scratch paths and fingerprints are scoped by a per-process token,
    so a dead process's tree can never be reused — see
    sources.gc_scratch). Live processes' trees are never touched."""
    global _GC_DONE
    if _GC_DONE:
        return
    _GC_DONE = True
    try:
        from .sources import gc_scratch

        deleted = gc_scratch()
        if deleted:
            import warnings

            warnings.warn(
                f"scratch GC removed {len(deleted)} scratch trees of "
                "exited processes",
                RuntimeWarning,
                stacklevel=2,
            )
    except Exception:
        pass  # GC must never block session creation
