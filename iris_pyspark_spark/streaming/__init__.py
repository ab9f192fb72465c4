"""Structured Streaming surface (SURVEY.md §2.9, streaming forms).

Every batch event-time query in queries/events_windows.py has a true
streaming twin here: `spark.readStream` over the events parquet →
stateful incremental execution (micro-batches, state store, watermark
tracking) → memory sink. `drain` runs every streaming query in the
engine: `Trigger.AvailableNow` drains all available input then stops,
so the streaming result is a finite DataFrame the DuckDB oracle can
check — the execution path is IncrementalExecution, not the batch
planner, which is the point.

Output modes: aggregations run in `complete` mode (append would hold
back the final windows forever, since the watermark never advances past
the last event of a drained source); row-level ops (dedup) run in
`update`/`append`. On a real cluster the same code runs unbounded with
a kafka/files source and a real sink; watermarks bound the state store
exactly as demonstrated in tests/test_streaming.py.

The events table's `ts` has shipped as both parquet TIMESTAMP(NANOS)
(readable only as raw ns-int64 under nanosAsLong) and TIMESTAMP(MICROS)
(read natively) across driver data generations. Streaming sources
require an explicit schema, so we probe the file's batch-read schema
once and build the matching source schema + normalization, exactly
mirroring catalog.load_table.
"""

from __future__ import annotations

import itertools
import os
import shutil
from urllib.parse import urlparse

from py4j.java_gateway import JavaObject
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import parquet_schema
from ..session import scoped_confs
from ..sources import materialize

def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    """Explicit source schema; `ts_type` matches what the parquet scan
    yields for this data generation (LongType for ns files under
    nanosAsLong, TimestampType for µs files — requesting ltz directly is
    safe because the session timezone is pinned to UTC)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

# Public constant for callers that hand-write ns-int64 event rows (the
# nanosAsLong vintage shape: ts is a raw LongType of epoch-nanos). Code
# reading driver parquet should instead probe like read_events_stream —
# the file's vintage decides which variant applies.
EVENTS_RAW_SCHEMA = _events_raw_schema(T.LongType())

_SINK_IDS = itertools.count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, normalized to the same
    (event_id, ts timestamp_ntz, ...) shape the batch catalog serves."""
    # The file stream source monitors a DIRECTORY; the test data is a
    # single parquet file, so stage it into a scratch dir once. (A real
    # deployment's landing zone is already a directory of files.)
    def stage(src: str) -> None:
        os.makedirs(src, exist_ok=True)
        shutil.copy2(f"{sf_dir}/events.parquet", os.path.join(src, "events.parquet"))
        # Completeness marker, written after the copy. The file source
        # skips `_`-prefixed names, so it is never read as data (the
        # fingerprint sidecar sits beside the directory, not in it).
        open(os.path.join(src, "_SUCCESS"), "w").close()

    src = materialize(
        sf_dir, "events_stream_src", stage, tables=("events",), params="stream-src-v1"
    )
    staged = os.path.join(src, "events.parquet")
    # Probe the batch-read type of ts for this data generation. Inferring
    # a schema is a one-task job; parquet_schema runs it once per staged
    # copy, whose stat is stable across calls.
    probed = parquet_schema(spark, staged)["ts"].dataType
    if isinstance(probed, T.LongType):
        raw = spark.readStream.schema(_events_raw_schema(T.LongType())).parquet(src)
        # TIMESTAMP (ltz), not NTZ: watermarks/event-time require it. The
        # session is pinned to UTC (session.RUNTIME_CONFS), so epoch math
        # is identical to the batch catalog's TIMESTAMP_NTZ.
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(probed, (T.TimestampType, T.TimestampNTZType)):
        raise TypeError(
            f"events.ts has unexpected parquet vintage {probed}; expected "
            "ns-int64 (LongType under nanosAsLong) or a µs timestamp — a new "
            "encoding needs an explicit normalization here, not a guess"
        )
    return spark.readStream.schema(_events_raw_schema(T.TimestampType())).parquet(src)


#: The most state stores a drain gives each stateful operator. A drain
#: is bounded, so its state is the size of its final answer, and every
#: store is one task per micro-batch that loads and commits state: past
#: a few stores, more of them only add that fixed cost. A temporary
#: drain over files runs one store per advisory partition of its input
#: (`drain`), so the cap binds from 8 x 64 MiB = 512 MiB of input at
#: Spark's default advisory size.
#: `st_pipeline_ingest` at sf0.1 on `local[32]` (4-CPU host; medians of
#: 6-8 runs in two interleaved probes) ran 1.54 s with 4 stores,
#: 1.63 and 1.81 s with 8, 2.08 s with 16 and 3.50 s with 32.
MAX_DRAIN_STATE_PARTITIONS = 8

#: The state store a large deployment runs, for `session.scoped_confs`.
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


#: Spark's checkpoint manager that writes and renames through Hadoop's
#: FileSystem API (the class name in `spark-sql` 4.1).
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_on_local_fs(hadoop_conf: JavaObject, checkpoint: str | None) -> bool:
    """Whether a drain's checkpoint resolves to a `file:` URI. The
    scheme is the location's own; a scheme-less path, or `None` (Spark's
    temporary checkpoint, a scheme-less local path), resolves against
    `fs.defaultFS` in `hadoop_conf`, the session's Hadoop conf
    (`sessionState().newHadoopConf()`, which Spark resolves the path
    with)."""
    scheme = urlparse(checkpoint or "").scheme
    if not scheme:
        scheme = urlparse(hadoop_conf.get("fs.defaultFS", "file:///")).scheme
    return scheme.lower() == "file"


def _streamed_file_bytes(df: DataFrame, hadoop_conf: JavaObject) -> int | None:
    """The bytes under the paths of `df`'s streaming sources, or `None`
    unless every one is a file source whose path can be listed. Batch
    leaves (the static side of a stream-static join) do not count."""
    jvm = df.sparkSession._jvm
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if not leaf.isStreaming():
            continue
        if leaf.nodeName() != "StreamingRelation":  # DSv2, rate, Python sources
            return None
        path = leaf.dataSource().options().get("path")
        if path.isEmpty():
            return None
        jpath = jvm.org.apache.hadoop.fs.Path(path.get())
        try:
            fs = jpath.getFileSystem(hadoop_conf)
            total += fs.getContentSummary(jpath).getLength()
        except Py4JJavaError:  # missing, a glob, or unreadable
            return None
    return total


def _state_partitions(
    df: DataFrame, hadoop_conf: JavaObject, checkpoint: str | None
) -> int:
    """The state-store count `drain` gives `df`'s stateful operators:
    one per advisory partition of a temporary drain's file input, from
    1 up to the session's task slots and MAX_DRAIN_STATE_PARTITIONS;
    the slots and the cap for any other drain."""
    spark = df.sparkSession
    slots = min(spark.sparkContext.defaultParallelism, MAX_DRAIN_STATE_PARTITIONS)
    if checkpoint is not None:
        return slots
    size = _streamed_file_bytes(df, hadoop_conf)
    if size is None:
        return slots
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    return max(1, min(-(-size // advisory), slots))


def drain(
    writer: DataStreamWriter,
    output_mode: str = "append",
    *,
    checkpoint: str | None = None,
    no_data_microbatches: bool = True,
) -> StreamingQuery:
    """Run `writer`'s query to completion with AvailableNow and return
    the terminated query (its `recentProgress` is the drain's
    telemetry). The one place the engine starts a streaming query.
    `checkpoint` is the query's checkpoint location; `None` gives it a
    temporary one, which Spark deletes when the drain succeeds.

    For this drain only, up to four confs are overridden and then
    restored:

    * `spark.sql.shuffle.partitions`, the state-store count of every
      stateful operator (the streaming path gets no AQE coalescing):
      - with a temporary checkpoint over file sources only, one store
        per `spark.sql.adaptive.advisoryPartitionSizeInBytes` of the
        files under the sources' paths, the size AQE coalesces a batch
        shuffle to, clamped to 1 and to the slot count below. A
        temporary checkpoint lives for this drain only, so its whole
        input is known at start; a small drain runs one store, one
        task per stateful stage instead of one per slot;
      - otherwise (any other source, a path that cannot be listed, or
        a persistent `checkpoint`, whose count is fixed for its life
        while later runs may drain far more) the session's task slots
        (`SparkContext.defaultParallelism`: N on `local[N]`, the total
        executor cores on a cluster, or `spark.default.parallelism`
        when set), at most MAX_DRAIN_STATE_PARTITIONS, so each
        stateful stage runs one wave.
      The count only spreads keys over stores, so it cannot change a
      drained answer.
    * `spark.sql.streaming.checkpointLocation` is unset. Under a
      session checkpoint root, Spark keeps a named query's checkpoint
      at `<root>/<queryName>` for good, and a later process reusing the
      name (sink names restart at `stream_sink_0`) would resume that
      checkpoint instead of draining its source. Unset, a drain without
      `checkpoint` gets a temporary checkpoint.
    * `spark.sql.streaming.checkpointFileManagerClass` =
      FS_CHECKPOINT_MANAGER when the checkpoint is on the local
      filesystem (`checkpoint_on_local_fs`). Spark's default manager
      goes through Hadoop's FileContext, which can replace a file by
      an atomic rename on HDFS, where a FileSystem rename cannot, but
      which, without Hadoop's native library, forks `readlink`
      processes for each file it renames. A local rename replaces a
      file atomically through either API, so there the two give the
      same guarantee; HDFS and object stores keep the default. The
      conf also reaches a file sink's `_spark_metadata` log, wherever
      the sink is; that log never replaces a file, and a rename that
      must not replace one is atomic on HDFS through either API.
    * the trailing no-data micro-batch is skipped in complete mode, and
      whenever the caller passes `no_data_microbatches=False`. Spark
      schedules that batch so watermark expiry can flush state (append
      windows, outer-join rows, session timeouts). Complete mode emits
      the whole result on every data batch, so there the batch could
      only evict state (of a dedup or join upstream of the aggregate),
      never change the answer. Append queries that emit on arrival
      (dedup, inner stream-stream join) may skip it too; a query whose
      final rows come from watermark expiry must not."""
    spark = writer._spark  # DataStreamWriter has no public session accessor
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    partitions = _state_partitions(writer._df, hadoop_conf, checkpoint)
    overrides: dict[str, str | None] = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.streaming.checkpointLocation": None,
    }
    if checkpoint_on_local_fs(hadoop_conf, checkpoint):
        overrides["spark.sql.streaming.checkpointFileManagerClass"] = (
            FS_CHECKPOINT_MANAGER
        )
    if output_mode == "complete" or not no_data_microbatches:
        overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    with scoped_confs(spark, overrides):
        q = writer.outputMode(output_mode).trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def drain_to_table(
    stream_df: DataFrame,
    output_mode: str,
    *,
    no_data_microbatches: bool = True,
) -> DataFrame:
    """`drain` `stream_df` into a memory sink and return the sink's
    contents as a batch DataFrame. The sink's temp view is dropped
    before returning, so drains leave no views behind: analysis is
    eager, and the returned frame holds the sink itself, not its name.
    The query's temporary checkpoint is deleted by Spark when the drain
    succeeds."""
    name = f"stream_sink_{next(_SINK_IDS)}"
    spark = stream_df.sparkSession
    drain(
        stream_df.writeStream.format("memory").queryName(name),
        output_mode,
        no_data_microbatches=no_data_microbatches,
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
