"""Streaming twins of the §2.9 batch queries — T1/T3/T5-ish/T6/T7 run
through IncrementalExecution for real (micro-batches + state store +
watermark tracking), drained with AvailableNow into a memory sink, and
checked against the SAME DuckDB oracles as their batch forms.

A streaming aggregate's sink rows are the final state of each window
(complete mode), so once the source is drained the contents equal the
batch answer — these queries prove batch/stream semantic parity, which
is the §2.9 contract. tests/test_streaming.py covers what a drained
oracle can't: late-data dropping under a watermark (T5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..session import scoped_confs
from ..streaming import ROCKSDB_STATE_STORE, drain, drain_to_table, read_events_stream
from .joins import CENTS_SQL, cents

_TUMBLING_ORACLE = f"""
SELECT
  (CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT)) * 3600 AS window_start_epoch,
  event_type,
  COUNT(*) AS n,
  SUM({CENTS_SQL.format(expr="value")}) / 100.0 AS total_value
FROM events
GROUP BY 1, 2
"""


@register("st_tumbling_window_stream", oracle=_TUMBLING_ORACLE, tags=("T1", "T5"))
def st_tumbling_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1, streaming: watermarked tumbling-window aggregate, complete mode."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("total_value"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )
    return drain_to_table(agg, output_mode="complete")


_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT
  user_id,
  EPOCH_US(MIN(ts)) // 1000000          AS session_start_epoch,
  EPOCH_US(MAX(ts)) // 1000000 + 1800   AS session_end_epoch,
  COUNT(*)                              AS n_events
FROM sessions
GROUP BY user_id, sid
"""


@register("st_session_window_stream", oracle=_SESSION_ORACLE, tags=("T3", "T5"))
def st_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3, streaming: native session_window with watermark — the stateful
    merging-sessions operator, which only exists on the streaming path."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_seconds(F.col("session_window.start").cast("timestamp")).alias(
                "session_start_epoch"
            ),
            F.unix_seconds(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_epoch"
            ),
            "n_events",
        )
    )
    return drain_to_table(agg, output_mode="complete")


_DEDUP_ORACLE = """
SELECT event_type, COUNT(*) AS n_unique
FROM events
GROUP BY event_type
"""


@register("st_dedup_within_watermark", oracle=_DEDUP_ORACLE, tags=("T7", "T5"))
def st_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7, streaming: dropDuplicatesWithinWatermark on event_id (state
    evicted once the watermark passes — the unbounded-stream-safe dedup),
    then a batch rollup of the drained sink for a checkable result.
    First-seen rows emit IMMEDIATELY (dedup is a pass-through, not an
    aggregation), so the trailing no-data micro-batch would only evict
    state — skipped (round 12), halving the drain's fixed state-store
    cost with identical output."""
    e = read_events_stream(spark, sf_dir)
    deduped = e.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = drain_to_table(deduped, output_mode="append", no_data_microbatches=False)
    return sink.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


_JOIN_ORACLE = f"""
SELECT
  c_mktsegment,
  COUNT(*) AS n_events,
  SUM({CENTS_SQL.format(expr="value")}) / 100.0 AS total_value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
"""


@register("st_stream_static_join", oracle=_JOIN_ORACLE, tags=("T6",))
def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6, streaming: per-micro-batch join against the static customer
    dim, then a stateful aggregate in complete mode. No broadcast hint —
    customer grows with SF; Catalyst sizes the per-batch join itself."""
    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    agg = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("total_value"),
        )
    )
    return drain_to_table(agg, output_mode="complete")


_STREAM_STREAM_ORACLE = """
SELECT a.user_id                          AS user_id,
       a.event_id                         AS click_id,
       b.event_id                         AS purchase_id,
       EPOCH_US(b.ts) - EPOCH_US(a.ts)    AS us_to_purchase
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
"""


@register("st_stream_stream_join", oracle=_STREAM_STREAM_ORACLE, tags=("T6", "T5"))
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (clicks x purchases within 1h per user),
    both sides watermarked with a time-range join condition so the state
    store can evict expired rows — the marquee stateful streaming op.
    Inner joins emit on match (watermarks bound STATE, not output), so
    the drained result equals the batch self-join exactly — which is
    also why the trailing no-data micro-batch is skipped (round 12):
    it exists to let watermark expiry EMIT (outer-join flush, append
    windows); for an inner join it only evicts state, and with four
    state stores per shuffle partition it was half this drain's fixed
    cost (~23s -> ~11s at any SF; output rows identical)."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("us_to_purchase"),
    )
    return drain_to_table(joined, output_mode="append", no_data_microbatches=False)


_FB_UPSERT_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""


@register("st_foreachbatch_upsert", oracle=_FB_UPSERT_ORACLE, tags=("T1", "T5", "S5"))
def st_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental artifact maintenance via foreachBatch — the streaming
    ingest pattern the memory-sink drains can't show: each micro-batch
    UPSERTS its per-type counts into a parquet artifact partitioned by
    event_type, rewriting only the partitions that batch touched
    (dynamic partition overwrite, staged first because Spark cannot
    overwrite a path mid-read). The source is staged as 4 files with
    maxFilesPerTrigger=1, so the artifact really is built across 4
    micro-batches; integer-cents totals make the final state identical
    to the one-shot batch aggregate regardless of how rows split."""
    import shutil

    from ..sources import materialize, scratch_dir

    src = materialize(
        sf_dir,
        "fb_src",
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(p),
        tables=("events",),
        params="fb-src-4part",
    )
    artifact = scratch_dir(sf_dir, "fb_artifact")
    stage = scratch_dir(sf_dir, "fb_artifact_stage")
    # Fresh artifact per run, and the drain's checkpoint is a new
    # temporary one per query, so every run is a full, exact replay
    # (a surviving checkpoint would resume mid-stream and undercount).
    shutil.rmtree(artifact, ignore_errors=True)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("total_cents"),
        )
        try:
            prev = spark.read.parquet(artifact).select(
                "event_type",
                F.col("n_events").alias("__pn"),
                F.col("total_cents").alias("__pc"),
            )
            merged = agg.join(prev, "event_type", "left").select(
                "event_type",
                (F.col("n_events") + F.coalesce("__pn", F.lit(0))).alias("n_events"),
                (F.col("total_cents") + F.coalesce("__pc", F.lit(0))).alias(
                    "total_cents"
                ),
            )
        except Exception:  # first batch: no artifact yet
            merged = agg
        merged.write.mode("overwrite").parquet(stage)
        spark.read.parquet(stage).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("event_type").parquet(artifact)

    drain(stream.writeStream.foreachBatch(upsert))
    return spark.read.parquet(artifact).select("event_type", "n_events", "total_cents")


_RESUME_ORACLE = """
SELECT event_type,
       COUNT(*)                      AS n_events,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
"""


@register("st_checkpoint_resume", oracle=_RESUME_ORACLE, tags=("T5", "T1"))
def st_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a RESTART — the checkpoint contract itself:
    the source starts with half the files, a first AvailableNow run
    drains it into a parquet sink, the other half lands, and a SECOND
    query started from the SAME checkpoint processes ONLY the new files
    (the offset log proves what was consumed; the sink is append-only).
    The final sink equals the one-shot batch aggregate — nothing
    doubled, nothing missed. This is the property that makes a 100 TB
    ingest survivable: a crashed or redeployed job resumes from the
    offset log instead of reprocessing (or worse, double-writing) the
    landing zone."""
    import os
    import shutil

    from ..sources import materialize, scratch_dir

    # All files, pre-split; built once; the runs below only copy from it.
    staged = materialize(
        sf_dir,
        "resume_staged",
        lambda p: load_table(spark, sf_dir, "events")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(p),
        tables=("events",),
        params="resume-staged-4part",
    )
    src = scratch_dir(sf_dir, "resume_src")        # the monitored dir
    sink = scratch_dir(sf_dir, "resume_sink")
    ckpt = scratch_dir(sf_dir, "resume_ckpt")
    # Every call is a fresh two-run replay from an empty landing zone.
    for p in (src, sink, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    parts = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    os.makedirs(src, exist_ok=True)

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )

    def drain_src() -> None:
        drain(
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink),
            checkpoint=ckpt,
        )

    # Run 1: first half of the files.
    for f in parts[:2]:
        shutil.copy2(os.path.join(staged, f), os.path.join(src, f))
    drain_src()
    # The rest of the landing zone arrives; the SAME checkpoint resumes.
    for f in parts[2:]:
        shutil.copy2(os.path.join(staged, f), os.path.join(src, f))
    drain_src()

    return (
        spark.read.schema(schema)
        .parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("event_id").cast("long").alias("max_event_id"),
        )
    )


_COMPLETE_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""


@register("st_complete_mode_agg", oracle=_COMPLETE_ORACLE, tags=("T1", "T5"))
def st_complete_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete output mode: the sink holds the ENTIRE aggregate state
    re-emitted every micro-batch (vs update's deltas and append's
    finalized-only rows — the three output modes are the streaming
    surface's contract). After an AvailableNow drain the last emission
    equals the batch aggregate exactly. Complete mode only scales when
    the aggregate itself is small — per-type counts here — which is
    exactly when you'd use it (dashboards over bounded key spaces)."""
    e = read_events_stream(spark, sf_dir)
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents(F.col("value"))).alias("total_cents"),
    )
    sink = drain_to_table(agg, output_mode="complete")
    # Complete mode re-emits the full table per batch: keep the final
    # state = max per key (counts are monotone across batches).
    return sink.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_cents").cast("long").alias("total_cents"),
    )


_SLIDING_JOIN_ORACLE = f"""
WITH offsets AS (SELECT UNNEST([0, 1]) AS j)
SELECT
  CAST(FLOOR(EPOCH(ts) / 1800) AS BIGINT) * 1800 - j * 1800 AS window_start_epoch,
  c_mktsegment,
  COUNT(*) AS n,
  SUM({CENTS_SQL.format(expr="value")}) / 100.0 AS total_value
FROM events CROSS JOIN offsets JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


@register(
    "st_sliding_static_join",
    oracle=_SLIDING_JOIN_ORACLE,
    tags=("T2", "T6", "T5"),
)
def st_sliding_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 on the streaming path: each micro-batch joins the static
    customer dim, then a watermarked 1-hour window sliding every 30
    minutes aggregates per (window, segment) — every event feeds
    exactly two windows, and the state store carries both until the
    watermark closes them. Complete mode drains to the final state,
    which equals the batch sliding-window answer the oracle states
    with integer epoch math."""
    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        e.join(c, F.col("user_id") == F.col("c_custkey"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("total_value"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "c_mktsegment",
            "n",
            "total_value",
        )
    )
    return drain_to_table(agg, output_mode="complete")


_TWS_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""


def _protobuf_available() -> bool:
    """transformWithStateInPandas speaks a protobuf protocol to the JVM
    state server; the `protobuf` package is not part of this container's
    baked-in set (and there is no network to install it), so the query
    registers only where the dependency exists — the same
    gate-don't-stub policy as the lakehouse table formats."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def st_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 transformWithStateInPandas — the successor arbitrary-state
    API (StatefulProcessor with named state variables instead of one
    opaque tuple): per event_type, a ValueState accumulates (count,
    integer-cents total) across micro-batches and emits the running
    totals on every update. Requires the RocksDB state store, which is
    also the provider you want at scale (changelog checkpointing,
    bounded memory); the conf is restored after the drain so sibling
    streams keep their configured provider. Draining the source makes
    each key's last update equal the batch aggregate, which the oracle
    checks. ALWAYS registered; raises EnvironmentGated at execution when
    protobuf is missing (its Python runner needs google.protobuf, absent
    in this container) so registry size/content never depends on the
    environment. UNTESTED HERE for that reason — exercised only on
    protobuf-capable machines."""
    if not _protobuf_available():
        from ..registry import EnvironmentGated

        raise EnvironmentGated(
            "transformWithStateInPandas requires google.protobuf, which is "
            "not installed in this environment"
        )
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, total_cents bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            n, cents_total = (
                self._totals.get() if self._totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                # Half-away-from-zero like SQL ROUND / joins.cents — NOT
                # pandas .round(), whose numpy half-to-even diverges on
                # exact .5 cents.
                x = pdf["value"].to_numpy(dtype="float64") * 100.0
                cents_total += int(
                    np.trunc(x + np.copysign(0.5, x)).astype("int64").sum()
                )
            self._totals.update((n, cents_total))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents_total],
                }
            )

        def close(self) -> None:
            pass

    e = read_events_stream(spark, sf_dir).select("event_type", "value")
    with scoped_confs(spark, ROCKSDB_STATE_STORE):
        updates = e.groupBy("event_type").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType="event_type string, n_events bigint, total_cents bigint",
            outputMode="Update",
            timeMode="None",
        )
        sink = drain_to_table(updates, output_mode="update")
    # One update row per (micro-batch, key): totals are monotone, so
    # each key's final state is its max.
    return sink.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_cents").cast("long").alias("total_cents"),
    )


register("st_transform_with_state", oracle=_TWS_ORACLE, tags=("T4", "T7", "U2"))(
    st_transform_with_state
)


_ST_PIPELINE_ORACLE = f"""
WITH deduped AS (
  SELECT DISTINCT ON (event_id) event_id, ts, user_id, value
  FROM events ORDER BY event_id, ts
)
SELECT
  CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 AS window_start_epoch,
  c_mktsegment,
  COUNT(*) AS n_events,
  CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM deduped JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


@register(
    "st_pipeline_ingest",
    oracle=_ST_PIPELINE_ORACLE,
    tags=("T1", "T5", "T6", "T7"),
    headline=True,
)
def st_pipeline_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming ingest in ONE incremental query — the shape
    a production event pipeline actually runs, stacked stateful
    operators included: watermarked dedup by event_id (exactly-once at
    the record level), per-micro-batch enrichment against the static
    customer dim, then a watermarked tumbling-window aggregate per
    segment. Two stateful operators share the event-time watermark;
    complete-mode drain makes the final state equal the batch pipeline
    the oracle states (events are already unique, so dedup must pass
    everything through exactly once)."""
    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    deduped = (
        e.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    enriched = deduped.join(c, F.col("user_id") == F.col("c_custkey"))
    # The single watermark set before the dedup flows through the join
    # to the window (redefining it between stateful operators is
    # disallowed — and unnecessary: both share one event-time bound).
    agg = (
        enriched.groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "c_mktsegment",
            "n_events",
            "total_cents",
        )
    )
    # Complete-mode drain: the final answer is identical under any state
    # partitioning, and every batch emits the full result — so the drain
    # sizes state itself (`streaming.drain`) and skips the trailing
    # no-data batch.
    return drain_to_table(agg, output_mode="complete")


_ST_PIPELINE_APPEND_ORACLE = f"""
WITH deduped AS (
  SELECT DISTINCT ON (event_id) event_id, ts, user_id, value
  FROM events ORDER BY event_id, ts
),
wm AS (
  -- Final event-time watermark after the drain: max event time seen by
  -- the source minus the 10-minute delay (epoch seconds; ts is whole
  -- seconds in this dataset so ms truncation is exact).
  SELECT CAST(EPOCH(MAX(ts)) AS BIGINT) - 600 AS w FROM events
)
SELECT
  CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 AS window_start_epoch,
  c_mktsegment,
  COUNT(*) AS n_events,
  CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM deduped JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
HAVING CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 + 3600
       <= (SELECT w FROM wm)
"""


@register(
    "st_pipeline_ingest_append",
    oracle=_ST_PIPELINE_APPEND_ORACLE,
    tags=("T1", "T5", "T7"),
)
def st_pipeline_ingest_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION output mode of the ingest pipeline: same stacked
    stateful operators as `st_pipeline_ingest` (watermarked dedup by
    event_id -> static-dim enrich -> tumbling hourly window per segment)
    but in APPEND mode, where a window row is emitted exactly once —
    when the watermark passes its end — and its state is EVICTED. This
    is the unbounded-stream shape: state is bounded by the watermark
    horizon (one 10-minute delay + open windows), not by history, which
    is what the complete-mode drain of the sibling query cannot show.
    The trailing no-data micro-batch (kept ON here, unlike the
    complete-mode sibling) advances the watermark to max(ts) - 10min and
    flushes every closed window; windows still open at end-of-stream
    remain in state and are correctly ABSENT from the output. The oracle
    states the batch aggregate truncated to the same watermark horizon:
    window_end <= max(ts) - 10min."""
    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    deduped = (
        e.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    enriched = deduped.join(c, F.col("user_id") == F.col("c_custkey"))
    agg = (
        enriched.groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "c_mktsegment",
            "n_events",
            "total_cents",
        )
    )
    # Append mode emits each closed window exactly once, so the sink IS
    # the answer — no max-per-key rollup needed.
    return drain_to_table(agg, output_mode="append")


_STREAM_STREAM_OUTER_ORACLE = """
WITH cutoff AS (
  SELECT LEAST(
    MAX(CASE WHEN event_type = 'click' THEN ts END),
    MAX(CASE WHEN event_type = 'purchase' THEN ts END)
  ) - INTERVAL 2 HOUR AS cut
  FROM events
),
clicks AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM events, cutoff WHERE event_type = 'click' AND ts <= cut
),
purchases AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id AS user_id,
       click_id,
       purchase_id,
       EPOCH_US(p_ts) - EPOCH_US(c_ts) AS us_to_purchase
FROM clicks c LEFT JOIN purchases p
  ON c.user_id = p_user
 AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR
"""


@register(
    "st_stream_stream_outer_join",
    oracle=_STREAM_STREAM_OUTER_ORACLE,
    tags=("T6", "T5", "J3"),
)
def st_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics the inner form
    can't show: an unmatched click is held in state until the watermark
    passes its join-window upper bound, THEN emitted with a NULL
    purchase side. Emission is watermark-driven, so equality with the
    batch left join needs every left row's expiry to land below the
    final watermark: the left side is cut at
    least(max click ts, max purchase ts) - 2h — the global watermark is
    the MIN across both sides of (side max - 10min), so a kept click
    expires (c_ts + 1h) at least 50 minutes under it — computed once
    from the static table and applied as a literal filter AFTER the
    watermark operator (see inline comment). Purchases stream
    unfiltered: a post-cutoff purchase can still match a pre-cutoff
    click. The drained result then equals the batch left join the
    oracle states, NULLs included."""
    # The final watermark is min over BOTH sides of (that side's max
    # event time - 10min) — base the safety cutoff on the same min, not
    # the global max, or a side whose last event trails the other's by
    # >50min leaves boundary clicks unexpired.
    ev = load_table(spark, sf_dir, "events")
    m = ev.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
    ).first()
    cut = min(m["mc"], m["mp"]) - __import__("datetime").timedelta(hours=2)

    # Watermark BEFORE the cutoff filter: the watermark tracks the max
    # event time of rows the operator SEES, and the global watermark is
    # the min across both sides — filtering first would cap this side's
    # watermark at cut - 10min, below every kept click's expiry
    # (c_ts + 1h), so unmatched tail clicks would never flush.
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
        .filter(F.col("c_ts") <= F.lit(cut))
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("us_to_purchase"),
    )
    return drain_to_table(joined, output_mode="append")


# ---------------------------------------------------------------------------
# Streaming observability: query-progress metrics as a table
# ---------------------------------------------------------------------------


@register("st_progress_metrics", oracle=None, tags=("T1", "T5", "A2"))
def st_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY: drain a watermarked windowed aggregate
    and return the StreamingQueryProgress telemetry — batches executed,
    rows ingested, state-store rows, watermark advancement — as a
    queryable table. This is the ops surface every production stream
    is monitored through (lag dashboards, autoscaling signals); the
    engine exposes it as data rather than logs.

    Rows-only by design (engine telemetry has no DuckDB analogue);
    self-validating:
      * rows_accounted_ok — Σ numInputRows across progress events
        equals the events table's row count (AvailableNow must ingest
        everything exactly once);
      * batches_ok — at least one batch ran and none reported negative
        durations;
      * watermark_advanced_ok — the final event-time watermark is
        non-empty (the watermark machinery actually engaged).

    Scale: telemetry is O(batches), collected from the driver-side
    listener state after termination — no data-plane cost at all.
    """
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # The noop sink: only the query's progress is read, so no sink view.
    q = drain(agg.writeStream.format("noop"), "complete")
    progresses = [p for p in q.recentProgress if p is not None]
    total_input = sum(int(p["numInputRows"]) for p in progresses)
    n_batches = len(progresses)
    max_duration = max(
        (int(p["durationMs"].get("triggerExecution", 0)) for p in progresses),
        default=0,
    )
    state_rows = 0
    watermark = ""
    for p in progresses:
        for so in p.get("stateOperators", []):
            state_rows = max(state_rows, int(so.get("numRowsTotal", 0)))
        watermark = p.get("eventTime", {}).get("watermark", watermark) or watermark
    truth = load_table(spark, sf_dir, "events").count()
    return spark.createDataFrame(
        [
            (
                n_batches,
                total_input,
                truth,
                state_rows,
                max_duration,
                watermark,
                total_input == truth,
                n_batches >= 1 and max_duration >= 0,
                watermark != "",
            )
        ],
        "n_batches int, rows_ingested long, rows_expected long, "
        "state_rows_peak long, max_trigger_ms long, final_watermark string, "
        "rows_accounted_ok boolean, batches_ok boolean, "
        "watermark_advanced_ok boolean",
    )


# ---------------------------------------------------------------------------
# Streaming replay determinism: two independent drains agree bit-for-bit
# ---------------------------------------------------------------------------


@register("st_replay_determinism", oracle=None, tags=("T1", "T5", "T7"))
def st_replay_determinism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming REPLAY determinism: the same watermarked windowed
    aggregate drained TWICE — independent queries, independent
    checkpoints, independent sinks — must produce bit-identical
    results, the property that makes streaming pipelines re-runnable
    after failure (if a replay could differ, checkpoint recovery
    would be semantically lossy). The batch suite proves partition
    invariance; this proves the STREAMING execution path (micro-batch
    planning, state store, watermark bookkeeping) adds no
    nondeterminism either.

    Rows-only by design (the assertion is between two Spark runs);
    per-window self-validation:
      * replay_match_ok — both drains produced this (window, count,
        cents) row exactly (full outer join finds no one-sided rows);
      * both_present_ok — neither side's row is missing.
    """
    def one_drain():
        e = read_events_stream(spark, sf_dir)
        agg = (
            e.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "6 hours"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents(F.col("value"))).cast("long").alias("cents"),
            )
            .select(
                F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                    "w_start"
                ),
                "n",
                "cents",
            )
        )
        return drain_to_table(agg, output_mode="complete")

    run1 = one_drain().select(
        F.col("w_start"), F.col("n").alias("n1"), F.col("cents").alias("c1")
    )
    run2 = one_drain().select(
        F.col("w_start"), F.col("n").alias("n2"), F.col("cents").alias("c2")
    )
    return (
        run1.join(run2, "w_start", "full_outer")
        .select(
            "w_start",
            F.coalesce("n1", F.lit(-1)).alias("n1_filled"),
            F.coalesce("n2", F.lit(-2)).alias("n2_filled"),
            F.coalesce("c1", F.lit(-1)).alias("c1_filled"),
            F.coalesce("c2", F.lit(-2)).alias("c2_filled"),
            # eqNullSafe: a one-sided row must read FALSE, never NULL
            # (a NULL would slip through an .all() truthiness check).
            (
                F.col("n1").eqNullSafe(F.col("n2"))
                & F.col("c1").eqNullSafe(F.col("c2"))
            ).alias("replay_match_ok"),
            (F.col("n1").isNotNull() & F.col("n2").isNotNull()).alias(
                "both_present_ok"
            ),
        )
        .orderBy("w_start")
    )


# ---------------------------------------------------------------------------
# Union of two streams: the combined watermark is the MIN of the sources
# ---------------------------------------------------------------------------

_UNION_WM_ORACLE = f"""
WITH unioned AS (
  SELECT ts, value FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT ts, value FROM events WHERE event_type = 'purchase'
),
win AS (
  SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS w_start,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
  FROM unioned
  GROUP BY 1
)
SELECT w_start, n_events, total_cents
FROM win
ORDER BY w_start
"""


@register(
    "st_union_two_streams",
    oracle=_UNION_WM_ORACLE,
    tags=("T1", "T5", "O3"),
)
def st_union_two_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independently-watermarked streams (a high-rate click/view
    feed at 10-minute lateness, a low-rate purchase feed at 1 hour)
    UNIONed into one tumbling-hour aggregate — the fan-in topology
    every multi-source pipeline has, with the semantics people get
    wrong: the combined operator watermark is the MINIMUM of the
    sources, so the laggiest feed gates every window's finalization.
    Drained AvailableNow in complete mode, the sink's final window
    states must equal the batch oracle exactly — the union-watermark
    parity proof (append mode would hold back the tail windows the
    laggiest feed has not yet released — exactly the gating this
    topology exists to demonstrate).

    Scale — per-source watermarks are tracked independently by the
    engine; the union is not a shuffle (partitions concatenate); the
    only wide op is the windowed aggregation keyed by window start."""
    s = read_events_stream(spark, sf_dir)
    fast = s.filter(F.col("event_type").isin("click", "view")).withWatermark(
        "ts", "10 minutes"
    )
    slow = s.filter(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    unioned = fast.unionByName(slow)
    agged = (
        unioned.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("total_cents"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "n_events",
            "total_cents",
        )
    )
    return drain_to_table(agged, output_mode="complete").orderBy("w_start")


# ---------------------------------------------------------------------------
# Streaming SCD2 dimension maintenance via foreachBatch
# ---------------------------------------------------------------------------

_SCD2_STREAM_ORACLE = """
WITH obs AS (
  SELECT user_id,
         CAST(FLOOR((DAYOFMONTH(ts) - 1) / 8) AS BIGINT) AS wnd,
         event_type, ts, event_id
  FROM events
),
per_window AS (
  SELECT user_id, wnd, event_type
  FROM (
    SELECT user_id, wnd, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, wnd
                              ORDER BY ts DESC, event_id DESC) AS rk
    FROM obs
  ) WHERE rk = 1
),
versions AS (
  SELECT user_id, wnd, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY wnd) AS prev,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY wnd DESC) AS rev
  FROM per_window
),
changes AS (
  SELECT user_id, event_type, rev
  FROM versions
  WHERE prev IS NULL OR event_type <> prev
)
SELECT v.event_type AS current_type,
       CAST(COUNT(*) AS BIGINT) AS n_current_users,
       CAST(SUM(ch.n_versions) AS BIGINT) AS total_versions
FROM versions v
JOIN (SELECT user_id, COUNT(*) AS n_versions FROM changes GROUP BY user_id) ch
  ON v.user_id = ch.user_id
WHERE v.rev = 1
GROUP BY v.event_type
ORDER BY current_type
"""


def _scd2_merge_batch(spark: SparkSession, dim: str, batch_df: DataFrame) -> None:
    """One foreachBatch merge step: land the per-(user, window) latest
    observation into the dimension artifact.

    The incoming batch is UNIONED with the existing rows of the touched
    window partitions before the argmax recompute, and the argmax
    witness columns (ts, event_id) are persisted — so the result is
    correct even if a window's rows arrive split across micro-batches
    (maxRecordsPerFile, layout drift, replays). Without the union, a
    later batch's dynamic partition overwrite would silently discard
    the earlier batch's rows for that window and argmax a partial
    batch. The merge is an associative fold: latest(existing ∪ new) ==
    latest(all rows seen), under ANY batch grouping or order."""
    import os

    from pyspark.sql.window import Window

    incoming = batch_df.select("user_id", "wnd", "ts", "event_id", "event_type")
    base = incoming
    # "Dimension exists" must be decided by a positive part-file probe,
    # not by swallowing read errors: a transient failure on a POPULATED
    # dimension that silently degraded base to incoming-only would let
    # the dynamic overwrite clobber every touched window — the exact
    # data-loss bug the union exists to prevent. Real read failures
    # propagate and abort the batch (streaming retries the batch).
    has_rows = os.path.isdir(dim) and any(
        f.startswith("part-")
        for _, _, files in os.walk(dim)
        for f in files
    )
    if has_rows:
        existing = spark.read.option("basePath", dim).parquet(dim)
        touched = incoming.select("wnd").distinct()
        # localCheckpoint materializes the touched slice so the
        # dynamic overwrite below doesn't read the path it rewrites
        # (Spark rejects same-path read+overwrite in one job).
        base = incoming.unionByName(
            existing.join(F.broadcast(touched), "wnd").select(
                "user_id", "wnd", "ts", "event_id", "event_type"
            ).localCheckpoint(eager=True)
        )
    w = Window.partitionBy("user_id", "wnd").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        base.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "wnd", "ts", "event_id", "event_type")
    )
    latest.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("wnd").parquet(dim)


@register(
    "st_foreachbatch_merge_scd2",
    oracle=_SCD2_STREAM_ORACLE,
    tags=("T6", "T5", "S4", "W2"),
)
def st_foreachbatch_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 dimension maintenance — the CDC consumer that
    keeps a slowly-changing user dimension current from an event feed:
    each micro-batch lands its per-(user, window) latest attribute into
    the dimension artifact via foreachBatch, and version ranges are
    assembled from the accumulated observations. Keying versions on the
    event-time WINDOW (not arrival order) makes the final dimension
    IDENTICAL under any batch arrival order or regrouping — the
    property that lets an exact SQL oracle check a 4-micro-batch
    incremental build, and the property a production CDC consumer needs
    to survive replays and out-of-order file discovery.

    Scale: each batch does one combinable per-(user, window) argmax and
    a partition-scoped append; the SCD2 compression (LAG over windows
    per user) runs on the observation table, which is user x 4 windows
    — dimension-sized, not event-sized."""
    import shutil

    from pyspark.sql.window import Window

    from ..sources import materialize, scratch_dir

    def stage(path: str) -> None:
        e = load_table(spark, sf_dir, "events").withColumn(
            "wnd", F.floor((F.dayofmonth("ts") - 1) / 8).cast("bigint")
        )
        e.repartition("wnd").write.mode("overwrite").partitionBy(
            "wnd"
        ).parquet(path)

    src = materialize(
        sf_dir, "scd2_src", stage, tables=("events",), params="scd2-src-4wnd"
    )
    dim = scratch_dir(sf_dir, "scd2_dim_obs")
    shutil.rmtree(dim, ignore_errors=True)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string, wnd long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("basePath", src)
        .parquet(src)
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _scd2_merge_batch(spark, dim, batch_df)

    drain(stream.writeStream.foreachBatch(merge))

    obs = spark.read.option("basePath", dim).parquet(dim)
    wv = Window.partitionBy("user_id").orderBy("wnd")
    versions = obs.select(
        "user_id",
        "wnd",
        "event_type",
        F.lag("event_type").over(wv).alias("prev"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("wnd").desc()))
        .alias("rev"),
    )
    changes = versions.filter(
        F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
    )
    n_versions = changes.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions")
    )
    current = versions.filter(F.col("rev") == 1).select(
        "user_id", F.col("event_type").alias("current_type")
    )
    return (
        current.join(n_versions, "user_id")
        .groupBy("current_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_current_users"),
            F.sum("n_versions").cast("bigint").alias("total_versions"),
        )
        .orderBy("current_type")
    )


# --- T7, second wave: dropDuplicatesWithinWatermark ------------------------

_DEDUP_WM_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_user_minutes
FROM (
  SELECT DISTINCT user_id, event_type, DATE_TRUNC('minute', ts) AS minute
  FROM events
) t
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "st_dedup_business_key",
    oracle=_DEDUP_WM_ORACLE,
    tags=("T7", "T5", "A1"),
)
def st_dedup_business_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7, second wave: `dropDuplicatesWithinWatermark` on a COMPOSITE
    business key that genuinely collides — unlike the event_id form
    above (unique key: a pass-through), this one collapses real
    duplicates, proving the state store actually suppresses repeat
    keys. Dedup key is (user_id, event_type, minute); the drained append-mode sink is then
    aggregated to per-type distinct-key counts, which equal the batch
    DISTINCT — the survivor ROW per key is arrival-order dependent, so
    only key-determined columns flow to the checked output.

    Scale notes: this is THE production dedup-by-key+watermark shape —
    state is bounded by (keys arriving within one watermark delay), not
    by total history, so it runs indefinitely on an unbounded source.
    The post-drain aggregate is a normal shuffle agg on the (already
    deduped) sink table."""
    e = read_events_stream(spark, sf_dir)
    deduped = (
        e.withWatermark("ts", "10 minutes")
        .select(
            "ts",
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
    )
    sink = drain_to_table(deduped, output_mode="append")
    return (
        sink.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_user_minutes"))
        .orderBy("event_type")
    )


# --- T7, third wave: dedup -> session_window, stacked stateful ---------------

_DEDUP_SESSION_ORACLE = """
WITH deduped AS (
  SELECT DISTINCT user_id, ts FROM events
),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS is_start
  FROM deduped
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT)            AS n_distinct_instants
FROM sessions
GROUP BY user_id
ORDER BY user_id
LIMIT 200
"""


@register(
    "st_dedup_then_session",
    oracle=_DEDUP_SESSION_ORACLE,
    tags=("T7", "T3", "T5", "T4"),
)
def st_dedup_then_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7, third wave: STACKED stateful streaming — watermarked
    dropDuplicates on (user, event-time instant) feeding a session_window
    aggregate in the SAME streaming query (Spark 4 allows chained
    stateful operators under one watermark). Dedup-before-sessionize is
    the production shape: retried deliveries of the same instant must
    not inflate session event counts. Drained complete-mode sessions
    then roll up to per-user session counts, equal to the batch
    DISTINCT + gap reconstruction the oracle states.

    Scale: two state stores (dedup keys within the watermark; open
    sessions per user), both watermark-bounded; one shuffle per stateful
    operator."""
    e = read_events_stream(spark, sf_dir)
    deduped = (
        e.withWatermark("ts", "10 minutes")
        .select("user_id", "ts")
        .dropDuplicates(["user_id", "ts"])
    )
    sessions = deduped.groupBy(
        F.session_window("ts", "30 minutes"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_instants"))
    sunk = drain_to_table(sessions, output_mode="complete")
    return (
        sunk.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_instants").cast("long").alias("n_distinct_instants"),
        )
        .orderBy("user_id")
        .limit(200)
    )


# --- T6, fourth wave: two-dim static enrichment inside the stream -----------

_STATIC_ENRICH_ORACLE = f"""
SELECT CAST(EPOCH_US(ts) // 1000000 // 21600 * 21600 AS BIGINT)
         AS window_start_epoch,
       n_name,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS value_cents
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY 1, 2
"""


@register(
    "st_static_enrich_window",
    oracle=_STATIC_ENRICH_ORACLE,
    tags=("T6", "T5", "T1"),
)
def st_static_enrich_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6, fourth wave: a SNOWFLAKED static enrichment inside the
    stream — each micro-batch joins events to customer and then nation
    (two static dims, the second reached THROUGH the first), before a
    watermarked 6-hour tumbling aggregate per nation name. Proves the
    per-batch join planner handles chained static dims, not just the
    single-dim case of st_stream_static_join.

    Scale: static dims are planned per micro-batch (broadcast when
    small); only the windowed aggregate is stateful. Complete-mode
    drain ⇒ the tuned 8-store / no-empty-batch drain applies."""
    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        e.withWatermark("ts", "10 minutes")
        .join(c, F.col("user_id") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.window("ts", "6 hours"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("value_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "n_name",
            "n_events",
            "value_cents",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- T6+T1, fifth wave: static dimension joined AFTER the stateful agg -------

_POSTAGG_ENRICH_ORACLE = f"""
SELECT
  CAST(EPOCH_US(ts) // 1000000 // 21600 * 21600 AS BIGINT)
    AS window_start_epoch,
  c_mktsegment,
  user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS value_cents
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2, 3
"""


@register(
    "st_postagg_static_enrich",
    oracle=_POSTAGG_ENRICH_ORACLE,
    tags=("T6", "T1", "T5"),
)
def st_postagg_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+T1+T5, fifth wave: the static dimension joins AFTER the
    watermarked tumbling aggregate — the production-preferred order
    when the dim only labels the OUTPUT (join |windows x users| rows,
    not |events| rows). st_static_enrich_window proves the dim-
    before-agg order; this proves the per-micro-batch planner handles
    a static join downstream of stateful aggregation.

    Scale: the stateful operator shuffles events once on (window,
    user); the enrichment join then touches only the aggregate's
    output cardinality per batch — at 100 TB that is the difference
    between joining billions of events and joining thousands of
    window rows. Complete-mode drain with the tuned 8-store setting."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "6 hours").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("value_cents"),
        )
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = agg.join(c, F.col("user_id") == F.col("c_custkey")).select(
        F.unix_seconds(F.col("win.start").cast("timestamp")).alias(
            "window_start_epoch"
        ),
        "c_mktsegment",
        "user_id",
        "n_events",
        "value_cents",
    )
    return drain_to_table(enriched, output_mode="complete")


# --- T7+T4+U2, seventh wave: arbitrary stateful dedup census ------------------

_APPLY_STATE_DEDUP_ORACLE = """
WITH r AS (
  SELECT user_id, event_type, event_id,
         EPOCH_US(ts) AS ts_us,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY EPOCH_US(ts), event_id) AS rn,
         COUNT(*)    OVER (PARTITION BY user_id, event_type) AS n
  FROM events
)
SELECT user_id, event_type,
       CAST(n AS BIGINT)        AS n_seen,
       CAST(n - 1 AS BIGINT)    AS n_dupes,
       CAST(ts_us AS BIGINT)    AS first_ts_us,
       CAST(event_id AS BIGINT) AS first_event_id
FROM r
WHERE rn = 1
"""


@register(
    "st_apply_state_dedup",
    oracle=_APPLY_STATE_DEDUP_ORACLE,
    tags=("T7", "T4", "U2"),
)
def st_apply_state_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+T4+U2, seventh wave: CUSTOM arbitrary-state streaming dedup
    via `applyInPandasWithState` — the provable arbitrary-state API in
    this environment (`transformWithStateInPandas`, the Spark 4
    successor, needs google.protobuf, absent here; see
    st_transform_with_state's EnvironmentGated twin). Per
    (user_id, event_type) key the state holds exactly three int64s —
    (n_seen, first_ts_us, first_event_id) with the first-row choice
    made lexicographically on (ts_us, event_id), so the state merge is
    order- and batch-split-invariant — and each micro-batch UPDATEs the
    cumulative census row for every key it touched. The source is a
    4-file snapshot drained one file per trigger, so keys genuinely
    span micro-batches and the state store round-trips between them.
    The final answer takes each key's LAST update (max n_seen — it
    strictly increases on every touch), making the checked output
    independent of how the stream was batched; the oracle states the
    same census as a batch window.

    Scale: state is O(distinct keys) x 24 bytes, not O(history) — the
    production unbounded form adds a GroupStateTimeout to evict idle
    keys, which this bounded-key census does not need. One shuffle on
    the group key per batch; the pandas work per key is O(rows in
    batch); no driver-side row path (memory sink holds one census row
    per touched key per batch, bounded by 4 x |keys|)."""
    import os
    import shutil

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..sources import materialize

    src = materialize(
        sf_dir,
        "aps_src",
        lambda p: load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(p),
        tables=("events",),
        params="aps-src-4part",
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    keyed = stream.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("n_seen", LongType()),
            StructField("first_ts_us", LongType()),
            StructField("first_event_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("fts", LongType()),
            StructField("feid", LongType()),
        ]
    )

    def track(key, pdfs, state):
        import numpy as np

        if state.exists:
            n, fts, feid = state.get
        else:
            n, fts, feid = 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            ts = pdf["ts_us"].to_numpy(dtype="int64")
            eid = pdf["event_id"].to_numpy(dtype="int64")
            i = np.lexsort((eid, ts))[0]
            if fts is None or (int(ts[i]), int(eid[i])) < (fts, feid):
                fts, feid = int(ts[i]), int(eid[i])
        state.update((n, fts, feid))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n_seen": [n],
                "first_ts_us": [fts],
                "first_event_id": [feid],
            }
        )

    updates = keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        track,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_table(updates, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n_seen"))
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            "n_seen",
            (F.col("n_seen") - 1).cast("long").alias("n_dupes"),
            "first_ts_us",
            "first_event_id",
        )
    )


# --- T2+T1+T5, seventh wave: sliding window in APPEND mode -------------------

_SLIDING_APPEND_ORACLE = f"""
WITH wm AS (
  SELECT CAST(EPOCH(MAX(ts)) AS BIGINT) - 600 AS w FROM events
),
offsets AS (SELECT UNNEST([0, 1, 2, 3]) AS j),
agg AS (
  SELECT
    CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 - j * 3600
      AS window_start_epoch,
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
  FROM events, offsets
  GROUP BY 1, 2
)
SELECT window_start_epoch, event_type, n_events, total_cents
FROM agg
WHERE window_start_epoch + 14400 <= (SELECT w FROM wm)
"""


@register(
    "st_sliding_append_eviction",
    oracle=_SLIDING_APPEND_ORACLE,
    tags=("T2", "T1", "T5"),
)
def st_sliding_append_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+T5, seventh wave: SLIDING window (4h length, 1h slide — each
    event feeds 4 windows) in APPEND output mode: a window row is
    emitted exactly once, when the 10-minute watermark passes its end,
    and its state is evicted. The r08-proven append shape was a
    tumbling window (st_pipeline_ingest_append); sliding windows hold
    length/slide = 4x the state and close in the same 1h cadence, which
    is exactly what the oracle's HAVING window_end <= max(ts)-10min
    horizon states. Windows still open at end-of-stream stay in state
    and are correctly ABSENT.

    Scale: state is (open windows x types), bounded by the watermark
    horizon + window length, never by history; one shuffle on the
    window/type key per micro-batch. The trailing no-data batch is kept
    ON — it advances the watermark to flush every closed window.
    Single-batch assumption (load-bearing, pinned by
    tests/test_streaming.py::test_read_events_stream_stages_one_file):
    the staged source is one file / one data micro-batch, so no row can
    arrive behind an already-advanced watermark."""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "4 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "event_type",
            "n_events",
            "total_cents",
        )
    )
    return drain_to_table(agg, output_mode="append")


# --- T3+T5+T4, seventh wave: session window in APPEND mode -------------------

_SESSION_APPEND_ORACLE = """
WITH wm AS (
  SELECT CAST(EPOCH(MAX(ts)) AS BIGINT) - 600 AS w FROM events
),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT
  user_id,
  EPOCH_US(MIN(ts)) // 1000000        AS session_start_epoch,
  EPOCH_US(MAX(ts)) // 1000000 + 1800 AS session_end_epoch,
  COUNT(*)                            AS n_events
FROM sessions
GROUP BY user_id, sid
HAVING EPOCH_US(MAX(ts)) // 1000000 + 1800 <= (SELECT w FROM wm)
"""


@register(
    "st_session_append_eviction",
    oracle=_SESSION_APPEND_ORACLE,
    tags=("T3", "T5", "T4"),
)
def st_session_append_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T5, seventh wave: session_window(30 min gap) per user in
    APPEND mode — a session row is emitted exactly once, when the
    watermark passes session end (last event + gap), and its state is
    evicted; sessions still open (or mergeable) at end-of-stream stay
    in state and are ABSENT from the output. This is the production
    sessionization shape: complete-mode session drains (the r0x-proven
    t_/st_ session forms) re-emit everything each batch and hold all
    history in state, which an unbounded source cannot afford. The
    oracle reconstructs the same sessions with the LAG-gap idiom and
    truncates to the same horizon: session_end <= max(ts) - 10min.

    Scale: state is (open sessions), bounded by the gap + watermark
    delay per user — O(active users), not O(history). NOTE the
    single-batch assumption (pinned by
    tests/test_streaming.py::test_read_events_stream_stages_one_file):
    read_events_stream stages ONE parquet file and sets no
    maxFilesPerTrigger, so the drain is one data micro-batch plus the
    watermark-advancing empty batch. That is load-bearing for
    correctness, not an accident — were the source split across
    triggers, the 10-minute watermark set after batch 1 would drop most
    later-batch rows as late and break parity with the oracle. (The
    4-file one-per-trigger cross-batch source belongs to
    st_apply_state_dedup, which builds its own round-robin staging and
    whose state merge is batch-split-invariant by construction.)"""
    e = read_events_stream(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_seconds(
                F.col("session_window.start").cast("timestamp")
            ).alias("session_start_epoch"),
            F.unix_seconds(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_epoch"
            ),
            "n_events",
        )
    )
    return drain_to_table(agg, output_mode="append")


# --- T6+J4, seventh wave: stream-static LEFT SEMI join ------------------------

_STREAM_SEMI_ORACLE = f"""
SELECT
  CAST(FLOOR(EPOCH(ts) / 21600) AS BIGINT) * 21600 AS window_start_epoch,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM events
WHERE user_id IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
)
GROUP BY 1, 2
"""


@register(
    "st_semi_join_static_filter",
    oracle=_STREAM_SEMI_ORACLE,
    tags=("T6", "J4", "T1"),
)
def st_semi_join_static_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6+J4, seventh wave: stream-static LEFT SEMI join — the stream
    is FILTERED by key membership in a static dimension subset (one
    segment's customers) without widening the row, then windowed. The
    r0x-proven stream-static forms are inner enrichment joins; semi is
    the production allowlist/entitlement gate and is stateless on the
    static side (re-planned per micro-batch, no stream state).

    Scale: the static side prunes to one segment before the join and
    broadcasts; the stream never materializes dim columns. Complete-
    mode drain with the tuned 8-store setting (the aggregate's final
    state is a few hundred window rows)."""
    e = read_events_stream(spark, sf_dir)
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    gated = e.join(c, F.col("user_id") == F.col("c_custkey"), "left_semi")
    agg = (
        gated.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "event_type",
            "n_events",
            "total_cents",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- T7+T2, seventh wave: dedup feeding a sliding window ----------------------

_DEDUP_SLIDING_ORACLE = """
WITH deduped AS (
  SELECT DISTINCT user_id, event_type,
         CAST(FLOOR(EPOCH(ts) / 60) AS BIGINT) * 60 AS minute_epoch
  FROM events
),
offsets AS (SELECT UNNEST([0, 1]) AS j)
SELECT
  (minute_epoch // 3600) * 3600 - j * 3600 AS window_start_epoch,
  event_type,
  COUNT(*) AS n_user_minutes
FROM deduped, offsets
GROUP BY 1, 2
"""


@register(
    "st_dedup_sliding_census",
    oracle=_DEDUP_SLIDING_ORACLE,
    tags=("T7", "T2", "T5"),
)
def st_dedup_sliding_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+T2, seventh wave: STACKED stateful streaming — watermarked
    dropDuplicates on the (user, type, minute) business key feeding a
    SLIDING window (2h length, 1h slide) count in the same streaming
    query. The r0x-proven stacks were dedup->tumbling and
    dedup->session; sliding is the rate-monitoring shape (every
    user-minute counts toward 2 overlapping windows). Dedup key uses
    the minute TRUNCATION as its event-time column so the downstream
    window groups on the deduped time grid exactly as the oracle's
    DISTINCT + 2-offset expansion states.

    Scale: two state stores — dedup keys within the watermark bound,
    open sliding windows x types — both watermark-bounded; one shuffle
    per stateful operator. Complete-mode drain (the final window count
    is small). Single-batch assumption (load-bearing, pinned by
    tests/test_streaming.py::test_read_events_stream_stages_one_file):
    with one data micro-batch the watermarked dropDuplicates sees every
    row before the watermark advances, so nothing is dropped as late
    and the DISTINCT oracle matches exactly."""
    e = read_events_stream(spark, sf_dir)
    deduped = (
        e.select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts")).alias("minute"),
        )
        .withWatermark("minute", "10 minutes")
        .dropDuplicates(["user_id", "event_type", "minute"])
    )
    agg = (
        deduped.groupBy(F.window("minute", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_user_minutes"))
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "event_type",
            "n_user_minutes",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# === Eighth wave (round 10): streaming depth restocks ==========================

# --- T3+T6, eighth wave: session window over a stream-static enrichment --------

_SESSION_STATIC_GATE_ORACLE = f"""
WITH e2 AS (
  SELECT e.user_id, e.ts, e.event_id, c.c_mktsegment,
         {CENTS_SQL.format(expr="e.value")} AS cents
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
),
flagged AS (
  SELECT user_id, c_mktsegment, ts, cents,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1200000000
         THEN 1 ELSE 0 END AS is_start
  FROM e2
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, c_mktsegment, ts, cents,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       c_mktsegment,
       CAST(EPOCH_US(MIN(ts)) // 1000000 AS BIGINT)        AS session_start_epoch,
       CAST(EPOCH_US(MAX(ts)) // 1000000 + 1200 AS BIGINT) AS session_end_epoch,
       CAST(COUNT(*) AS BIGINT)                            AS n_events,
       CAST(SUM(cents) AS BIGINT)                          AS value_cents
FROM sessions
GROUP BY user_id, c_mktsegment, sid
"""


@register(
    "st_session_static_gate",
    oracle=_SESSION_STATIC_GATE_ORACLE,
    tags=("T3", "T6"),
)
def st_session_static_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T6, eighth wave: stream-static INNER enrichment feeding a
    SESSION WINDOW — each event picks up its customer's market segment
    from the static dimension BEFORE sessionization (dim-before-agg:
    the session key is then (user, segment), constant per user, so the
    enrichment widens rows without changing session identity), and
    session_window(20 min) closes per-user bursts. The proven session
    forms use 30-minute gaps and no dimension; this pins that the
    per-micro-batch planner pushes a static hash join UPSTREAM of the
    session-state operator, and that the gap is a free parameter.

    Scale: the static side is broadcast per micro-batch; session state
    is O(open sessions); one shuffle on the session key. Complete-mode
    drain (bounded session census). Single-batch source assumption as
    pinned by
    tests/test_streaming.py::test_read_events_stream_stages_one_file."""
    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = e.join(c, e.user_id == c.c_custkey).select(
        "user_id", "c_mktsegment", "ts", cents(F.col("value")).alias("cents")
    )
    agg = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(
            "user_id",
            "c_mktsegment",
            F.session_window("ts", "20 minutes"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .select(
            "user_id",
            "c_mktsegment",
            F.unix_seconds(
                F.col("session_window.start").cast("timestamp")
            ).alias("session_start_epoch"),
            F.unix_seconds(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_epoch"
            ),
            "n_events",
            "value_cents",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- T2+T6+J6+J4, eighth wave: sliding window behind a static-star semi gate ---

_SLIDING_STAR_GATE_ORACLE = f"""
WITH asia AS (
  SELECT c.c_custkey
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
),
gated AS (
  SELECT * FROM events WHERE user_id IN (SELECT c_custkey FROM asia)
),
offsets AS (SELECT UNNEST([0, 1, 2]) AS j)
SELECT
  CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 - j * 3600
    AS window_start_epoch,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM gated, offsets
GROUP BY 1, 2
"""


@register(
    "st_sliding_star_gate",
    oracle=_SLIDING_STAR_GATE_ORACLE,
    tags=("T2", "T6", "J6", "J4"),
)
def st_sliding_star_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+T6+J6+J4, eighth wave: the static side of a stream-static
    join is itself a MULTI-WAY STAR — customer->nation->region resolves
    the ASIA customer keys (J6, both dims broadcast), the stream is
    gated by LEFT SEMI membership in that derived key set (J4/T6:
    filter-only, no row widening), and the survivors feed a SLIDING
    window (3h length, 1h slide — every event lands in 3 windows, T2).
    This is the 'regional rollout monitor' shape: a dashboard scoped by
    a dimensional subtree, not a flat key list.

    Scale: the star collapses to a few hundred keys before the stream
    ever sees it — resolved once, broadcast per micro-batch; sliding
    state is (open windows x types); one shuffle per batch on the
    window/type key. Complete-mode drain."""
    e = read_events_stream(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey")
    )
    gated = e.join(asia, e.user_id == asia.c_custkey, "left_semi")
    agg = (
        gated.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "3 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "event_type",
            "n_events",
            "total_cents",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- T3+T7, eighth wave: dedup feeding a session window ------------------------

_SESSION_DEDUP_ORACLE = """
WITH du AS (
  SELECT DISTINCT user_id, DATE_TRUNC('minute', ts) AS minute
  FROM events
),
flagged AS (
  SELECT user_id, minute,
    CASE WHEN LAG(minute) OVER w IS NULL
           OR EPOCH_US(minute) - EPOCH_US(LAG(minute) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS is_start
  FROM du
  WINDOW w AS (PARTITION BY user_id ORDER BY minute)
),
sessions AS (
  SELECT user_id, minute,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY minute
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(EPOCH_US(MIN(minute)) // 1000000 AS BIGINT)
         AS session_start_epoch,
       CAST(EPOCH_US(MAX(minute)) // 1000000 + 1800 AS BIGINT)
         AS session_end_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_active_minutes
FROM sessions
GROUP BY user_id, sid
"""


@register(
    "st_session_dedup_quiet",
    oracle=_SESSION_DEDUP_ORACLE,
    tags=("T3", "T7"),
)
def st_session_dedup_quiet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T7, eighth wave: STACKED stateful streaming — watermarked
    dropDuplicates on the (user, minute) activity grid (T7) feeding a
    SESSION WINDOW (30-min gap) over the deduped minutes (T3), so each
    session reports ACTIVE MINUTES, not raw event count — the
    billing-meter shape (burst-proof: a thousand events in one minute
    bill as one). The proven stacks are dedup->tumbling and
    dedup->sliding; session state downstream of dedup state is the
    remaining pair, and its session identity must come out identical to
    the oracle's LAG-gap reconstruction over DISTINCT minutes.

    Scale: dedup state is watermark-bounded keys; session state is
    O(open sessions); two shuffles per batch (dedup key, session key).
    Complete-mode drain. Single-batch source assumption pinned by
    test_read_events_stream_stages_one_file."""
    e = read_events_stream(spark, sf_dir)
    deduped = (
        e.select(
            "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
        )
        .withWatermark("minute", "10 minutes")
        .dropDuplicates(["user_id", "minute"])
    )
    agg = (
        deduped.groupBy("user_id", F.session_window("minute", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_minutes"))
        .select(
            "user_id",
            F.unix_seconds(
                F.col("session_window.start").cast("timestamp")
            ).alias("session_start_epoch"),
            F.unix_seconds(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_epoch"
            ),
            "n_active_minutes",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- U2+T4+T7, eighth wave: arbitrary-state user-day duplicate census ----------

_APPLY_STATE_DAY_ORACLE = """
WITH per AS (
  SELECT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
         COUNT(*) AS n,
         MIN(event_id) AS min_eid,
         MAX(event_id) AS max_eid
  FROM events
  GROUP BY 1, 2
)
SELECT epoch_day,
       CAST(COUNT(*) AS BIGINT)                               AS n_user_days,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_event,
       CAST(SUM(n - 1) AS BIGINT)                             AS total_dupes,
       CAST(MAX(n) AS BIGINT)                                 AS max_events,
       CAST(SUM(max_eid - min_eid) AS BIGINT)                 AS eid_span_sum
FROM per
GROUP BY epoch_day
"""


@register(
    "st_apply_state_day_census",
    oracle=_APPLY_STATE_DAY_ORACLE,
    tags=("U2", "T4", "T7"),
)
def st_apply_state_day_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+T4+T7, eighth wave: arbitrary-state streaming dedup census at
    the (user, day) BUSINESS-KEY grain via `applyInPandasWithState` —
    per key the state is exactly three int64s (n, min_event_id,
    max_event_id), every one of which merges ORDER-INVARIANTLY (sum,
    min, max). Round 12 (guide §2.3 "aggregate before you shuffle",
    VERDICT r11 task 5): the staged source holds per-(user, day)
    PARTIALS — a plain batch groupBy at staging time computes (n, min,
    max) per key, and the stateful operator FOLDS partials instead of
    raw event rows. The per-group state-server round trip is this
    operator's dominant cost at high key cardinality (~90k group calls
    over the 4-batch drain at sf0.1 on raw rows); with one partial row
    per key the drain makes ONE call per key (~22k). Batch-split
    invariance of the fold is unchanged — the state merges are the
    same sum/min/max — and stays pinned by the
    tests/test_operator_edges.py one-trigger-vs-four test; the family's
    raw-row cross-batch exercise lives in st_apply_state_dedup and
    st_state_value_extremes, whose keys still span micro-batches.

    Scale: state is O(distinct user-days within the stream's horizon) x
    24 bytes; the production form adds a GroupStateTimeout to retire
    days past the watermark. One shuffle on the group key per batch;
    the day rollup runs on the drained census, not the event stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    from ..sources import materialize

    def stage(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(
                "user_id",
                F.datediff(
                    F.to_date(F.col("ts").cast("timestamp")),
                    F.lit("1970-01-01"),
                )
                .cast("long")
                .alias("epoch_day"),
                "event_id",
            )
            .groupBy("user_id", "epoch_day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min("event_id").cast("long").alias("mn"),
                F.max("event_id").cast("long").alias("mx"),
            )
            .repartition(4)
            .write.mode("overwrite")
            .parquet(path)
        )

    src = materialize(
        sf_dir,
        "aps_day_src",
        stage,
        tables=("events",),
        params="aps-day-partials-4part",
    )
    keyed = (
        spark.readStream.schema(
            "user_id long, epoch_day long, n long, mn long, mx long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("epoch_day", LongType()),
            StructField("n", LongType()),
            StructField("min_eid", LongType()),
            StructField("max_eid", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mn", LongType()),
            StructField("mx", LongType()),
        ]
    )

    import numpy as np

    _out_cols = ["user_id", "epoch_day", "n", "min_eid", "max_eid"]

    def census(key, pdfs, state):
        # Folds (n, min, max) PARTIALS — same order-invariant merges as
        # the raw-row fold, one input row per key per batch. ndarray
        # reductions + single int64-array emission per guide §4.
        if state.exists:
            n, mn, mx = state.get
        else:
            n, mn, mx = 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += int(pdf["n"].to_numpy().sum())
            lo = int(pdf["mn"].to_numpy().min())
            hi = int(pdf["mx"].to_numpy().max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        state.update((n, mn, mx))
        yield pd.DataFrame(
            np.array([[key[0], key[1], n, mn, mx]], dtype=np.int64),
            columns=_out_cols,
        )

    updates = keyed.groupBy("user_id", "epoch_day").applyInPandasWithState(
        census,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_table(updates, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "epoch_day").orderBy(F.desc("n"))
    final = (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return final.groupBy("epoch_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_event"),
        F.sum(F.col("n") - 1).cast("long").alias("total_dupes"),
        F.max("n").cast("long").alias("max_events"),
        F.sum(F.col("max_eid") - F.col("min_eid"))
        .cast("long")
        .alias("eid_span_sum"),
    )


# === Ninth wave (round 11): streaming restocks =================================

# --- T1+T5+P4, ninth wave: predicate-gated tumbling windows in append mode -----

_TUMBLING_LATE_ORACLE = f"""
WITH gated AS (
  SELECT * FROM events
  WHERE event_type IN ('click', 'purchase')
    AND user_id BETWEEN 10 AND 139
),
wm AS (
  SELECT CAST(EPOCH(MAX(ts)) AS BIGINT) - 600 AS w FROM gated
),
agg AS (
  SELECT CAST(FLOOR(EPOCH(ts) / 1800) AS BIGINT) * 1800 AS window_start_epoch,
         event_type,
         COUNT(*) AS n_events,
         CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents,
         MAX(event_id) AS max_event_id
  FROM gated
  GROUP BY 1, 2
)
SELECT window_start_epoch, event_type,
       CAST(n_events AS BIGINT)     AS n_events,
       total_cents,
       CAST(max_event_id AS BIGINT) AS max_event_id
FROM agg
WHERE window_start_epoch + 1800 <= (SELECT w FROM wm)
"""


@register(
    "st_tumbling_late_census",
    oracle=_TUMBLING_LATE_ORACLE,
    tags=("T1", "T5", "P4"),
)
def st_tumbling_late_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T5+P4, ninth wave: scan predicates UNDER the watermark — the
    stream is gated by IN + BETWEEN (P4) BEFORE withWatermark, so the
    watermark advances on the max event time of the SURVIVING rows
    (the oracle's horizon is MAX(ts) over the gated set — stated, not
    assumed), then 30-minute tumbling windows (T1; the proven append
    form is 4h sliding — this pins the finest-grain tumbling cadence)
    emit in APPEND mode exactly when the 10-minute watermark passes
    their end (T5), evicting state. Windows still open at end-of-stream
    are correctly absent.

    Scale: the predicate prunes before any state is keyed — at 100 TB
    the IN/BETWEEN gate is a parquet-scan filter on the landing zone;
    state is (open windows x 2 types). Single-batch source assumption
    pinned by tests/test_streaming.py::test_read_events_stream_stages
    _one_file."""
    e = read_events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("user_id").between(10, 139)
    )
    agg = (
        e.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
            F.max("event_id").cast("long").alias("max_event_id"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "event_type",
            "n_events",
            "total_cents",
            "max_event_id",
        )
    )
    return drain_to_table(agg, output_mode="append")


# --- T2+T6+J4, ninth wave: balance-gated sliding value bands -------------------

_SLIDING_SEMI_ORACLE = f"""
WITH rich AS (
  SELECT c_custkey FROM customer WHERE c_acctbal >= 5000
),
gated AS (
  SELECT * FROM events WHERE user_id IN (SELECT c_custkey FROM rich)
),
offsets AS (SELECT UNNEST([0, 1, 2]) AS j)
SELECT
  CAST(FLOOR(EPOCH(ts) / 1800) AS BIGINT) * 1800 - j * 1800
    AS window_start_epoch,
  CAST({CENTS_SQL.format(expr="value")} // 2500 AS BIGINT) AS val_band,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM gated, offsets
GROUP BY 1, 2
"""


@register(
    "st_sliding_static_semi",
    oracle=_SLIDING_SEMI_ORACLE,
    tags=("T2", "T6", "J4"),
)
def st_sliding_static_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+T6+J4, ninth wave: stream-static LEFT SEMI against a PROPERTY
    slice of the dimension — the gate is c_acctbal >= 5000 (a predicate
    -derived key set, where st_sliding_star_gate's is a dimensional
    subtree; J4/T6), and survivors feed 90-minute windows sliding every
    30 (T2 — slide divides length 3x, the proven forms use 3h/1h and
    4h/1h) grouped by integer-cents VALUE BAND (cents // 2500), so the
    state key is (window x band), not (window x type).

    Scale: the static side collapses to a key list broadcast per
    micro-batch; sliding state is 3 open windows x <=5 bands; one
    shuffle per batch on the window/band key. Complete-mode drain.
    Single-batch source assumption as pinned."""
    e = read_events_stream(spark, sf_dir)
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 5000)
        .select("c_custkey")
    )
    gated = e.join(rich, e.user_id == rich.c_custkey, "left_semi")
    agg = (
        gated.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "90 minutes", "30 minutes"),
            (cents(F.col("value")) / 2500).cast("long").alias("val_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "val_band",
            "n_events",
            "total_cents",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- T3+T6+J5, ninth wave: anti-gated session windows ---------------------------

_SESSION_ANTI_ORACLE = f"""
WITH suspended AS (
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
),
gated AS (
  SELECT * FROM events
  WHERE user_id NOT IN (SELECT c_custkey FROM suspended)
),
flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1500 * 1000000
         THEN 1 ELSE 0 END AS is_start
  FROM gated
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(EPOCH_US(MIN(ts)) // 1000000 AS BIGINT)        AS session_start_epoch,
       CAST(EPOCH_US(MAX(ts)) // 1000000 + 1500 AS BIGINT) AS session_end_epoch,
       CAST(COUNT(*) AS BIGINT)                            AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS value_cents
FROM sessions
GROUP BY user_id, sid
"""


@register(
    "st_session_static_anti",
    oracle=_SESSION_ANTI_ORACLE,
    tags=("T3", "T6", "J5"),
)
def st_session_static_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T6+J5, ninth wave: stream-static LEFT ANTI as the gate — the
    suspended-account list (negative balances) is subtracted from the
    stream (J5/T6: the streaming spelling of a denylist, the complement
    of st_sliding_static_semi's allowlist), and survivors close into
    25-minute-gap session windows per user (T3 — a third gap parameter
    beside the proven 20/30-minute forms). Session rows report event
    count and exact integer-cents value.

    Scale: the denylist broadcasts per micro-batch (anti joins never
    widen rows); session state is O(open sessions); one shuffle on the
    session key per batch. Complete-mode drain.
    Single-batch source assumption as pinned."""
    e = read_events_stream(spark, sf_dir)
    suspended = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
    )
    gated = e.join(suspended, e.user_id == suspended.c_custkey, "left_anti")
    agg = (
        gated.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "25 minutes"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("value_cents"),
        )
        .select(
            "user_id",
            F.unix_seconds(
                F.col("session_window.start").cast("timestamp")
            ).alias("session_start_epoch"),
            F.unix_seconds(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_epoch"
            ),
            "n_events",
            "value_cents",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- T1+T2+T5, ninth wave: tumbling and sliding arms of one monitor ------------

_TUMBLING_SLIDING_UNION_ORACLE = f"""
WITH tum AS (
  SELECT 'tumbling' AS arm,
         CAST(FLOOR(EPOCH(ts) / 7200) AS BIGINT) * 7200 AS window_start_epoch,
         COUNT(*) AS n_events,
         CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
  FROM events GROUP BY 2
),
offsets AS (SELECT UNNEST([0, 1]) AS j),
sli AS (
  SELECT 'sliding' AS arm,
         CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 - j * 3600
           AS window_start_epoch,
         COUNT(*) AS n_events,
         CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
  FROM events, offsets GROUP BY 2
)
SELECT arm, window_start_epoch,
       CAST(n_events AS BIGINT) AS n_events, total_cents
FROM (SELECT * FROM tum UNION ALL SELECT * FROM sli)
"""


@register(
    "st_tumbling_sliding_union",
    oracle=_TUMBLING_SLIDING_UNION_ORACLE,
    tags=("T1", "T2", "T5"),
)
def st_tumbling_sliding_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+T5, ninth wave: the SAME watermarked stream drained through
    BOTH window shapes — a 2h tumbling arm (T1) and a 2h/1h sliding arm
    (T2, every event in 2 windows), each a real streaming query with
    its own state stores and its own AvailableNow drain under one
    10-minute watermark definition (T5), then labeled and unioned into
    the monitor readout. Pins that the two window kinds agree on
    alignment (a 2h tumbling window IS the j=0 slice of the 2h/1h
    slide's lattice restricted to even hours) — the dashboard-migration
    property a team relies on when switching granularities.

    Scale: two independent streaming queries, each one shuffle per
    micro-batch on its window key; the union runs on drained census
    rows, never inside the stream. Complete-mode drains. Single-batch
    source assumption as pinned."""
    tum_src = read_events_stream(spark, sf_dir)
    tum = (
        tum_src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "n_events",
            "total_cents",
        )
    )
    tum_drained = drain_to_table(tum, output_mode="complete").withColumn(
        "arm", F.lit("tumbling")
    )
    sli_src = read_events_stream(spark, sf_dir)
    sli = (
        sli_src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(cents(F.col("value"))).cast("long").alias("total_cents"),
        )
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias(
                "window_start_epoch"
            ),
            "n_events",
            "total_cents",
        )
    )
    sli_drained = drain_to_table(sli, output_mode="complete").withColumn(
        "arm", F.lit("sliding")
    )
    return tum_drained.unionByName(sli_drained).select(
        "arm", "window_start_epoch", "n_events", "total_cents"
    )


# --- T3+T7, ninth wave: typed activity sessions over a deduped 5-min grid ------

_TYPE_SESSION_ORACLE = """
WITH grid AS (
  SELECT DISTINCT user_id, event_type,
         TO_TIMESTAMP(FLOOR(EPOCH(ts) / 300) * 300) AS bucket
  FROM events
),
flagged AS (
  SELECT user_id, event_type, bucket,
    CASE WHEN LAG(bucket) OVER w IS NULL
           OR EPOCH_US(bucket) - EPOCH_US(LAG(bucket) OVER w) > 2700000000
         THEN 1 ELSE 0 END AS is_start
  FROM grid
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY bucket)
),
sessions AS (
  SELECT user_id, event_type, bucket,
    SUM(is_start) OVER (PARTITION BY user_id, event_type ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, event_type,
       CAST(EPOCH(MIN(bucket)) AS BIGINT)        AS session_start_epoch,
       CAST(EPOCH(MAX(bucket)) + 2700 AS BIGINT) AS session_end_epoch,
       CAST(COUNT(*) AS BIGINT)                  AS n_buckets
FROM sessions
GROUP BY user_id, event_type, sid
"""


@register(
    "st_type_session_dedup",
    oracle=_TYPE_SESSION_ORACLE,
    tags=("T3", "T7"),
)
def st_type_session_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T7, ninth wave: stacked stateful streaming at the TYPED grain
    — watermarked dropDuplicates on the (user, event_type, 5-minute
    bucket) activity grid (T7; the proven dedup->session stack uses a
    1-minute user grid), feeding 45-minute-gap session windows keyed by
    (user, event_type) (T3 — the session identity includes the type, so
    one user's concurrent click and error bursts close as SEPARATE
    sessions). The 'per-feature engagement meter' shape: sessions count
    DISTINCT active 5-minute buckets, burst-proof by construction.

    Scale: dedup state is watermark-bounded (user, type, bucket) keys
    at 1/300th event granularity; session state is O(open typed
    sessions); two shuffles per batch. Complete-mode drain. Single-batch
    source assumption as pinned."""
    e = read_events_stream(spark, sf_dir)
    grid = (
        e.select(
            "user_id",
            "event_type",
            F.timestamp_seconds(
                F.floor(F.unix_seconds(F.col("ts").cast("timestamp")) / 300)
                * 300
            ).alias("bucket"),
        )
        .withWatermark("bucket", "10 minutes")
        .dropDuplicates(["user_id", "event_type", "bucket"])
    )
    agg = (
        grid.groupBy(
            "user_id", "event_type", F.session_window("bucket", "45 minutes")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
        .select(
            "user_id",
            "event_type",
            F.unix_seconds(
                F.col("session_window.start").cast("timestamp")
            ).alias("session_start_epoch"),
            F.unix_seconds(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_epoch"
            ),
            "n_buckets",
        )
    )
    return drain_to_table(agg, output_mode="complete")


# --- U2+T4+T7, ninth wave: arbitrary-state (user, type) census ------------------

_APS_SRC_COLS = (
    "user_id long, event_type string, n long, min_eid long, max_eid long, "
    "cents long, min_cents long, max_cents long"
)


def _stage_aps_census_src(spark: SparkSession, sf_dir: str) -> str:
    """Stage the shared 4-file round-robin source for the ninth wave's
    two applyInPandasWithState censuses. Round 12 (guide §2.3
    "aggregate before you shuffle", VERDICT r11 task 5): the files hold
    per-(user_id, event_type) PARTIALS — n, min/max event_id, exact
    cents sum, min/max cents — computed by a plain batch groupBy at
    staging time, instead of raw event rows. Both downstream censuses
    fold ONLY order-invariant merges (sum/min/max), so folding partials
    is value-identical to folding rows, and the per-group state-server
    round trips (the operator's dominant cost) drop with the row count:
    the (user, type)-keyed census sees one row per key (~1 call/key);
    the user-keyed extremes census still receives a user's type-partials
    round-robin across the 4 files, so cross-batch state merging stays
    exercised in the family. Money enters the partials as exact integer
    cents BEFORE summing — identical totals to summing per event."""
    from ..sources import materialize

    def stage(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "event_type",
                cents(F.col("value")).alias("v_cents"),
            )
            .groupBy("user_id", "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.min("event_id").cast("long").alias("min_eid"),
                F.max("event_id").cast("long").alias("max_eid"),
                F.sum("v_cents").cast("long").alias("cents"),
                F.min("v_cents").cast("long").alias("min_cents"),
                F.max("v_cents").cast("long").alias("max_cents"),
            )
            .repartition(4)
            .write.mode("overwrite")
            .parquet(path)
        )

    return materialize(
        sf_dir,
        "aps_census_src_r11",
        stage,
        tables=("events",),
        params="aps-census-partials-r12-4part",
    )


_STATE_TYPE_ORACLE = """
WITH per AS (
  SELECT user_id, event_type,
         COUNT(*) AS n,
         MIN(event_id) AS min_eid,
         MAX(event_id) AS max_eid,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
  FROM events
  GROUP BY 1, 2
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)                               AS n_keys,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_keys,
       CAST(SUM(n) AS BIGINT)                                 AS n_events,
       CAST(SUM(cents) AS BIGINT)                             AS total_cents,
       CAST(SUM(max_eid - min_eid) AS BIGINT)                 AS eid_span_sum
FROM per
GROUP BY event_type
"""


@register(
    "st_state_type_census",
    oracle=_STATE_TYPE_ORACLE,
    tags=("U2", "T4", "T7"),
)
def st_state_type_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2+T4+T7, ninth wave: arbitrary-state census at the (user,
    event_type) BEHAVIORAL grain via applyInPandasWithState — per key
    the state is four int64s (n, min_eid, max_eid, cents_sum), every
    merge ORDER-INVARIANT (sum/min/max). Round 12: the staged source
    holds per-(user, type) PARTIALS (see _stage_aps_census_src), so the
    operator folds one partial row per key instead of every event row —
    the n/min/max/cents values are identical, the per-group state-server
    round trips (the dominant cost) drop to ~one call per key. n still
    counts EVENTS (the sum of partial n's), so the repeat-key census
    reads exactly as before.

    Scale: state is O(distinct user-type pairs) x 32 bytes; one group-
    key shuffle per batch; the rollup runs on the drained census."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = _stage_aps_census_src(spark, sf_dir)
    stream = (
        spark.readStream.schema(_APS_SRC_COLS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("n", LongType()),
            StructField("min_eid", LongType()),
            StructField("max_eid", LongType()),
            StructField("cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mn", LongType()),
            StructField("mx", LongType()),
            StructField("cents", LongType()),
        ]
    )

    def census(key, pdfs, state):
        # Folds per-(user, type) PARTIALS — same order-invariant merges
        # as the raw-row fold; ndarray reductions per guide §4.
        if state.exists:
            n, mn, mx, cents_sum = state.get
        else:
            n, mn, mx, cents_sum = 0, None, None, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += int(pdf["n"].to_numpy().sum())
            lo = int(pdf["min_eid"].to_numpy().min())
            hi = int(pdf["max_eid"].to_numpy().max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            cents_sum += int(pdf["cents"].to_numpy().sum())
        state.update((n, mn, mx, cents_sum))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "n": [n],
                "min_eid": [mn],
                "max_eid": [mx],
                "cents": [cents_sum],
            }
        )

    updates = stream.groupBy("user_id", "event_type").applyInPandasWithState(
        census, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sink = drain_to_table(updates, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("n"))
    final = (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return final.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat_keys"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.col("max_eid") - F.col("min_eid"))
        .cast("long")
        .alias("eid_span_sum"),
    )


# --- T4+U2+T7, ninth wave: arbitrary-state per-user value extremes --------------

_STATE_EXTREMES_ORACLE = """
WITH per AS (
  SELECT user_id,
         COUNT(*) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents,
         MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
         MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents
  FROM events
  GROUP BY 1
)
SELECT CAST(n // 25 AS BIGINT)                                AS n_band,
       CAST(COUNT(*) AS BIGINT)                               AS n_users,
       CAST(SUM(n) AS BIGINT)                                 AS n_events,
       CAST(SUM(cents) AS BIGINT)                             AS total_cents,
       CAST(MIN(min_cents) AS BIGINT)                         AS band_min_cents,
       CAST(MAX(max_cents) AS BIGINT)                         AS band_max_cents,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_users
FROM per
GROUP BY 1
"""


@register(
    "st_state_value_extremes",
    oracle=_STATE_EXTREMES_ORACLE,
    tags=("T4", "U2", "T7"),
)
def st_state_value_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4+U2+T7, ninth wave: per-USER arbitrary state tracking value
    extremes — applyInPandasWithState keyed by user_id alone (the
    coarsest grain of the construction family: day_census keys
    (user, day), type_census keys (user, type)), state four int64s
    (n, cents_sum, min_cents, max_cents), all merges order-invariant,
    max-n final-row drain. Round 12: the staged source holds
    per-(user, type) partials (see _stage_aps_census_src); because this
    census keys on user_id ALONE, a user's type-partials still arrive
    round-robin across the 4 micro-batches out of order — the family's
    live proof that cross-batch state merging is sound — while the rows
    folded per call drop from every event to one per (user, type). The
    census rolls users up by ACTIVITY BAND (n // 25, n = true event
    count = sum of partial n's) — the engagement-distribution report —
    with per-band value extremes surviving the two-level rollup exactly.

    Scale: state is O(users) x 32 bytes; one user-key shuffle per
    batch; the band rollup runs on |users| drained rows."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    src = _stage_aps_census_src(spark, sf_dir)
    stream = (
        spark.readStream.schema(_APS_SRC_COLS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("cents", LongType()),
            StructField("min_cents", LongType()),
            StructField("max_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("cents", LongType()),
            StructField("mn", LongType()),
            StructField("mx", LongType()),
        ]
    )

    def extremes(key, pdfs, state):
        # Folds per-(user, type) partials: n sums the partial counts,
        # extremes take min-of-mins / max-of-maxes — value-identical to
        # the raw-row fold.
        if state.exists:
            n, cents_sum, mn, mx = state.get
        else:
            n, cents_sum, mn, mx = 0, 0, None, None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += int(pdf["n"].to_numpy().sum())
            lo = int(pdf["min_cents"].to_numpy().min())
            hi = int(pdf["max_cents"].to_numpy().max())
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            cents_sum += int(pdf["cents"].to_numpy().sum())
        state.update((n, cents_sum, mn, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n": [n],
                "cents": [cents_sum],
                "min_cents": [mn],
                "max_cents": [mx],
            }
        )

    updates = stream.groupBy("user_id").applyInPandasWithState(
        extremes, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sink = drain_to_table(updates, output_mode="update")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    final = (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return final.groupBy(
        F.expr("CAST(n DIV 25 AS BIGINT)").alias("n_band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.min("min_cents").cast("long").alias("band_min_cents"),
        F.max("max_cents").cast("long").alias("band_max_cents"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat_users"),
    )
