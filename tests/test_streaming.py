"""T5: watermark semantics — the one streaming behavior a fully-drained
source can't show. Two separate AvailableNow runs share a checkpoint:
run 1 advances the watermark past 11:50 and finalizes the 10:00 window;
run 2 delivers a too-late event (must be dropped, not re-opened) plus a
fresh one (enters state, never finalizes). This also exercises
checkpoint restart recovery, through `streaming.drain` and so under its
checkpoint policy (a persistent `file:` checkpoint, with the
FileSystem-based checkpoint manager).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import functions as F

from iris_pyspark_spark.streaming import EVENTS_RAW_SCHEMA, drain


def _ns(hh: int, mm: int) -> int:
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return int((base + dt.timedelta(hours=hh, minutes=mm)).timestamp() * 1_000_000_000)


def _write_file(spark, rows, path):
    df = spark.createDataFrame(rows, EVENTS_RAW_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(path + ".tmp")
    part = next(f for f in os.listdir(path + ".tmp") if f.endswith(".parquet"))
    shutil.move(os.path.join(path + ".tmp", part), path)
    shutil.rmtree(path + ".tmp")


def _drain(spark, src, checkpoint, sink_dir):
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_seconds(F.col("window.start").cast("timestamp")).alias("w"),
            "n",
        )
    )
    drain(
        counts.writeStream.format("parquet")  # file sink: checkpoint-recoverable
        .option("path", sink_dir),
        "append",  # append: only watermark-finalized windows emit
        checkpoint=checkpoint,
    )
    return {r.w: r.n for r in spark.read.parquet(sink_dir).collect()}


def test_watermark_drops_late_event(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("wm_src"))
    checkpoint = str(tmp_path_factory.mktemp("wm_ckpt"))
    w10 = int(dt.datetime(2024, 1, 1, 10, tzinfo=dt.timezone.utc).timestamp())
    w12 = int(dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc).timestamp())

    # Run 1: three events in the 10:00 window + one at 12:00. Watermark
    # after the batch = 11:50; the no-data follow-up batch finalizes and
    # emits the 10:00 window.
    _write_file(
        spark,
        [
            (1, _ns(10, 5), 1, "click", 1.0, "{}"),
            (2, _ns(10, 20), 1, "click", 1.0, "{}"),
            (3, _ns(10, 40), 1, "click", 1.0, "{}"),
            (4, _ns(12, 0), 1, "click", 1.0, "{}"),
        ],
        os.path.join(src, "f1.parquet"),
    )
    sink_dir = str(tmp_path_factory.mktemp("wm_sink"))
    out1 = _drain(spark, src, checkpoint, sink_dir)
    assert out1.get(w10) == 3, f"10:00 window not finalized correctly: {out1}"
    assert w12 not in out1  # still open — watermark can't pass its end

    # Run 2 (same checkpoint → watermark restored at 11:50): a 10:30
    # event is 80 min late → dropped; a 12:30 event is fresh → state.
    _write_file(
        spark,
        [
            (5, _ns(10, 30), 1, "click", 1.0, "{}"),  # late → dropped
            (6, _ns(12, 30), 1, "click", 1.0, "{}"),  # fresh → stateful
        ],
        os.path.join(src, "f2.parquet"),
    )
    out2 = _drain(spark, src, checkpoint, sink_dir)
    # Nothing may be (re-)emitted: the late event must NOT re-open the
    # finalized 10:00 window, and 12:xx windows never finalize. The file
    # sink accumulates, so run 2's content must equal run 1's exactly.
    assert out2 == out1, f"late event changed emitted output: {out2} vs {out1}"


def test_foreach_batch_sink(spark, tmp_path_factory):
    """foreachBatch: the production sink escape hatch — each micro-batch
    lands via arbitrary batch-writer logic (here: parquet append keyed
    by batch id, the idempotent-upsert skeleton). Drained totals must
    equal the source."""
    import os

    from iris_pyspark_spark.streaming import EVENTS_RAW_SCHEMA, read_events_stream

    sf_dir = "/root/testdata/sf0.01"
    out_dir = str(tmp_path_factory.mktemp("fb_sink"))

    def write_batch(batch_df, batch_id: int):
        # Idempotent per-batch write: a retry of batch N overwrites
        # batch N's own directory, never duplicating rows.
        (
            batch_df.groupBy("event_type")
            .count()
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch={batch_id}"))
        )

    drain(read_events_stream(spark, sf_dir).writeStream.foreachBatch(write_batch))

    got = spark.read.parquet(out_dir + "/batch=*")
    total = got.groupBy().sum("count").collect()[0][0]
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == expected


def test_scd2_merge_survives_window_split_across_batches(spark, tmp_path):
    """Round-5 advice regression: if one window's rows arrive split
    across two micro-batches, the second merge must NOT clobber the
    first batch's rows for that window — the persisted per-(user, wnd)
    latest must equal the argmax over ALL rows seen, regardless of the
    batch grouping."""
    import datetime as dt

    from pyspark.sql import functions as F

    from iris_pyspark_spark.queries.streaming_parity import _scd2_merge_batch

    dim = str(tmp_path / "dim")
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, wnd long, ts timestamp_ntz, event_id long, event_type string"
    # Batch 1: user 7's window 0 has its LATEST event (event_id 20).
    b1 = spark.createDataFrame(
        [(7, 0, ts + dt.timedelta(hours=2), 20, "purchase"),
         (8, 0, ts, 5, "view")],
        schema,
    )
    # Batch 2: same window 0 again, but only an EARLIER user-7 event —
    # the naive overwrite would make this the persisted "latest".
    b2 = spark.createDataFrame(
        [(7, 0, ts + dt.timedelta(hours=1), 10, "click"),
         (9, 1, ts, 6, "signup")],
        schema,
    )
    _scd2_merge_batch(spark, dim, b1)
    _scd2_merge_batch(spark, dim, b2)
    rows = {
        (r.user_id, r.wnd): (r.event_id, r.event_type)
        for r in spark.read.option("basePath", dim).parquet(dim).collect()
    }
    assert rows[(7, 0)] == (20, "purchase")  # survived the split
    assert rows[(8, 0)] == (5, "view")       # untouched co-window row survived
    assert rows[(9, 1)] == (6, "signup")


def test_read_events_stream_stages_one_file(spark):
    """Pin the single-batch assumption the append-mode parity queries
    depend on (st_sliding_append_eviction, st_session_append_eviction,
    st_dedup_sliding_census): `read_events_stream` stages exactly ONE
    parquet file into its scratch directory and sets no
    maxFilesPerTrigger, so an AvailableNow drain is one data
    micro-batch (plus the watermark-advancing empty batch). If a future
    change splits the source across triggers, the 10-minute watermark
    set after the first batch would silently drop later-batch rows as
    late and break oracle parity — this test makes that change loud."""
    from iris_pyspark_spark.sources import scratch_dir
    from iris_pyspark_spark.streaming import read_events_stream

    sf_dir = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    src = scratch_dir(sf_dir, "events_stream_src")
    staged = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert staged == ["events.parquet"], staged
