"""The one streaming drain (`streaming.drain` / `drain_to_table`): its
conf policy, and what it leaves behind in the session and on disk."""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager
from urllib.parse import urlparse

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from iris_pyspark_spark import streaming
from iris_pyspark_spark.session import scoped_confs
from iris_pyspark_spark.streaming import (
    FS_CHECKPOINT_MANAGER,
    MAX_DRAIN_STATE_PARTITIONS,
    checkpoint_on_local_fs,
    drain,
    drain_to_table,
)

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
CHECKPOINT_ROOT = "spark.sql.streaming.checkpointLocation"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _stream(spark, tmp_path, glob: str = ""):
    """A one-file, 100-row parquet source: `k` = id % 3 (34/33/33 rows),
    read from its directory, or through `glob` under it."""
    src = str(tmp_path / "src")
    spark.range(100).coalesce(1).withColumn("k", F.col("id") % 3).write.parquet(src)
    return spark.readStream.schema("id long, k long").parquet(src + glob)


def _source_bytes(tmp_path) -> int:
    """The bytes Hadoop's local filesystem lists under `_stream`'s
    source: every file but the hidden `.crc` checksum sidecars."""
    files = (f for f in (tmp_path / "src").rglob("*") if f.is_file())
    return sum(f.stat().st_size for f in files if not f.name.endswith(".crc"))


def _temp_views(spark) -> int:
    return sum(t.isTemporary for t in spark.catalog.listTables())


def _drain_policy(spark, stream, checkpoint=None) -> tuple[int, dict, dict]:
    """Drain a watermarked dedup + count of `_stream`'s `stream` in
    complete mode under a session shuffle width of 5: the state
    partitions of its one batch, and the session's confs before and
    after the drain."""
    stream = stream.withColumn("ts", F.timestamp_seconds(F.col("id")))
    keys = (
        SHUFFLE_PARTITIONS,
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    saved = spark.conf.get(keys[0])
    spark.conf.set(keys[0], "5")  # a session value the drain must not use
    try:
        before = {k: spark.conf.get(k) for k in keys}
        agg = (
            stream.withWatermark("ts", "1 second")
            .dropDuplicatesWithinWatermark(["id"])
            .groupBy("k")
            .count()
        )
        q = drain(agg.writeStream.format("noop"), "complete", checkpoint=checkpoint)
        after = {k: spark.conf.get(k) for k in keys}
    finally:
        spark.conf.set(keys[0], saved)
    progress = [p for p in q.recentProgress if p is not None]
    assert len(progress) == 1
    assert progress[0]["numInputRows"] == 100
    return progress[0]["stateOperators"][0]["numShufflePartitions"], before, after


def _slots(monkeypatch, slots: int) -> None:
    """Make every SparkContext report `slots` task slots."""
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: slots))


def test_drain_policy_is_scoped_to_the_drain(spark, tmp_path):
    """A drain over a small file source runs one state store, not one
    per task slot or the session's shuffle width, and a complete-mode
    drain skips the trailing no-data batch (one data batch, not two,
    although the watermarked dedup would ask for an eviction batch);
    the session's own confs are back afterwards."""
    partitions, before, after = _drain_policy(spark, _stream(spark, tmp_path))
    assert partitions == 1
    assert after == before


@pytest.mark.parametrize(
    "slots, pieces, stores",
    [
        pytest.param(3, 20, 3, id="3-3"),
        pytest.param(32, 20, MAX_DRAIN_STATE_PARTITIONS, id="32-8"),
        pytest.param(32, 5, 5, id="32-5"),
    ],
)
def test_drain_state_partitions_follow_the_task_slots(
    spark, tmp_path, monkeypatch, slots, pieces, stores
):
    """With the advisory partition size lowered so the source's bytes
    make `pieces` advisory partitions, a drain runs one store per piece,
    up to the slots (3) and to the cap (with 32 slots): not the
    session's shuffle width (5). The advisory size and the session's
    confs are back afterwards."""
    _slots(monkeypatch, slots)
    stream = _stream(spark, tmp_path)
    size = _source_bytes(tmp_path)
    advisory = -(-size // pieces)
    assert -(-size // advisory) == pieces
    prior = spark.conf.get(ADVISORY)
    with scoped_confs(spark, {ADVISORY: str(advisory)}):
        partitions, before, after = _drain_policy(spark, stream)
    assert partitions == stores
    assert after == before
    assert spark.conf.get(ADVISORY) == prior


def test_unsized_drains_keep_the_slot_rule(spark, tmp_path, monkeypatch):
    """A drain whose input is not known at start runs one store per
    slot (3 here), up to the cap, as before: a persistent checkpoint
    (its count is fixed for the checkpoint's life), a file source read
    through a glob (which cannot be listed as one path) and a `rate`
    source (not a file source)."""
    _slots(monkeypatch, 3)
    stream = _stream(spark, tmp_path / "a")
    persistent, before, after = _drain_policy(spark, stream, str(tmp_path / "ckpt"))
    assert (persistent, after) == (3, before)
    globbed = _stream(spark, tmp_path / "b", glob="/*.parquet")
    partitions, before, after = _drain_policy(spark, globbed)
    assert (partitions, after) == (3, before)
    rate = spark.readStream.format("rate").load().groupBy().count()
    overrides = _drain_overrides(monkeypatch, rate.writeStream.format("noop"))
    assert overrides[SHUFFLE_PARTITIONS] == "3"


def test_scoped_confs_restore_or_unset(spark):
    """scoped_confs sets each conf for its block only: a conf that was
    set gets its prior value back, one that was not set is unset, one
    given as None is unset for the block and then restored, and all
    three happen when the block raises too."""
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.iris.test.scoped"
    hidden_key = "spark.iris.test.hidden"
    s = spark.newSession()
    s.conf.set(set_key, "5")
    s.conf.set(hidden_key, "kept")
    assert s.conf.get(unset_key, None) is None
    scope = {set_key: "7", unset_key: "on", hidden_key: None}
    with pytest.raises(KeyError), scoped_confs(s, scope):
        assert (s.conf.get(set_key), s.conf.get(unset_key)) == ("7", "on")
        assert s.conf.get(hidden_key, None) is None
        raise KeyError("leave the block early")
    assert s.conf.get(set_key) == "5"
    assert s.conf.get(unset_key, None) is None
    assert s.conf.get(hidden_key) == "kept"


def test_drains_leave_no_sink_views(spark, tmp_path):
    """drain_to_table drops its sink view before returning: N drains
    leave the session's temp-view count unchanged, and the drained
    frames stay readable and joinable (st_replay_determinism joins
    two)."""
    stream = _stream(spark, tmp_path)
    before = _temp_views(spark)
    drained = [
        drain_to_table(stream.groupBy("k").count(), "complete") for _ in range(3)
    ]
    assert _temp_views(spark) == before
    joined = drained[0].join(drained[1].withColumnRenamed("count", "count2"), "k")
    assert sorted(tuple(r) for r in joined.collect()) == [
        (0, 34, 34),
        (1, 33, 33),
        (2, 33, 33),
    ]
    assert drained[2].count() == 3


def test_successful_drains_delete_their_temporary_checkpoints(spark, tmp_path):
    """A drain without a checkpointLocation option gets a fresh
    temporary checkpoint, also under a session checkpoint root, which
    Spark deletes when the query succeeds — for the memory sink and for
    foreachBatch alike, so drains need no cleanup code of their own and
    leave nothing in the root."""
    stream = _stream(spark, tmp_path)
    root = tmp_path / "checkpoint_root"

    def root_dir(q) -> str:
        return urlparse(q._jsq.streamingQuery().resolvedCheckpointRoot()).path

    live = {}

    def probe(batch_df, batch_id):
        for active in spark.streams.active:
            live[root_dir(active)] = os.path.isdir(root_dir(active))

    with scoped_confs(spark, {CHECKPOINT_ROOT: str(root)}):
        fb = drain(stream.writeStream.foreachBatch(probe))
        counts = stream.groupBy("k").count()
        mem = drain(
            counts.writeStream.format("memory").queryName("ckpt_probe"), "complete"
        )
    spark.catalog.dropTempView("ckpt_probe")
    assert live.get(root_dir(fb)) is True  # it existed during the batch
    for q in (fb, mem):
        assert os.path.basename(root_dir(q)).startswith("temporary-")
        assert not os.path.exists(root_dir(q))
    assert not root.exists() or not any(root.iterdir())


def test_drains_under_a_checkpoint_root_do_not_resume_another_process(
    spark, tmp_path, monkeypatch
):
    """Sink names restart at stream_sink_0 in every process. Under a
    session checkpoint root, a drain that kept `<root>/stream_sink_0`
    would be resumed by the next process's first drain, which then
    reads no new input and returns no rows. Resetting the sink ids
    stands in for the new process: both drains return every group, and
    the root stays empty."""
    stream = _stream(spark, tmp_path)
    root = tmp_path / "checkpoint_root"
    rows = []
    with scoped_confs(spark, {CHECKPOINT_ROOT: str(root)}):
        for _ in range(2):
            monkeypatch.setattr(streaming, "_SINK_IDS", itertools.count())
            rows.append(drain_to_table(stream.groupBy("k").count(), "complete").count())
    assert rows == [3, 3]
    assert not root.exists() or not any(root.iterdir())


class _Captured(Exception):
    pass


def _drain_overrides(monkeypatch, writer, **kwargs) -> dict:
    """The confs `drain` scopes for `writer`, captured at the
    `scoped_confs` call, before the query starts (so a remote root
    is never contacted)."""
    captured: dict = {}

    @contextmanager
    def capture(spark, confs):
        captured.update(confs)
        raise _Captured
        yield

    monkeypatch.setattr(streaming, "scoped_confs", capture)
    with pytest.raises(_Captured):
        drain(writer, **kwargs)
    return captured


@pytest.mark.parametrize(
    "checkpoint, local",
    [
        ("file:///tmp/ckpt", True),
        ("/tmp/ckpt", True),
        (None, True),
        ("hdfs://nn/x", False),
        ("s3a://b/x", False),
    ],
)
def test_checkpoint_manager_follows_the_checkpoint_root(
    spark, tmp_path, monkeypatch, checkpoint, local
):
    """A drain overrides the checkpoint manager only for a checkpoint on
    the local filesystem: a `file:` URI, or a scheme-less path or
    Spark's temporary checkpoint under the default `fs.defaultFS`.
    HDFS and object stores keep Spark's FileContext default."""
    writer = _stream(spark, tmp_path).writeStream.format("noop")
    overrides = _drain_overrides(monkeypatch, writer, checkpoint=checkpoint)
    expected = FS_CHECKPOINT_MANAGER if local else None
    assert overrides.get(CHECKPOINT_MANAGER) == expected


def test_scheme_less_checkpoints_follow_the_default_filesystem(spark):
    """A scheme-less checkpoint and Spark's temporary one resolve against
    the session's `fs.defaultFS`, so under an HDFS default they keep
    Spark's manager; a `file:` URI still gets the FileSystem one."""
    s = spark.newSession()
    s.conf.set("fs.defaultFS", "hdfs://nn:8020")
    hadoop_conf = s._jsparkSession.sessionState().newHadoopConf()
    assert not checkpoint_on_local_fs(hadoop_conf, "/tmp/ckpt")
    assert not checkpoint_on_local_fs(hadoop_conf, None)
    assert checkpoint_on_local_fs(hadoop_conf, "file:///tmp/ckpt")


def test_local_drains_run_the_filesystem_checkpoint_manager(spark, tmp_path):
    """Inside a foreachBatch drain over a temporary, a `file:` and a
    scheme-less checkpoint, both the session and the query's own session
    read the FileSystem-based manager, and the query's offset log writes
    through it; after each drain the session's conf is back to its
    prior value, or unset, also when the batch function raises."""
    stream = _stream(spark, tmp_path)
    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None
    seen = []

    def probe(batch_df, batch_id):
        seen.append(
            (
                spark.conf.get(CHECKPOINT_MANAGER, None),
                batch_df.sparkSession.conf.get(CHECKPOINT_MANAGER, None),
            )
        )

    for checkpoint in (None, f"file://{tmp_path}/ck1", str(tmp_path / "ck2")):
        q = drain(stream.writeStream.foreachBatch(probe), checkpoint=checkpoint)
        assert spark.conf.get(CHECKPOINT_MANAGER, None) is None
        offset_log = q._jsq.streamingQuery().offsetLog()
        assert offset_log.fileManager().getClass().getName() == FS_CHECKPOINT_MANAGER
    with scoped_confs(spark, {CHECKPOINT_MANAGER: FILE_CONTEXT_MANAGER}):
        drain(stream.writeStream.foreachBatch(probe))
        assert spark.conf.get(CHECKPOINT_MANAGER) == FILE_CONTEXT_MANAGER
    assert seen == [(FS_CHECKPOINT_MANAGER, FS_CHECKPOINT_MANAGER)] * 4

    def fail(batch_df, batch_id):
        raise RuntimeError("batch failed")

    with pytest.raises(Exception, match="batch failed"):
        drain(stream.writeStream.foreachBatch(fail))
    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None
