"""The session policy: the registry door applies the engine's runtime
confs once per session, and a conf the caller sets afterwards holds."""

from __future__ import annotations

from iris_pyspark_spark.registry import load_all
from iris_pyspark_spark.session import RUNTIME_CONFS


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
