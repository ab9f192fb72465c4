"""Scale-pattern queries: the plan shapes that matter at 100 TB, each
oracle-checked to prove the optimized layout computes the identical
result as the naive plan.

  j_salted_skew           — hot-key join via salting (operators/skew.py)
  a_salted_hot_key        — two-phase hot-key aggregation
  j_bucketed_colocated    — bucketed tables joined with NO shuffle
                            (tests/test_plans.py asserts the plan)
  st_stateful_running_count — custom stateful streaming operator via
                            applyInPandasWithState (arbitrary state API)

The skew queries manufacture the skew inline (half of all events get
folded onto one hot user) because the synthetic data is uniform.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..operators.skew import salted_agg, salted_join
from ..registry import register
from ..session import scoped_confs
from ..sources import materialize, scratch_dir
from .joins import CENTS_SQL, cents

#: Skewed key derivation: half of all events collapse onto user 1.
_HOT_SQL = "CASE WHEN user_id % 2 = 0 THEN 1 ELSE user_id END"
def _hot() -> "F.Column":
    return F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(F.col("user_id"))


_SALTED_JOIN_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       SUM({CENTS_SQL.format(expr="value")}) / 100.0 AS total_value
FROM (SELECT {_HOT_SQL} AS hot_user, value FROM events) e
JOIN customer ON hot_user = c_custkey
GROUP BY c_mktsegment
"""


@register("j_salted_skew", oracle=_SALTED_JOIN_ORACLE, tags=("J1", "skew"))
def j_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join: 50% of the fact rows share one key; the salted join
    spreads them across 8 shuffle partitions. Result == plain join."""
    e = load_table(spark, sf_dir, "events").select(
        _hot().alias("hot_user"), "event_id", "value"
    )
    c = load_table(spark, sf_dir, "customer")
    joined = salted_join(
        e, c, fact_key="hot_user", dim_key="c_custkey", salt_src="event_id", n_salts=8
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents(F.col("value"))) / 100.0).alias("total_value"),
    )


_SALTED_AGG_ORACLE = f"""
SELECT {_HOT_SQL} AS hot_user,
       CAST(SUM(1) AS BIGINT) AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS value_cents
FROM events
GROUP BY 1
"""


@register("a_salted_hot_key", oracle=_SALTED_AGG_ORACLE, tags=("A1", "skew"))
def a_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation over a 50%-hot key distribution;
    bit-identical to the one-phase plan (long sums are associative)."""
    e = load_table(spark, sf_dir, "events").select(
        _hot().alias("hot_user"), "event_id", "value"
    )
    return salted_agg(
        e,
        key="hot_user",
        aggs={"n_events": F.lit(1).cast("long"), "value_cents": cents(F.col("value"))},
        salt_src="event_id",
        n_salts=8,
    )


_BUCKETED_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       SUM({CENTS_SQL.format(expr="l_extendedprice * (1 - l_discount)")}) / 100.0
         AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@register("j_bucketed_colocated", oracle=_BUCKETED_ORACLE, tags=("J1", "bucketing"))
def j_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders and lineitem written as 8-bucket tables on the join key,
    then joined — both sides arrive pre-partitioned, so the join plans
    with NO shuffle exchange (asserted in tests/test_plans.py). At 100 TB
    this converts the recurring fact-fact shuffle into a one-time
    layout cost paid at ingest."""
    sf_tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    names = {}
    for tbl, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bkt_{tbl}_{sf_tag}"
        if not spark.catalog.tableExists(name):
            (
                load_table(spark, sf_dir, tbl)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", scratch_dir(sf_dir, f"bucketed_{tbl}"))
                .mode("overwrite")
                .saveAsTable(name)
            )
        names[tbl] = name
    o = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(rev) / 100.0).alias("revenue"),
        )
    )


_STATEFUL_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY event_type
"""

_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("max_id", T.LongType())]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("max_event_id", T.LongType()),
    ]
)


def _count_events(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    n, max_id = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        max_id = max(max_id, int(pdf["event_id"].max()))
    state.update((n, max_id))
    yield pd.DataFrame(
        {"event_type": [key[0]], "n_events": [n], "max_event_id": [max_id]}
    )


@register("st_stateful_running_count", oracle=_STATEFUL_ORACLE, tags=("T4", "U2"))
def st_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (arbitrary-state API): per
    event_type, applyInPandasWithState keeps (count, max id) in the
    state store across micro-batches and emits the running totals each
    update. Draining the source makes the final update equal the batch
    aggregate, which the oracle checks."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming import drain_to_table, read_events_stream

    e = read_events_stream(spark, sf_dir).select("event_type", "event_id")
    updates = e.groupBy("event_type").applyInPandasWithState(
        _count_events,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_table(updates, output_mode="update")
    # One update row per (micro-batch, key): keep each key's last.
    return sink.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_event_id").alias("max_event_id"),
    )


_DPP_ORACLE = """
WITH lang_dim AS (
  SELECT * FROM (VALUES ('en', 'english'), ('de', 'german')) AS t(lang_code, lang_name)
)
SELECT lang_name,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
JOIN lang_dim ON lang = lang_code
GROUP BY lang_name
"""


@register("s_dynamic_partition_pruning", oracle=_DPP_ORACLE, tags=("S5", "J2"))
def s_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is partitioned by lang,
    the dim side's filter is only known at runtime (join, not a literal
    predicate) — Spark injects a dynamicpruning subquery so only the
    joined partitions are scanned (asserted in tests/test_plans.py).
    At 100 TB this is the difference between scanning 2 partitions and
    scanning all of them."""
    from pyspark.sql import Row

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    path = materialize(
        sf_dir,
        "documents_dpp_by_lang",
        lambda p: docs.write.mode("overwrite").partitionBy("lang").parquet(p),
        tables=("documents",),
        params="dpp-by-lang",
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [
            Row(lang_code="en", lang_name="english"),
            Row(lang_code="de", lang_name="german"),
            Row(lang_code="es", lang_name="spanish"),
            Row(lang_code="fr", lang_name="french"),
            Row(lang_code="zh", lang_name="chinese"),
        ]
    ).filter(F.col("lang_name").isin("english", "german"))  # runtime-only filter → DPP
    return (
        fact.join(dim, fact.lang == dim.lang_code)
        .groupBy("lang_name")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_RANGE_BUCKETED_ORACLE = """
SELECT a.event_id AS error_id, b.event_id AS click_id,
       EPOCH_US(b.ts) - EPOCH_US(a.ts) AS us_apart
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'error' AND b.event_type = 'click'
 AND b.ts >= a.ts - INTERVAL 5 MINUTE
 AND b.ts <= a.ts + INTERVAL 5 MINUTE
"""


@register("j_range_bucketed", oracle=_RANGE_BUCKETED_ORACLE, tags=("J7", "skew"))
def j_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable interval join: clicks within ±5 min of each error, per
    user. A naive time-range theta join plans as a nested loop over the
    user's full history; bucketing timestamps into window-sized epochs
    and exploding one side into its 3 candidate buckets turns it into an
    equi-join on (user, bucket) + an exact refine filter — the shape
    that shuffles instead of looping, with candidate volume bounded by
    bucket occupancy. Result == the plain range join (oracle)."""
    W_US = 5 * 60 * 1_000_000  # window half-width in microseconds
    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("u_a"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_a"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("u_b"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_b"),
    )
    # Errors probe their own bucket ±1; clicks carry exactly one bucket.
    probed = errors.select(
        "*",
        F.explode(
            F.array(*[(F.col("ts_a") / W_US).cast("long") + d for d in (-1, 0, 1)])
        ).alias("bucket"),
    )
    hashed = clicks.withColumn("bucket", (F.col("ts_b") / W_US).cast("long"))
    return (
        probed.join(
            hashed,
            (F.col("u_a") == F.col("u_b")) & (probed.bucket == hashed.bucket),
        )
        .filter(
            (F.col("ts_b") >= F.col("ts_a") - W_US)
            & (F.col("ts_b") <= F.col("ts_a") + W_US)
        )
        .select(
            "error_id",
            "click_id",
            (F.col("ts_b") - F.col("ts_a")).alias("us_apart"),
        )
    )


# --- Z-order (Morton) clustering layout -------------------------------------

def _spread_bits_sql(expr: str) -> str:
    """8-bit → 16-bit Morton spread, SQL form (DuckDB)."""
    s1 = f"(({expr}) | (({expr}) << 4)) & 3855"        # 0x0F0F
    s2 = f"(({s1}) | (({s1}) << 2)) & 13107"           # 0x3333
    return f"((({s2}) | (({s2}) << 1)) & 21845)"       # 0x5555


def _spread_bits(c: "F.Column") -> "F.Column":
    """8-bit → 16-bit Morton spread, Column form (identical arithmetic)."""
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x3333))
    return c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x5555))


_ZORDER_ORACLE = f"""
WITH keyed AS (
  SELECT {_spread_bits_sql("o_custkey % 256")}
         | ({_spread_bits_sql("DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256")} << 1)
           AS z
       , o_custkey % 256 AS x
       , DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 256 AS y
  FROM orders
)
SELECT CAST(z >> 10 AS BIGINT) AS bucket,
       COUNT(*)   AS n_rows,
       MIN(x)     AS min_x, MAX(x) AS max_x,
       MIN(y)     AS min_y, MAX(y) AS max_y
FROM keyed
GROUP BY bucket
"""


@register("s_zorder_clustering", oracle=_ZORDER_ORACLE, tags=("S5", "F3", "O1"))
def s_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) clustering key: interleave the bits of two
    filter dimensions (customer, order day) so that sorting by the one
    z value co-locates rows that are close in BOTH dims — the layout
    trick behind multi-column data skipping in lakehouse tables. The
    check: bucket rows by the top 6 z bits and report each bucket's
    bounding box; z-ordering makes every bucket's (x, y) box a small
    rectangle, which is exactly the property min/max zone maps exploit.
    Bit-spreading is pure integer arithmetic (shift/and/or), identical
    on both engines, map-side, zero shuffle before the final tiny agg."""
    o = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("int")
    y = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        % 256
    ).cast("int")
    z = _spread_bits(x).bitwiseOR(F.shiftleft(_spread_bits(y), 1))
    keyed = o.select(z.alias("z"), x.alias("x"), y.alias("y"))
    return keyed.groupBy(
        F.shiftright("z", 10).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# --- min/max manifest (zone-map) skipping -----------------------------------

#: Bucket width and predicate range derive from max(l_orderkey) so the
#: demonstration is meaningful at every scale factor: 16 range buckets,
#: predicate = keys in [30%, 45%] of the key space (~3 buckets scanned).
_MANIFEST_ORACLE = """
WITH mx AS (SELECT MAX(l_orderkey) AS mx FROM lineitem),
manifest AS (
  SELECT CAST(FLOOR(l_orderkey / (CAST(FLOOR(mx / 16) AS BIGINT) + 1)) AS BIGINT)
           AS bucket,
         MIN(l_orderkey) AS min_key,
         MAX(l_orderkey) AS max_key,
         COUNT(*)        AS n_rows
  FROM lineitem CROSS JOIN mx GROUP BY bucket
)
SELECT bucket, min_key, max_key, n_rows,
       (min_key <= CAST(FLOOR(mx * 9 / 20) AS BIGINT)
        AND max_key >= CAST(FLOOR(mx * 3 / 10) AS BIGINT)) AS scanned
FROM manifest CROSS JOIN mx
"""


@register("s_minmax_manifest_skipping", oracle=_MANIFEST_ORACLE, tags=("S5", "S1"))
def s_minmax_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skipping made explicit: lineitem is laid out into
    orderkey-range buckets (the write a sorted table produces anyway),
    a min/max manifest is computed per bucket from the WRITTEN files,
    and a BETWEEN predicate is answered at the metadata level — a
    bucket is scanned only if [min,max] intersects the predicate range.
    The layout write + manifest read-back are real (partitioned parquet
    round-trip); at 100 TB the manifest is the few-KB table that lets
    the planner drop almost every file before any data IO. The oracle
    recomputes the same manifest relationally."""
    path = scratch_dir(sf_dir, "lineitem_rangebucketed")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    mx = li.agg(F.max("l_orderkey").alias("mx"))
    width = F.floor(F.col("mx") / 16).cast("long") + 1
    (
        li.crossJoin(F.broadcast(mx))
        .withColumn("bucket", F.floor(F.col("l_orderkey") / width))
        .drop("mx")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    manifest = (
        spark.read.parquet(path)
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    lo = F.floor(F.col("mx") * 3 / 10).cast("long")
    hi = F.floor(F.col("mx") * 9 / 20).cast("long")
    return manifest.crossJoin(F.broadcast(mx)).select(
        "bucket",
        "min_key",
        "max_key",
        "n_rows",
        ((F.col("min_key") <= hi) & (F.col("max_key") >= lo)).alias("scanned"),
    )


# --- RocksDB-backed stateful streaming (the at-scale state backend) ---------

_ROCKSDB_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""

_ROCKS_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
)
_ROCKS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def _sum_cents_state(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    import numpy as np

    n, total = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # Half-away-from-zero like SQL ROUND / joins.cents (NOT pandas
        # .round(): numpy half-to-even diverges on exact .5 cents).
        x = pdf["value"].to_numpy(dtype="float64") * 100.0
        total += int(np.trunc(x + np.copysign(0.5, x)).astype("int64").sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"event_type": [key[0]], "n_events": [n], "total_cents": [total]}
    )


@register("st_stateful_rocksdb", oracle=_ROCKSDB_ORACLE, tags=("T4", "U2", "T5"))
def st_stateful_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState under the RocksDB state store provider —
    the backend a 100 TB deployment actually runs (bounded executor
    memory, changelog checkpointing) — proving the arbitrary-state path
    works against it ungated in THIS environment (unlike the
    protobuf-gated transformWithStateInPandas). Per event_type the state
    accumulates (count, integer-cents total) across micro-batches;
    draining makes each key's last update equal the batch aggregate the
    oracle states. The provider conf is restored afterwards so sibling
    streams keep their configured backend."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming import ROCKSDB_STATE_STORE, drain_to_table, read_events_stream

    e = read_events_stream(spark, sf_dir).select("event_type", "value")
    with scoped_confs(spark, ROCKSDB_STATE_STORE):
        updates = e.groupBy("event_type").applyInPandasWithState(
            _sum_cents_state,
            outputStructType=_ROCKS_OUT_SCHEMA,
            stateStructType=_ROCKS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        sink = drain_to_table(updates, output_mode="update")
    # Totals are monotone: each key's final state is its max.
    return sink.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_cents").cast("long").alias("total_cents"),
    )


_OBSERVE_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders
WHERE o_orderstatus <> 'P'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("s_observe_qc_metrics", oracle=_OBSERVE_ORACLE, tags=("A1", "P2", "S1"))
def s_observe_qc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.observe()` — pipeline QC counters (row count, revenue
    total, null count) accumulated DURING the main query's single pass,
    the production alternative to re-scanning the input just to emit
    data-quality metrics. The CollectMetrics node rides the plan at
    zero extra shuffles (tests/test_plans.py pins the node and
    tests/test_operator_edges.py pins the metric VALUES against the
    same aggregates computed the slow way); checked output is the
    ordinary aggregation, which the oracle verifies — proving observe()
    did not perturb the query it instrumented."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    observed = orders.observe(
        "qc_metrics",
        F.count(F.lit(1)).alias("qc_rows"),
        F.sum(cents(F.col("o_totalprice"))).alias("qc_rev_cents"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("qc_null_cust"),
    )
    return (
        observed.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).cast("long").alias("rev_cents"),
        )
        .orderBy("o_orderpriority")
    )


_SKEW_REPORT_ORACLE = """
WITH freq AS (
  SELECT user_id, COUNT(*) AS n
  FROM events GROUP BY user_id
),
tot AS (
  SELECT SUM(n) AS total_rows, COUNT(*) AS n_keys, MAX(n) AS max_n
  FROM freq
)
SELECT user_id AS hot_key,
       n AS n_rows,
       ROUND(n / CAST(total_rows AS DOUBLE), 6) AS share,
       ROUND(n * CAST(n_keys AS DOUBLE) / total_rows, 4) AS skew_factor,
       CAST(total_rows AS BIGINT) AS total_rows,
       CAST(n_keys AS BIGINT) AS n_keys
FROM freq, tot
ORDER BY n_rows DESC, hot_key
LIMIT 10
"""


@register("s_skew_report", oracle=_SKEW_REPORT_ORACLE, tags=("A1", "O2", "P7"))
def s_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the pre-flight a 100 TB join runs
    BEFORE choosing a strategy: per-key frequencies (one combinable
    aggregation over the prospective key), the global totals as a
    1-row broadcast, and each hot key's skew factor (its multiple of
    the mean key load — the number AQE's skew-join threshold reasons
    about). Top-10 under a total order. The same aggregate that would
    feed operators/skew.py's salting decision, surfaced as a query."""
    ev = load_table(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = freq.agg(
        F.sum("n").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        freq.crossJoin(F.broadcast(tot))
        .select(
            F.col("user_id").alias("hot_key"),
            F.col("n").alias("n_rows"),
            F.round(F.col("n") / F.col("total_rows").cast("double"), 6).alias("share"),
            F.round(
                F.col("n") * F.col("n_keys").cast("double") / F.col("total_rows"), 4
            ).alias("skew_factor"),
            F.col("total_rows").cast("long").alias("total_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
        )
        .orderBy(F.col("n_rows").desc(), "hot_key")
        .limit(10)
    )


_SESSION_TIMEOUT_ORACLE = """
WITH cut AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS c FROM events),
e AS (
  SELECT user_id, ts, event_id FROM events, cut WHERE ts <= c
),
flagged AS (
  SELECT user_id, ts,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
    SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       EPOCH_US(MIN(ts)) // 1000000 AS session_start_epoch,
       EPOCH_US(MAX(ts)) // 1000000 AS session_end_epoch,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
"""

_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"
_SESSION_OUT_SCHEMA = (
    "user_id long, session_start_epoch long, session_end_epoch long, n_events long"
)


def _session_timeout_fn(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    """Gap-sessionize with EVENT-TIME TIMEOUT state eviction: closed
    sessions emit immediately; the trailing open session parks in state
    with a timeout at last_event + gap, and the timeout callback (fired
    when the watermark passes it) emits it. In-batch gap splitting is
    what makes the result independent of how the source files batch."""
    gap_us = 1800 * 1000_000

    def row(uid: int, s: int, e: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [uid],
                "session_start_epoch": [s // 1000_000],
                "session_end_epoch": [e // 1000_000],
                "n_events": [n],
            }
        )

    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield row(key[0], start_us, last_us, n)
        return

    ts_us: list = []
    for pdf in pdfs:
        ts_us.extend(int(v) for v in pdf["ts_us"].astype("int64"))
    ts_us.sort()
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us, last_us, n = ts_us[0], ts_us[0] - gap_us - 1, 0
    sessions: list = []
    for t in ts_us:
        if n and t - last_us > gap_us:
            sessions.append((start_us, last_us, n))
            start_us, n = t, 0
        elif not n:
            start_us = t
        last_us = t
        n += 1
    for s, e, c in sessions:
        yield row(key[0], s, e, c)
    state.update((start_us, last_us, n))
    # Event-time timeout: fire once the watermark passes session close.
    state.setTimeoutTimestamp(last_us // 1000 + 1800 * 1000)


@register(
    "st_session_timeout_state",
    oracle=_SESSION_TIMEOUT_ORACLE,
    tags=("T4", "T5", "U2"),
)
def st_session_timeout_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState with EventTimeTimeout — the state-eviction
    half of the arbitrary-state API that st_stateful_running_count's
    NoTimeout form never exercises: each user's open session parks in
    the state store with a timeout at last_event + gap, and the TIMEOUT
    CALLBACK (not a data row) emits it when the watermark passes. Same
    determinism engineering as st_stream_stream_outer_join: watermark
    BEFORE the cutoff filter, cutoff at max(ts) - 2h so every kept
    session's timeout lands under the final watermark (30-min gap +
    10-min delay leaves 80 minutes of margin) — making the drained
    result equal the batch sessionization the oracle states."""
    import datetime

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming import drain_to_table, read_events_stream

    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(F.max("ts").alias("m")).first()["m"] - datetime.timedelta(hours=2)

    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .filter(F.col("ts") <= F.lit(cut))
        # timestamp -> integer epoch-micros column so the pandas fn
        # never touches tz-aware datetime parsing.
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _session_timeout_fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return drain_to_table(out, output_mode="append")


# --- single-pass column profiler (ANALYZE TABLE-shaped QC report) -----------

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_orderpriority",
    "o_orderdate",
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS column_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_val,
       CAST(MAX({c}) AS VARCHAR) AS max_val
FROM orders"""
    for c in _PROFILE_COLS
) + "\nORDER BY column_name"


@register("s_profile_table", oracle=_PROFILE_ORACLE, tags=("A1", "A3", "A2", "P5"))
def s_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler — the ANALYZE TABLE / data-QC report as a query:
    per column, row count, null count, exact distinct count, and
    min/max (stringified so one schema fits every column type).

    Scale design: ONE scan of the table computes every metric in a
    single global aggregation (the oracle's five-scan UNION ALL states
    the semantics; Spark executes one pass). The multiple exact
    COUNT(DISTINCT)s expand the aggregation buffers (Catalyst plans one
    Expand ×|columns| — the cost of exactness); a 100 TB profiler run
    swaps them for approx_count_distinct on the same plan shape (see
    a_approx_count_distinct) — the rest of the metrics are plain
    combinable aggregates. The stack() unpivot runs on the single
    1-row aggregate result, so the report stage is driver-trivial."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__null"),
            F.count_distinct(F.col(c)).alias(f"{c}__dist"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    # Multiple COUNT(DISTINCT)s plan an Expand (xN row multiply) before
    # the partial agg; a single-file scan is one partition, so without a
    # repartition the expanded stream reduces in one task.
    one = (
        load_table(spark, sf_dir, "orders")
        .repartition(spark.sparkContext.defaultParallelism)
        .agg(*aggs)
    )
    stack_args = ", ".join(
        f"'{c}', {c}__null, {c}__dist, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return (
        one.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
                "(column_name, n_null, n_distinct, min_val, max_val)"
            ),
            F.col("n_rows"),
        )
        .select(
            "column_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val"
        )
        .orderBy("column_name")
    )


@register("s_profile_table_approx", oracle=None, tags=("A1", "A4", "A2", "P5"))
def s_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tier of `s_profile_table` (round 12, VERDICT r11 task
    9): the five exact COUNT(DISTINCT)s — whose Expand x6 multiplies
    every input row six ways before the partial aggregate — become
    `approx_count_distinct` (HLL++, rsd parameterized below), which
    aggregates combinably in ONE pass with no Expand. Everything else
    (row count, null counts, min/max) is unchanged.

    Rows-only with error-bound pins: the approx pass is the
    demonstrated plan — ONE combinable aggregation with NO Expand (the
    plan file proves it) — and a SEPARATE validation-only aggregation
    computes the exact distincts so `approx_ok` can pin each column's
    relative error within 3x the configured rsd (HLL++'s ~3 sigma
    envelope; columns small enough for the sparse exact mode come out
    with 0 error). A production profiler at scale drops the validation
    side entirely — the pin is what makes the approximation a measured
    claim here instead of a folk constant."""
    return _profile_table_approx(spark, sf_dir, rsd=0.05)


def _profile_table_approx(
    spark: SparkSession, sf_dir: str, rsd: float
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__null"),
            F.approx_count_distinct(F.col(c), rsd).alias(f"{c}__approx"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = o.repartition(spark.sparkContext.defaultParallelism).agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__null, {c}__approx, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    approx = one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_null, approx_distinct, min_val, max_val)"
        ),
        F.col("n_rows"),
    )
    # Validation-only side (dropped at the 100 TB tier): exact distincts
    # for the error-bound pin.
    exact_one = o.repartition(spark.sparkContext.defaultParallelism).agg(
        *[F.count_distinct(F.col(c)).alias(f"{c}__dist") for c in _PROFILE_COLS]
    )
    exact_stack = ", ".join(f"'{c}', {c}__dist" for c in _PROFILE_COLS)
    exact = exact_one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {exact_stack}) AS "
            "(column_name, n_distinct_exact)"
        )
    )
    rel_err = F.abs(
        F.col("approx_distinct") - F.col("n_distinct_exact")
    ) / F.col("n_distinct_exact").cast("double")
    return (
        approx.join(F.broadcast(exact), "column_name")
        .select(
            "column_name",
            "n_rows",
            "n_null",
            "approx_distinct",
            "n_distinct_exact",
            "min_val",
            "max_val",
            F.round(rel_err * 1000000).cast("long").alias("rel_err_ppm"),
            (rel_err <= F.lit(3.0 * rsd)).alias("approx_ok"),
        )
        .orderBy("column_name")
    )


_BLOOM_ORACLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(qty_cents) AS BIGINT) AS total_qty_cents
FROM (
  SELECT l_orderkey, CAST(SUM({CENTS_SQL.format(expr="l_quantity")}) AS BIGINT) AS qty_cents
  FROM lineitem GROUP BY l_orderkey
) rev
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""


@register("j_bloom_runtime_filter", oracle=_BLOOM_ORACLE, tags=("J1", "P2", "A1", "S1"))
def j_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big join pruned by Catalyst's RUNTIME BLOOM FILTER
    (InjectRuntimeFilter): the selective predicate on orders builds a
    bloom filter over the surviving join keys, and `might_contain` is
    pushed below the lineitem-side pre-aggregation — rows for
    non-urgent orders are dropped BEFORE the per-order rollup shuffle,
    not after the join.

    This is the shuffle-reduction move for joins where NEITHER side
    broadcasts (at 100 TB both fact tables exceed any broadcast
    threshold). Spark only injects the filter when the join is a
    genuine shuffle join AND the application side already shuffles, so
    the test-scale run pins that exact shape explicitly:
    autoBroadcastJoinThreshold=-1 models the both-sides-huge regime and
    applicationSideScanSizeThreshold drops below the MB-scale scan. The
    confs change the PHYSICAL plan only — the oracle proves result
    equivalence — and are restored after an eager materialization so no
    other query inherits them (tests/test_plans.py pins the
    bloom_filter_agg/might_contain pair in the optimized plan).
    """
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "64KB",
    }
    out_path = scratch_dir(sf_dir, "bloom_filter_join") + "/out"
    with scoped_confs(spark, confs):
        bloom_runtime_filter_plan(spark, sf_dir).write.mode("overwrite").parquet(
            out_path
        )
    return spark.read.parquet(out_path)


def bloom_runtime_filter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan behind j_bloom_runtime_filter, split out so the
    plan test can inspect it under the bloom confs without the eager
    write."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_orderkey").agg(
        F.sum(cents(F.col("l_quantity"))).alias("qty_cents")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        rev.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("qty_cents").alias("total_qty_cents"),
        )
    )


# --- data-quality expectations gate (Deequ-style, single pass) --------------

_EXPECT_ORACLE = """
WITH joined AS (
  SELECT l.*, o.o_orderkey AS matched_orderkey
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
),
m AS (
  SELECT
    COUNT(*) FILTER (WHERE l_orderkey IS NULL)                    AS null_pk,
    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))         AS dup_pk,
    COUNT(*) FILTER (WHERE l_quantity <= 0)                       AS bad_qty,
    COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)    AS bad_discount,
    COUNT(*) FILTER (WHERE l_returnflag NOT IN ('R', 'A', 'N'))   AS bad_flag,
    COUNT(*) FILTER (WHERE matched_orderkey IS NULL)              AS orphans,
    COUNT(*)                                                      AS n_rows
  FROM joined
)
SELECT check_name, violations, violations = 0 AS passed, n_rows FROM (
  SELECT 'null_primary_key'      AS check_name, null_pk      AS violations, n_rows FROM m
  UNION ALL SELECT 'duplicate_primary_key', dup_pk,       n_rows FROM m
  UNION ALL SELECT 'nonpositive_quantity',  bad_qty,      n_rows FROM m
  UNION ALL SELECT 'discount_out_of_range', bad_discount, n_rows FROM m
  UNION ALL SELECT 'returnflag_domain',     bad_flag,     n_rows FROM m
  UNION ALL SELECT 'orphan_orderkey',       orphans,      n_rows FROM m
)
"""


@register("s_expectations_check", oracle=_EXPECT_ORACLE, tags=("A2", "A3", "J3", "P5"))
def s_expectations_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations gate (the Deequ / Great-Expectations
    shape): assert completeness, primary-key uniqueness, value ranges, a
    categorical domain, and referential integrity against `orders`, and
    emit one (check_name, violations, passed) row per assertion — the
    report a pipeline gates a publish step on.

    Scale design: ALL six checks ride ONE pass — a single left join
    against the (unique-key) orders side folds the referential check
    into the same scan that computes the five column checks, and every
    metric is a combinable conditional aggregate (map-side partials, one
    1-row result). The 6-way unpivot happens on that one driver-sized
    row via stack(); no second scan, no per-check jobs — at 100 TB the
    cost is exactly one shuffle-join over the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("matched_orderkey")
    )
    joined = li.join(o, li["l_orderkey"] == o["matched_orderkey"], "left")
    m = joined.agg(
        F.count_if(F.col("l_orderkey").isNull()).alias("null_pk"),
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("dup_pk"),
        F.count_if(F.col("l_quantity") <= 0).alias("bad_qty"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("bad_discount"),
        F.count_if(~F.col("l_returnflag").isin("R", "A", "N")).alias("bad_flag"),
        F.count_if(F.col("matched_orderkey").isNull()).alias("orphans"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return m.selectExpr(
        """stack(6,
           'null_primary_key',      null_pk,
           'duplicate_primary_key', dup_pk,
           'nonpositive_quantity',  bad_qty,
           'discount_out_of_range', bad_discount,
           'returnflag_domain',     bad_flag,
           'orphan_orderkey',       orphans) AS (check_name, violations)""",
        "n_rows",
    ).select(
        "check_name",
        "violations",
        (F.col("violations") == 0).alias("passed"),
        "n_rows",
    )


_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                        1, 1) AS INTEGER) AS digit
  FROM orders
),
obs AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
shared AS (SELECT digit, n, SUM(n) OVER () AS n_total FROM obs)
SELECT digit, n, CAST(n_total AS BIGINT) AS n_total,
       ROUND(CAST(n AS DOUBLE) / n_total, 6) AS observed,
       ROUND(LOG10(1 + 1.0 / digit), 6) AS expected,
       ROUND(ABS(CAST(n AS DOUBLE) / n_total - LOG10(1 + 1.0 / digit)), 6)
         AS abs_dev
FROM shared
"""


@register("s_benford_qc", oracle=_BENFORD_ORACLE, tags=("A1", "F3", "F1"))
def s_benford_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals — the
    classic data-forensics QC (fabricated or truncated monetary data
    drifts from the log10(1 + 1/d) digit distribution; synthetic
    uniform data, like this corpus, fails loudly — which is exactly
    what a generator-health check should do).

    Scale design: one map-side-combinable 9-group aggregation over the
    scan; the grand total comes from a window over the 9-row RESULT
    (never a 1-row crossJoin back onto the fact table, and the
    single-reducer window is bounded at 9 rows by construction).
    Observed share is one IEEE division, expected is log10 of nine
    fixed rationals — both rounded at 6 dp, far from any half-ulp
    rounding boundary, so the engines agree bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = o.select(digit).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window as _W

    shared = obs.withColumn(
        "n_total", F.sum("n").over(_W.partitionBy())
    )
    share = F.col("n").cast("double") / F.col("n_total")
    expected = F.log10(F.lit(1) + F.lit(1.0) / F.col("digit"))
    return shared.select(
        "digit",
        "n",
        F.col("n_total").cast("long").alias("n_total"),
        F.round(share, 6).alias("observed"),
        F.round(expected, 6).alias("expected"),
        F.round(F.abs(share - expected), 6).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Rendezvous (highest-random-weight) shard routing with minimal movement
# ---------------------------------------------------------------------------

_RDV_ORACLE = """
WITH k AS (SELECT doc_id FROM documents),
s10 AS (
  SELECT doc_id, CAST(s AS BIGINT) AS s,
         -((doc_id * 2654435761 + (s + 1) * 40503) % 1000003) AS nw
  FROM k, (SELECT UNNEST(range(10)) AS s)
),
a10 AS (
  SELECT doc_id, MIN({'nw': nw, 's': s}).s AS shard10
  FROM s10 GROUP BY doc_id
),
s11 AS (
  SELECT doc_id, CAST(s AS BIGINT) AS s,
         -((doc_id * 2654435761 + (s + 1) * 40503) % 1000003) AS nw
  FROM k, (SELECT UNNEST(range(11)) AS s)
),
a11 AS (
  SELECT doc_id, MIN({'nw': nw, 's': s}).s AS shard11
  FROM s11 GROUP BY doc_id
)
SELECT CAST(a11.shard11 AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN a10.shard10 <> a11.shard11 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM a11 JOIN a10 USING (doc_id)
GROUP BY a11.shard11
ORDER BY shard
"""


@register(
    "s_rendezvous_sharding",
    oracle=_RDV_ORACLE,
    tags=("F7", "A1", "F4"),
)
def s_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing: every key scores
    each shard with a per-(key, shard) hash and routes to the argmax —
    the stateless consistent-routing scheme for shard maps, cache
    rings, and index placement. The query assigns every document
    under a 10-shard AND an 11-shard layout and cross-tabs movement:
    HRW's guarantee is that growing to 11 shards moves ONLY the keys
    the new shard wins (~1/11 of them) — a modulo router would move
    ~10/11. The weight is a multiplicative-prime integer hash, exact
    on both engines (a shared cross-engine stand-in for e.g.
    xxhash64, whose seeds differ between Spark and DuckDB).

    Scale: keys x shards is a map-only explode of a literal
    shard-count sequence (no join against a shard table, no shuffle
    until the final per-shard rollup); the argmax is the
    deterministic min-of-struct (-weight, shard) aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def assign(n_shards: int, out: str) -> DataFrame:
        exploded = docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("s0"),
        ).select("doc_id", F.col("s0").cast("long").alias("s"))
        w = (
            F.col("doc_id") * F.lit(2654435761)
            + (F.col("s") + 1) * F.lit(40503)
        ) % F.lit(1000003)
        return (
            exploded.select("doc_id", "s", (-w).alias("nw"))
            .groupBy("doc_id")
            .agg(
                F.min(F.struct(F.col("nw"), F.col("s")))
                .getField("s")
                .alias(out)
            )
        )

    a10 = assign(10, "shard10")
    a11 = assign(11, "shard11")
    return (
        a11.join(a10, "doc_id")
        .groupBy(F.col("shard11").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard10") != F.col("shard11"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_moved"),
        )
        .orderBy("shard")
    )
