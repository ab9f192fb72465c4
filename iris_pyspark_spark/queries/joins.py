"""Join queries (SURVEY.md §2.3, J1–J10).

Scale strategy per join:
  * Fixed-cardinality dims (region=5, nation=25) are explicitly
    `broadcast()` — zero shuffle on the probe side at any SF.
  * Fact-fact equi-joins (orders⋈lineitem) shuffle on the key; AQE
    handles skew split + partition coalescing at runtime.
  * The as-of join (J8) is the classic union-tag + window rewrite: one
    shuffle on (user, time) instead of a per-row range probe, which is
    the scalable plan for event-stream alignment.
  * Post-join double SUMs use integer-cents math: a join reorders rows,
    so raw double summation order would differ from the oracle's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..catalog import load_table, read_parquet
from ..registry import register


def cents(col: F.Column) -> F.Column:
    """Exact integer cents of a 2-decimal double (deterministic across
    engines: same double input → same rounded integer)."""
    return F.round(col * 100, 0).cast("long")


#: DuckDB spelling of `cents` — same round-then-cast on the same doubles.
CENTS_SQL = "CAST(ROUND({expr} * 100) AS BIGINT)"


@register(
    "j_inner_equi",
    oracle="""
SELECT o_orderkey, c_name, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O'
""",
    tags=("J1",),
)
def j_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@register(
    "j_broadcast_star",
    oracle=f"""
SELECT
  n_name,
  SUM({CENTS_SQL.format(expr="l_extendedprice * (1 - l_discount)")}) / 100.0 AS revenue,
  COUNT(*) AS n_items
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey   = c_custkey
JOIN lineitem ON l_orderkey  = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
""",
    tags=("J2", "J6"),
    headline=True,
)
def j_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join; the two fixed-size dims broadcast."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev_cents = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            (F.sum(rev_cents) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "j_left_outer",
    oracle="""
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
    tags=("J3",),
)
def j_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "j_full_outer",
    oracle="""
WITH o AS (SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
     e AS (SELECT user_id   AS k, COUNT(*) AS n_events FROM events GROUP BY user_id)
SELECT COALESCE(o.k, e.k) AS key, n_orders, n_events
FROM o FULL OUTER JOIN e ON o.k = e.k
""",
    tags=("J3",),
)
def j_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = orders.groupBy(F.col("o_custkey").alias("k")).agg(F.count(F.lit(1)).alias("n_orders"))
    e = events.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("n_events"))
    return o.join(e, "k", "full").select(
        F.col("k").alias("key"), "n_orders", "n_events"
    )


@register(
    "j_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
""",
    tags=("J4",),
)
def j_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 200000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "j_anti",
    oracle="""
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
""",
    tags=("J5",),
)
def j_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no URGENT order. (Every customer in
    this data has SOME order — the unfiltered spelling would be
    vacuously empty, which a correctness compare cannot distinguish
    from correct; the filtered right side keeps the check honest.)"""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "j_multiway_topk",
    oracle=f"""
SELECT
  l_orderkey,
  SUM({CENTS_SQL.format(expr="l_extendedprice * (1 - l_discount)")}) / 100.0 AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    tags=("J6", "O2"),
    headline=True,
)
def j_multiway_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: filtered 3-way join → grouped revenue → top-10
    (total order incl. tie-break key, so LIMIT is deterministic)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    rev_cents = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem.filter(F.col("l_shipdate") > cutoff), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev_cents) / 100.0).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "j_theta_range",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_late
FROM orders JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY o_orderpriority
""",
    tags=("J7",),
)
def j_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-conjunct + range predicate: Catalyst keeps the equi-join
    (hash/SMJ) and applies the theta term as a post-join filter — no
    nested-loop blowup."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(lineitem, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


@register(
    "j_asof_last_click",
    oracle="""
SELECT
  p.event_id,
  p.user_id,
  p.ts,
  (SELECT MAX(c.ts) FROM events c
    WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
  ) AS last_click_ts
FROM events p
WHERE p.event_type = 'purchase'
""",
    tags=("J8",),
    headline=True,
)
def j_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the scalable union-tag + window rewrite (see
    operators/asof.py): one sort per user instead of a per-row range
    probe. The oracle states the same semantics as a correlated
    subquery, which DuckDB decorrelates."""
    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        left=purchases,
        right=clicks,
        on="user_id",
        left_time="ts",
        right_time="click_ts",
    ).select("event_id", "user_id", "ts", F.col("click_ts").alias("last_click_ts"))


@register(
    "j_cross",
    oracle="""
SELECT r_name, t.p_type, r_name || '/' || t.p_type AS label
FROM region CROSS JOIN (SELECT DISTINCT p_type FROM part) t
""",
    tags=("J9",),
)
def j_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    types = part.select("p_type").distinct()
    return region.crossJoin(types).select(
        "r_name",
        "p_type",
        F.concat_ws("/", "r_name", "p_type").alias("label"),
    )


@register(
    "j_self_pairs",
    oracle="""
SELECT a.n_regionkey AS region_key, a.n_name AS name_a, b.n_name AS name_b
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
""",
    tags=("J10",),
)
def j_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    a = nation.alias("a")
    b = nation.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_regionkey").alias("region_key"),
        F.col("a.n_name").alias("name_a"),
        F.col("b.n_name").alias("name_b"),
    )


@register(
    "j_null_safe_equi",
    oracle="""
WITH e AS (
  SELECT event_id,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et
  FROM events
)
SELECT a.event_id AS id_a, b.event_id AS id_b
FROM e a JOIN e b
  ON a.et IS NOT DISTINCT FROM b.et AND a.event_id + 1 = b.event_id
""",
    tags=("J1", "P5"),
)
def j_null_safe_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — required for joining on nullable
    derived keys. Pairs consecutive events with the same (nullable)
    type."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("event_type"))
        .alias("et"),
    )
    a = e.select(F.col("event_id").alias("id_a"), F.col("et").alias("et_a"))
    b = e.select(F.col("event_id").alias("id_b"), F.col("et").alias("et_b"))
    return a.join(
        b,
        (F.col("et_a").eqNullSafe(F.col("et_b")))
        & (F.col("id_a") + 1 == F.col("id_b")),
    ).select("id_a", "id_b")


@register(
    "j_asof_tolerance",
    oracle="""
SELECT
  p.event_id,
  p.user_id,
  (SELECT MAX(c.ts) FROM events c
    WHERE c.user_id = p.user_id AND c.event_type = 'click'
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
  ) AS attributed_click_ts,
  (SELECT MAX(c.ts) FROM events c
    WHERE c.user_id = p.user_id AND c.event_type = 'click'
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
  ) IS NOT NULL AS attributed
FROM events p
WHERE p.event_type = 'purchase'
""",
    tags=("J8", "J7"),
)
def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (merge_asof's `tolerance`):
    a purchase is attributed to the latest prior click only if that
    click is at most 30 minutes old — the attribution-window semantics
    ad analytics actually uses. The tolerance is a POST-filter on the
    carried timestamp, so the operator's one-shuffle union-tag plan is
    unchanged: matches older than the window are nulled, never
    re-probed. The oracle adds the same lower bound to the correlated
    MAX."""
    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        left=purchases,
        right=clicks,
        on="user_id",
        left_time="ts",
        right_time="click_ts",
    )
    fresh = F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    attributed = F.when(fresh, F.col("click_ts"))
    return joined.select(
        "event_id",
        "user_id",
        attributed.alias("attributed_click_ts"),
        attributed.isNotNull().alias("attributed"),
    )


@register(
    "j_cross_self_grid",
    oracle="""
SELECT a.n_regionkey AS region_key,
       a.n_name      AS name_a,
       b.n_name      AS name_b,
       g.o_orderstatus AS status,
       a.n_name || '>' || b.n_name || '@' || g.o_orderstatus AS cell
FROM nation a
JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) g
""",
    tags=("J9", "J10"),
)
def j_cross_self_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join pairs crossed with a tiny derived grid: nation×nation
    within a region (the dedup-pair enumeration shape) expanded against
    every distinct order status (the report-matrix shape). Both inputs
    are bounded — pairs by the fixed dim, the grid by key cardinality —
    so the cross join is a broadcast nested loop over a few rows at any
    SF; nothing here grows with the fact tables."""
    nation = load_table(spark, sf_dir, "nation")
    grid = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    a = nation.alias("a")
    b = nation.alias("b")
    pairs = a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_regionkey").alias("region_key"),
        F.col("a.n_name").alias("name_a"),
        F.col("b.n_name").alias("name_b"),
    )
    return pairs.crossJoin(broadcast(grid.withColumnRenamed("o_orderstatus", "status"))).select(
        "region_key",
        "name_a",
        "name_b",
        "status",
        F.concat_ws("", F.col("name_a"), F.lit(">"), F.col("name_b"), F.lit("@"), F.col("status")).alias("cell"),
    )


# --- J1+J2+A1+A2: TPC-H Q17 shape — correlated aggregate in a join ----------

_Q17_ORACLE = f"""
WITH sel AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#1'
),
limits AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_limit
  FROM sel GROUP BY l_partkey
)
SELECT
  CAST(SUM({CENTS_SQL.format(expr="s.l_extendedprice")}) AS BIGINT) / 100.0 / 7.0
    AS avg_yearly,
  COUNT(*) AS n_small_qty
FROM sel s JOIN limits l ON s.l_partkey = l.l_partkey
WHERE s.l_quantity < l.qty_limit
"""


@register(
    "j_q17_small_qty_revenue",
    oracle=_Q17_ORACLE,
    tags=("J1", "J2", "A1", "A2"),
    headline=True,
)
def j_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of a brand's parts whose
    quantity is below 0.2x that part's average — the classic correlated
    scalar-aggregate-in-join every decision-support user hits.

    Spark-first decorrelation: filter part FIRST (the brand predicate
    prunes ~1/25 of parts), broadcast the surviving key list into the
    lineitem scan, aggregate the per-part averages over that already-
    filtered slice, then broadcast the AGGREGATED side back — two
    broadcasts, one fact scan feeding both consumers, zero shuffled
    fact-fact joins. At 100 TB the aggregated side stays
    |parts(brand)| rows (KBs), so the broadcast is safe at any fact
    size; only the per-part partial aggregation shuffles.

    Determinism: l_quantity is integral-valued double, so AVG is a sum
    of exact integers / exact count — bit-identical across engines and
    partition orders; the 0.2x multiply and the < compare are single
    IEEE ops. Revenue sums as integer cents.
    """
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    sel = lineitem.join(
        broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    limits = sel.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        sel.join(broadcast(limits), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (F.sum(cents(F.col("l_extendedprice"))) / 100.0 / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small_qty"),
        )
    )


# --- J4+J5+A6+P4: semi + anti + HAVING over a segment slice -----------------

_SEMI_ANTI_HAVING_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM({CENTS_SQL.format(expr="c_acctbal")}) AS BIGINT) AS balance_cents
FROM customer c
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
GROUP BY c_mktsegment
HAVING COUNT(*) >= 5
"""


@register(
    "j_semi_anti_having",
    oracle=_SEMI_ANTI_HAVING_ORACLE,
    tags=("J4", "J5", "A6", "P4"),
)
def j_semi_anti_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-but-clean customers per segment: IN-list slice (P4), LEFT
    SEMI against orders (has ordered), LEFT ANTI against the 'F' slice
    of orders (never a finished-status order), grouped with a HAVING
    floor. The semi/anti pair is the canonical existence-check shape —
    both are shuffle joins on c_custkey that keep ONLY the left columns
    (no fact-width rows move), and Catalyst pushes the IN filter to the
    customer scan. At 100 TB both existence probes stay key-only
    shuffles; nothing widens."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    sliced = customer.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
    )
    active = sliced.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    )
    clean = active.join(
        orders.filter(F.col("o_orderstatus") == "F"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return (
        clean.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents(F.col("c_acctbal"))).alias("balance_cents"),
        )
        .filter(F.col("n_customers") >= 5)
    )


# --- J7+J9+J10: banded self theta-join + report-grid cross ------------------

_THETA_SELF_ORACLE = """
WITH pairs AS (
  SELECT s1.s_nationkey AS nk,
         ABS(CAST(ROUND(s1.s_acctbal * 100) AS BIGINT)
             - CAST(ROUND(s2.s_acctbal * 100) AS BIGINT)) AS diff_cents
  FROM supplier s1
  JOIN supplier s2
    ON s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey
  WHERE ABS(CAST(ROUND(s1.s_acctbal * 100) AS BIGINT)
            - CAST(ROUND(s2.s_acctbal * 100) AS BIGINT)) <= 10000
),
per_nation AS (
  SELECT nk, COUNT(*) AS n_pairs,
         CAST(SUM(diff_cents) AS BIGINT) AS sum_diff_cents
  FROM pairs GROUP BY nk
)
SELECT p.nk AS s_nationkey, p.n_pairs, p.sum_diff_cents,
       r.r_name, (n.n_regionkey = r.r_regionkey) AS is_home
FROM per_nation p
JOIN nation n ON n.n_nationkey = p.nk
CROSS JOIN region r
"""


@register("j_theta_self_pairs", oracle=_THETA_SELF_ORACLE, tags=("J7", "J9", "J10"))
def j_theta_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier pairs in the same nation within a $100 balance band
    (theta/range self-join), aggregated per nation and crossed with the
    region dim for a report grid.

    Scale shape: the naive spelling is an O(n^2) theta join; the 100 TB
    plan BANDS it — each left row explodes to its balance bucket +/- 1
    ($100 buckets), the join is then a pure EQUI join on
    (nation, bucket) that Spark hash-partitions, and the exact band +
    key-order predicates filter the 3x candidate set. Work is
    O(sum of bucket-pair sizes), not O(n^2), and skew stays bounded by
    bucket population. The final crossJoin is broadcast(region): 5 rows
    against a 25-row aggregate — the only legitimate cross shape."""
    from ..operators.banding import banded_abs_diff_pairs

    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    s = supplier.select(
        "s_suppkey",
        "s_nationkey",
        cents(F.col("s_acctbal")).alias("bal_cents"),
    )
    banded = banded_abs_diff_pairs(
        s, id_col="s_suppkey", group_col="s_nationkey",
        val_col="bal_cents", band=10000,
    ).select(
        F.col("s_nationkey").alias("nk"),
        F.col("diff").alias("diff_cents"),
    )
    per_nation = banded.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("diff_cents").alias("sum_diff_cents"),
    )
    return (
        per_nation.join(
            broadcast(nation), F.col("nk") == F.col("n_nationkey")
        )
        .crossJoin(broadcast(region))
        .select(
            F.col("nk").alias("s_nationkey"),
            "n_pairs",
            "sum_diff_cents",
            "r_name",
            (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home"),
        )
    )


# --- SCD2 point-in-time join ------------------------------------------------

_SCD2_PIT_ORACLE = f"""
WITH dim AS (
  SELECT o_custkey, o_orderdate AS valid_from,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS valid_to,
         o_orderstatus AS status
  FROM orders WHERE o_custkey <= 200
),
fact AS (
  SELECT o.o_custkey AS custkey, l.l_shipdate,
         {CENTS_SQL.format(expr="l.l_extendedprice")} AS rev_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey <= 200
)
SELECT d.status,
       COUNT(*) AS n_lines,
       CAST(SUM(f.rev_cents) AS BIGINT) AS rev_cents,
       COUNT(DISTINCT f.custkey) AS n_custs
FROM fact f JOIN dim d
  ON f.custkey = d.o_custkey
 AND f.l_shipdate >= d.valid_from
 AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
GROUP BY d.status ORDER BY d.status
"""


@register("j_scd2_point_in_time", oracle=_SCD2_PIT_ORACLE, tags=("J7", "J8", "W2", "A1"))
def j_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against SCD2 history — the warehouse pattern
    w_scd2_ranges builds FOR: each shipment (fact event at l_shipdate)
    picks up the customer's status interval that was valid when it
    shipped ([valid_from, valid_to), open end = current), then revenue
    rolls up by that historical status.

    Scale design: the interval table derives from the changelog with
    one window over the dimension key, and the PIT join carries the
    custkey EQUI-conjunct, so Catalyst plans a hash/sort-merge join on
    custkey with the range predicate as a post-join filter — never a
    nested loop (the same contract as j_theta_range; the pure-range
    fallback is the bucketed shape). Intervals per key are contiguous
    and non-overlapping by construction, so each fact row matches at
    most one interval — the join cannot amplify. Money in integer
    cents."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = o.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.col("o_orderstatus").alias("status"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    fact = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            "l_shipdate",
            cents(F.col("l_extendedprice")).alias("rev_cents"),
        )
    )
    joined = fact.join(
        dim,
        (fact.custkey == dim.o_custkey)
        & (fact.l_shipdate >= dim.valid_from)
        & (dim.valid_to.isNull() | (fact.l_shipdate < dim.valid_to)),
    )
    return (
        joined.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("rev_cents").cast("long").alias("rev_cents"),
            F.count_distinct("custkey").alias("n_custs"),
        )
        .orderBy("status")
    )


_SPATIAL_ORACLE = """
WITH cust AS (
  SELECT c_custkey,
         (c_custkey * 48271) % 180000000 AS clat,
         (c_custkey * 69621) % 360000000 AS clon
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         (s_suppkey * 40692) % 180000000 AS slat,
         (s_suppkey * 16807) % 360000000 AS slon
  FROM supplier
),
scell AS (
  SELECT s.s_suppkey, s.slat, s.slon,
         (s.slon // 15000000) + off.dx AS gx,
         (s.slat // 15000000) + off.dy AS gy
  FROM supp s CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                                 (1,-1),(1,0),(1,1)) AS off(dx, dy)
),
cand AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.clon - s.slon) * (c.clon - s.slon)
       + (c.clat - s.slat) * (c.clat - s.slat) AS dist2
  FROM cust c JOIN scell s
    ON (c.clon // 15000000) = s.gx AND (c.clat // 15000000) = s.gy
),
ranked AS (
  SELECT c_custkey, s_suppkey, dist2,
         ROW_NUMBER() OVER (PARTITION BY c_custkey
                            ORDER BY dist2, s_suppkey) AS rn
  FROM cand
  WHERE dist2 <= 225000000000000
)
SELECT c_custkey, s_suppkey AS nearest_suppkey, dist2
FROM ranked WHERE rn = 1
"""


@register("j_spatial_grid_nn", oracle=_SPATIAL_ORACLE, tags=("J7", "J1", "W1"))
def j_spatial_grid_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-supplier-within-radius spatial join via grid bucketing —
    the canonical way to run a distance join on Spark without a cross
    join: quantize coordinates to 15-degree grid cells, replicate the
    SMALLER side (suppliers) to its 3x3 cell neighborhood, equi-join on
    cell id, then refine with the exact distance predicate and keep the
    per-customer minimum.

    Scale shape: replication factor is a constant 9x on the small side
    only; the join is a plain equi-join on (gx, gy) so it shuffles,
    prunes, and AQE-skew-splits like any other key join — a cross join
    would be |cust| x |supp| and is never built. At planet scale the
    same plan holds with finer cells (the cell size trades replication
    against refine selectivity).

    Determinism: coordinates are synthetic integer micro-degrees derived
    from keys by pure LCG-style modular arithmetic (no real geography in
    the test tables) kept non-negative so integer division is identical
    on every engine; distances are exact BIGINT squared-euclidean (no
    sqrt, no trig, no floats anywhere). Longitude wrap at the 0/360 seam
    is deliberately not stitched — both engines see the identical metric.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 180000000).alias("clat"),
        ((F.col("c_custkey") * 69621) % 360000000).alias("clon"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 40692) % 180000000).alias("slat"),
        ((F.col("s_suppkey") * 16807) % 360000000).alias("slon"),
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("off")
    scell = supp.select("*", offsets).select(
        "s_suppkey",
        "slat",
        "slon",
        (F.expr("slon div 15000000") + F.col("off.dx")).alias("gx"),
        (F.expr("slat div 15000000") + F.col("off.dy")).alias("gy"),
    )
    cand = (
        cust.withColumn("gx", F.expr("clon div 15000000"))
        .withColumn("gy", F.expr("clat div 15000000"))
        .join(scell, ["gx", "gy"])
        .select(
            "c_custkey",
            "s_suppkey",
            (
                (F.col("clon") - F.col("slon")) * (F.col("clon") - F.col("slon"))
                + (F.col("clat") - F.col("slat")) * (F.col("clat") - F.col("slat"))
            ).alias("dist2"),
        )
        .filter(F.col("dist2") <= 225000000000000)
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", F.col("s_suppkey").alias("nearest_suppkey"), "dist2")
    )


# --- interval-overlap self-join (cell-bucketed, no cross join) --------------

_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000

_OVERLAP_ORACLE = """
WITH iv AS (
  SELECT event_id, user_id,
         epoch_us(ts)                                        AS s,
         epoch_us(ts) + 3600000000 * (1 + event_id % 3)      AS e
  FROM events WHERE event_type = 'purchase'
)
SELECT a.user_id,
       COUNT(*)                                              AS n_overlap_pairs,
       CAST(SUM(LEAST(a.e, b.e) - GREATEST(a.s, b.s)) AS BIGINT) AS total_overlap_us,
       CAST(MAX(LEAST(a.e, b.e) - GREATEST(a.s, b.s)) AS BIGINT) AS max_overlap_us
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s < b.e AND b.s < a.e
GROUP BY a.user_id
"""


@register("j_interval_overlap_join", oracle=_OVERLAP_ORACLE, tags=("J7", "J10", "A1"))
def j_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: purchase events become [start, start +
    1-3h) intervals; report, per user, how many pairs overlap and the
    total/max overlap duration (exact integer microseconds).

    Scale design — the no-cross-join interval join: each interval is
    replicated to the UTC-day cells it spans (<= 2 cells for a 3h
    interval), pairs meet through a (user_id, day-cell) EQUI-join, and
    each pair is counted exactly once by the canonical-cell rule (the
    cell containing the later of the two starts — for overlapping
    intervals that instant lies inside both, so exactly one replica pair
    satisfies it). Per-task work is bounded by intervals-per-(user, day),
    never intervals-per-user, so a power user with years of history
    cannot create a quadratic task. The oracle is the direct quadratic
    self-join — DuckDB can afford it at oracle scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "event_id",
        "user_id",
        ts_us.alias("s"),
        (ts_us + F.lit(_HOUR_US) * (F.lit(1) + F.col("event_id") % 3)).alias("e"),
    )
    cells = iv.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _DAY_US), F.floor(F.col("e") / _DAY_US)
            )
        ),
    )
    a = cells.select(
        F.col("user_id"),
        F.col("cell"),
        F.col("event_id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = cells.select(
        F.col("user_id"),
        F.col("cell"),
        F.col("event_id").alias("id_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    overlap = F.least(F.col("e_a"), F.col("e_b")) - F.greatest(
        F.col("s_a"), F.col("s_b")
    )
    pairs = (
        a.join(b, ["user_id", "cell"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("s_a") < F.col("e_b"))
            & (F.col("s_b") < F.col("e_a"))
            # count-once: only the replica in the canonical cell survives
            & (
                F.floor(F.greatest(F.col("s_a"), F.col("s_b")) / _DAY_US)
                == F.col("cell")
            )
        )
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_overlap_pairs"),
        F.sum(overlap).alias("total_overlap_us"),
        F.max(overlap).alias("max_overlap_us"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation from key histograms (CBO math, exact)
# ---------------------------------------------------------------------------

_JOINSIZE_ORACLE = """
WITH ho AS (
  SELECT o_custkey AS k, COUNT(*) AS c_o FROM orders GROUP BY o_custkey
),
hc AS (
  SELECT c_custkey AS k, COUNT(*) AS c_c FROM customer GROUP BY c_custkey
),
est AS (
  SELECT CAST(SUM(ho.c_o * hc.c_c) AS BIGINT) AS predicted_rows,
         COUNT(*) AS n_matching_keys
  FROM ho JOIN hc ON ho.k = hc.k
),
actual AS (
  SELECT COUNT(*) AS actual_rows
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT e.predicted_rows, e.n_matching_keys, a.actual_rows,
       e.predicted_rows = a.actual_rows AS histogram_exact_ok,
       (SELECT COUNT(*) FROM ho) AS n_keys_orders,
       (SELECT COUNT(*) FROM hc) AS n_keys_customer
FROM est e CROSS JOIN actual a
"""


@register(
    "j_join_size_estimate",
    oracle=_JOINSIZE_ORACLE,
    tags=("J1", "A1", "A2", "P7"),
)
def j_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation the way a cost-based optimizer does
    it — from per-key count histograms: |A ⋈ B| = Σ_k c_A(k)·c_B(k).
    With FULL histograms the formula is EXACT (`histogram_exact_ok`
    pins prediction == the real join's count); a CBO uses bucketed
    histograms and gets an estimate — this query is the ground-truth
    version, the pre-join sizing report a pipeline runs before
    committing cluster resources to a potentially exploding join (the
    quantitative sibling of `s_skew_report`'s per-key share view).

    Scale: two combinable key-count rollups (each FAR smaller than its
    table), one key-equi join between them, and Σ products — the
    estimator costs a fraction of the join it predicts. The actual
    join runs here only to validate the formula.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    ho = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_o")
    )
    hc = c.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_c")
    )
    est = ho.join(hc, "k").agg(
        F.sum(F.col("c_o") * F.col("c_c")).cast("long").alias("predicted_rows"),
        F.count(F.lit(1)).alias("n_matching_keys"),
    )
    actual = o.join(c, o.o_custkey == c.c_custkey).agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    n_ho = ho.agg(F.count(F.lit(1)).alias("n_keys_orders"))
    n_hc = hc.agg(F.count(F.lit(1)).alias("n_keys_customer"))
    return (
        est.crossJoin(F.broadcast(actual))
        .crossJoin(F.broadcast(n_ho))
        .crossJoin(F.broadcast(n_hc))
        .select(
            "predicted_rows",
            "n_matching_keys",
            "actual_rows",
            (F.col("predicted_rows") == F.col("actual_rows")).alias(
                "histogram_exact_ok"
            ),
            "n_keys_orders",
            "n_keys_customer",
        )
    )


# ---------------------------------------------------------------------------
# Nearest as-of join (closest event in EITHER direction)
# ---------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = """
WITH orders_s AS (
  SELECT o_orderkey, o_custkey,
         CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS t_o
  FROM orders WHERE o_orderkey % 50 = 0
),
events_s AS (
  SELECT user_id, event_id,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t_e
  FROM events
),
candidates AS (
  SELECT o.o_orderkey, o.t_o, e.event_id, e.t_e,
         ABS(e.t_e - o.t_o) AS dt,
         ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
           ORDER BY ABS(e.t_e - o.t_o), e.event_id) AS rk
  FROM orders_s o
  JOIN events_s e ON e.user_id = o.o_custkey % 100
),
nearest AS (
  SELECT o_orderkey, t_o, event_id AS nearest_event, t_e, dt
  FROM candidates WHERE rk = 1
)
SELECT o_orderkey, nearest_event, dt,
       t_e >= t_o AS matched_forward
FROM nearest
ORDER BY o_orderkey
"""


@register(
    "j_asof_nearest",
    oracle=_ASOF_NEAREST_ORACLE,
    tags=("J8", "J7", "W1", "F2"),
)
def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join: each probe order picks the user's event
    closest in time in EITHER direction — the third as-of semantic
    next to backward (`j_asof_last_click`) and backward-with-tolerance
    (`j_asof_tolerance`); sensor fusion and clickstream stitching use
    `nearest` when causality doesn't force a direction. Ties (equal
    |Δt| before and after) break deterministically on event_id, and
    `matched_forward` reports which side won.

    Scale shape: the probe set is bounded (every-50th order) and the
    match key (user) equi-joins BEFORE the time window ranks within
    each probe's candidate set — per-probe fan-out is that user's
    event count, never the corpus; at dense-probe scale this becomes
    the union-tag + two-directional window rewrite documented on
    operators/asof.py (no native nearest exists in either engine).
    """
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    orders_s = o.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        (F.col("o_custkey") % 100).alias("probe_user"),
        F.unix_timestamp("o_orderdate").cast("long").alias("t_o"),
    )
    events_s = e.select(
        "user_id", "event_id", F.unix_timestamp("ts").cast("long").alias("t_e")
    )
    cand = orders_s.join(
        events_s, orders_s.probe_user == events_s.user_id
    ).withColumn("dt", F.abs(F.col("t_e") - F.col("t_o")))
    w = Window.partitionBy("o_orderkey").orderBy("dt", "event_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderkey",
            F.col("event_id").alias("nearest_event"),
            "dt",
            (F.col("t_e") >= F.col("t_o")).alias("matched_forward"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Bridge-table M:N allocation (Kimball weighting — no double counting)
# ---------------------------------------------------------------------------

_BRIDGE_ORACLE = """
WITH bridge AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
weights AS (
  SELECT l_partkey, l_suppkey,
         COUNT(*) OVER (PARTITION BY l_partkey) AS n_supps
  FROM bridge
),
part_rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem GROUP BY l_partkey
),
allocated AS (
  SELECT s.s_nationkey, w.l_partkey,
         CAST(p.rev_cents // w.n_supps AS BIGINT) AS alloc_cents
  FROM weights w
  JOIN part_rev p ON w.l_partkey = p.l_partkey
  JOIN supplier s ON w.l_suppkey = s.s_suppkey
)
SELECT n.n_name,
       COUNT(DISTINCT a.l_partkey) AS n_parts,
       CAST(SUM(a.alloc_cents) AS BIGINT) AS allocated_rev_cents
FROM allocated a JOIN nation n ON a.s_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


@register(
    "j_bridge_allocation",
    oracle=_BRIDGE_ORACLE,
    tags=("J6", "J1", "W3", "A1"),
)
def j_bridge_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-to-many BRIDGE allocation (Kimball): part revenue flows to
    supplier nations through the part↔supplier bridge, with each
    part's revenue split 1/n across its suppliers — the weighting that
    makes the nation totals ADD UP instead of multiplying revenue by
    the bridge fan-out (the classic M:N double-counting bug: a naive
    join here would inflate totals by the suppliers-per-part factor).

    Exactness: allocation uses positive BIGINT floor division (the
    sub-cent remainder is deliberately dropped identically on both
    engines — production variants assign remainders to a designated
    owner row). Scale: the bridge and the part-revenue rollup are both
    combinable aggregates far smaller than lineitem; the weight is a
    window over the bridge (bounded fan-out per part); dims broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    bridge = li.select("l_partkey", "l_suppkey").dropDuplicates()
    w = Window.partitionBy("l_partkey")
    weights = bridge.withColumn("n_supps", F.count(F.lit(1)).over(w))
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice"))).cast("long").alias("rev_cents")
    )
    allocated = (
        weights.join(part_rev, "l_partkey")
        .join(s.select("s_suppkey", "s_nationkey"),
              weights.l_suppkey == F.col("s_suppkey"))
        .select(
            "s_nationkey",
            "l_partkey",
            F.expr("CAST(rev_cents DIV n_supps AS BIGINT)").alias(
                "alloc_cents"
            ),
        )
    )
    return (
        allocated.join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            allocated.s_nationkey == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.sum("alloc_cents").cast("long").alias("allocated_rev_cents"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Mark join: EXISTS as a column, not a filter
# ---------------------------------------------------------------------------

_MARK_ORACLE = """
WITH marked AS (
  SELECT c.c_custkey, c.c_mktsegment,
         EXISTS (SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderstatus = 'F') AS has_finished_order
  FROM customer c
)
SELECT c_mktsegment, has_finished_order,
       COUNT(*) AS n_customers,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key
FROM marked
GROUP BY c_mktsegment, has_finished_order
ORDER BY c_mktsegment, has_finished_order
"""


@register(
    "j_mark_join_exists_flag",
    oracle=_MARK_ORACLE,
    tags=("J4", "J3", "A1", "P6"),
)
def j_mark_join_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark join: EXISTS kept as a BOOLEAN COLUMN instead of a filter
    — the shape behind "segment customers by whether they ever
    completed an order" where semi/anti joins can only keep or drop
    rows, never label them. Implemented as a left join against the
    DISTINCT key set + null-flag (what DuckDB calls a mark join and
    plans natively for EXISTS in a projection; Spark reaches the same
    result with the distinct-key outer join — same single shuffle as
    a semi join because the distinct collapses the fact side first).

    Exactness: pure counts and key min/max per (segment, flag) cell.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    finished = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .dropDuplicates()
        .withColumn("mark", F.lit(True))
    )
    marked = c.join(finished, "c_custkey", "left").select(
        "c_custkey",
        "c_mktsegment",
        F.coalesce("mark", F.lit(False)).alias("has_finished_order"),
    )
    return (
        marked.groupBy("c_mktsegment", "has_finished_order")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").cast("long").alias("min_key"),
            F.max("c_custkey").cast("long").alias("max_key"),
        )
        .orderBy("c_mktsegment", "has_finished_order")
    )


# ---------------------------------------------------------------------------
# Drill-across: two fact tables merged on a conformed dimension
# ---------------------------------------------------------------------------

_DRILL_ACROSS_ORACLE = f"""
WITH fact_orders AS (
  SELECT o_custkey % 100 AS bucket,
         COUNT(*) AS n_orders,
         CAST(SUM({CENTS_SQL.format(expr="o_totalprice")}) AS BIGINT)
           AS revenue_cents
  FROM orders GROUP BY o_custkey % 100
),
fact_events AS (
  SELECT user_id % 100 AS bucket,
         COUNT(*) AS n_events,
         CAST(SUM({CENTS_SQL.format(expr="value")}) AS BIGINT)
           AS engagement_cents
  FROM events GROUP BY user_id % 100
)
SELECT COALESCE(o.bucket, e.bucket) AS bucket,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.revenue_cents, 0) AS revenue_cents,
       COALESCE(e.n_events, 0) AS n_events,
       COALESCE(e.engagement_cents, 0) AS engagement_cents,
       o.bucket IS NOT NULL AND e.bucket IS NOT NULL AS both_sources,
       CASE WHEN COALESCE(e.n_events, 0) > 0
            THEN CAST(COALESCE(o.revenue_cents, 0) AS BIGINT)
                 // e.n_events
            ELSE NULL END AS revenue_cents_per_event
FROM fact_orders o FULL OUTER JOIN fact_events e ON o.bucket = e.bucket
ORDER BY bucket
"""


@register(
    "j_drill_across_facts",
    oracle=_DRILL_ACROSS_ORACLE,
    tags=("J3", "A1", "O3"),
)
def j_drill_across_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball drill-across: two SEPARATE fact tables (orders revenue,
    events engagement) each aggregated to the same conformed-dimension
    grain, then merged with a FULL OUTER join and zero-filled — the
    standard way to put metrics from different fact tables on one row
    without double-counting (joining facts row-to-row before
    aggregating would fan out both measures). Buckets present in only
    one fact survive with the other side zeroed and are flagged.

    Scale: each fact aggregates independently (combinable, map-side
    partial) BEFORE the join, so the outer join runs on two
    dimension-sized rollups, not on fact x fact; the conformed grain
    is the only shuffle key. Cross-fact ratio math stays in integer
    cents (floor division, identical on both engines)."""
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    fo = o.groupBy((F.col("o_custkey") % 100).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("revenue_cents"),
    )
    fe = e.groupBy((F.col("user_id") % 100).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents(F.col("value"))).cast("long").alias("engagement_cents"),
    )
    ob, eb = fo.alias("o"), fe.alias("e")
    joined = ob.join(eb, F.col("o.bucket") == F.col("e.bucket"), "full_outer")
    n_events = F.coalesce(F.col("e.n_events"), F.lit(0))
    revenue = F.coalesce(F.col("o.revenue_cents"), F.lit(0))
    return joined.select(
        F.coalesce(F.col("o.bucket"), F.col("e.bucket")).alias("bucket"),
        F.coalesce(F.col("o.n_orders"), F.lit(0)).alias("n_orders"),
        revenue.alias("revenue_cents"),
        n_events.alias("n_events"),
        F.coalesce(F.col("e.engagement_cents"), F.lit(0)).alias(
            "engagement_cents"
        ),
        (F.col("o.bucket").isNotNull() & F.col("e.bucket").isNotNull()).alias(
            "both_sources"
        ),
        F.when(n_events > 0, F.expr(
            "COALESCE(o.revenue_cents, 0L) DIV e.n_events"
        )).otherwise(F.lit(None).cast("long")).alias("revenue_cents_per_event"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# Open-order backlog aging at month-end snapshots
# ---------------------------------------------------------------------------

_BACKLOG_ORACLE = f"""
WITH spans AS (
  SELECT o.o_orderkey,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS value_cents,
         EXTRACT(year FROM o.o_orderdate) * 12
           + EXTRACT(month FROM o.o_orderdate) - 1 AS open_m,
         EXTRACT(year FROM MAX(l.l_shipdate)) * 12
           + EXTRACT(month FROM MAX(l.l_shipdate)) - 1 AS close_m
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_totalprice, o.o_orderdate
),
snap AS (
  SELECT o_orderkey, value_cents, open_m,
         UNNEST(GENERATE_SERIES(open_m, close_m - 1)) AS m
  FROM spans
  WHERE close_m > open_m
),
bucketed AS (
  SELECT CONCAT(CAST(m // 12 AS VARCHAR), '-',
                LPAD(CAST(m % 12 + 1 AS VARCHAR), 2, '0')) AS snapshot_month,
         CASE WHEN m - open_m = 0 THEN '0'
              WHEN m - open_m <= 2 THEN '1-2'
              WHEN m - open_m <= 5 THEN '3-5'
              ELSE '6+' END AS age_bucket,
         value_cents
  FROM snap
  WHERE m // 12 = 1995
)
SELECT snapshot_month, age_bucket,
       COUNT(*) AS n_open_orders,
       CAST(SUM(value_cents) AS BIGINT) AS backlog_cents
FROM bucketed
GROUP BY snapshot_month, age_bucket
ORDER BY snapshot_month, age_bucket
"""


@register(
    "j_backlog_aging_snapshots",
    oracle=_BACKLOG_ORACLE,
    tags=("J7", "A1", "F2", "F4"),
)
def j_backlog_aging_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: at every 1995 month-end, how many
    orders are placed but not yet fully shipped, and how old are they
    — the finance/ops snapshot report (aged receivables / WIP
    backlog). An order is open at a month-end iff it was placed on or
    before it and its LAST lineitem ships after it; each open order
    lands in an age bucket by months outstanding.

    Scale shape: this is an interval x snapshot-grid overlap, solved
    WITHOUT a theta join — each order explodes only its own open
    month span (sequence(open_m, close_m-1), bounded by order
    lifetime, ~3-4 rows), turning the range predicate into plain
    per-row generation + a combinable rollup. The order-close lookup
    is one groupBy(l_orderkey) max — the only shuffle on the big
    table."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    close = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_dt"))
    month_idx = lambda c: (F.year(c) * 12 + F.month(c) - 1)  # noqa: E731
    spans = (
        o.join(close, o.o_orderkey == close.l_orderkey)
        .select(
            cents(F.col("o_totalprice")).alias("value_cents"),
            month_idx(F.col("o_orderdate")).alias("open_m"),
            month_idx(F.col("close_dt")).alias("close_m"),
        )
        .filter(F.col("close_m") > F.col("open_m"))
    )
    snap = spans.select(
        "value_cents",
        "open_m",
        F.explode(
            F.sequence(F.col("open_m"), F.col("close_m") - 1)
        ).alias("m"),
    ).filter(F.expr("m DIV 12 = 1995"))
    age = F.col("m") - F.col("open_m")
    bucketed = snap.select(
        F.concat(
            F.expr("CAST(m DIV 12 AS STRING)"),
            F.lit("-"),
            F.lpad((F.col("m") % 12 + 1).cast("string"), 2, "0"),
        ).alias("snapshot_month"),
        F.when(age == 0, "0")
        .when(age <= 2, "1-2")
        .when(age <= 5, "3-5")
        .otherwise("6+")
        .alias("age_bucket"),
        "value_cents",
    )
    return (
        bucketed.groupBy("snapshot_month", "age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_open_orders"),
            F.sum("value_cents").cast("long").alias("backlog_cents"),
        )
        .orderBy("snapshot_month", "age_bucket")
    )


# ---------------------------------------------------------------------------
# Blocked entity resolution (record linkage with Fellegi-Sunter-style scores)
# ---------------------------------------------------------------------------

_ER_ORACLE = f"""
WITH clean AS (
  SELECT c_custkey,
         SUBSTRING(c_name, 10, 6) AS name_key,
         {CENTS_SQL.format(expr="c_acctbal")} AS bal_cents,
         c_nationkey, c_mktsegment
  FROM customer
),
dirty AS (
  SELECT c_custkey AS src_key,
         SUBSTRING(c_name, 10, 6) AS name_key,
         {CENTS_SQL.format(expr="c_acctbal")} + (c_custkey % 7) - 3
           AS bal_cents,
         c_nationkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END
           AS seg
  FROM customer
),
cand AS (
  SELECT c.c_custkey, d.src_key,
         CASE WHEN c.name_key = d.name_key THEN 24 ELSE -24 END
         + CASE WHEN ABS(c.bal_cents - d.bal_cents) <= 3 THEN 16 ELSE -16 END
         + CASE WHEN d.seg = 'UNKNOWN' THEN 0
                WHEN c.c_mktsegment = d.seg THEN 8 ELSE -8 END AS score
  FROM clean c
  JOIN dirty d
    ON c.c_nationkey = d.c_nationkey
   AND (c.bal_cents + 100000) // 10000 = (d.bal_cents + 100000) // 10000
),
pred AS (SELECT * FROM cand WHERE score >= 40),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pred,
         CAST(SUM(CASE WHEN c_custkey = src_key THEN 1 ELSE 0 END) AS BIGINT)
           AS tp
  FROM pred
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand
),
truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM customer)
SELECT n_cand, n_pred, tp, n_true,
       tp * 1000000 // n_pred AS precision_ppm,
       tp * 1000000 // n_true AS recall_ppm
FROM stats CROSS JOIN tot CROSS JOIN truth
"""


@register(
    "j_entity_resolution_blocked",
    oracle=_ER_ORACLE,
    tags=("J1", "A1", "A7", "P6", "F1", "N1"),
)
def j_entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: link a deterministically-dirtied copy of the
    customer table (balance jittered ±3 cents by key, 20% of segments
    blanked to UNKNOWN) back to the clean table with blocking +
    Fellegi-Sunter-style integer agreement weights, and report
    precision/recall against the planted ground truth.

    Scale design — the all-pairs comparison space (n² across files) is
    cut by BLOCKING before any scoring: candidates must share
    (nationkey, $100-balance-bucket), an equi-join whose block sizes
    are bounded by the balance histogram, never a cross join. The
    bucket is floor-division on OFFSET-POSITIVE cents ((bal+100000)//10000)
    so Spark's truncating DIV and DuckDB's flooring // agree on
    negative balances. Scoring is pure integer weight arithmetic
    (match/mismatch on a 6-digit name key, |Δbal| ≤ 3 cents, segment
    agreement with UNKNOWN scored 0); threshold 40 requires name AND
    balance agreement. Recall < 100% is REAL: a jitter that crosses a
    $100 bucket boundary makes that true pair unblocked — the classic
    blocking/recall trade every production linker tunes. All metrics
    exact integer ppm."""
    c = load_table(spark, sf_dir, "customer")
    clean = c.select(
        "c_custkey",
        F.substring("c_name", 10, 6).alias("name_key"),
        cents(F.col("c_acctbal")).alias("bal_cents"),
        "c_nationkey",
        "c_mktsegment",
    )
    dirty = c.select(
        F.col("c_custkey").alias("src_key"),
        F.substring("c_name", 10, 6).alias("d_name_key"),
        (cents(F.col("c_acctbal")) + (F.col("c_custkey") % 7) - 3).alias(
            "d_bal_cents"
        ),
        F.col("c_nationkey").alias("d_nationkey"),
        F.when(F.col("c_custkey") % 5 == 0, "UNKNOWN")
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    cand = clean.join(
        dirty,
        (F.col("c_nationkey") == F.col("d_nationkey"))
        & (
            F.expr("(bal_cents + 100000) DIV 10000")
            == F.expr("(d_bal_cents + 100000) DIV 10000")
        ),
    ).select(
        "c_custkey",
        "src_key",
        (
            F.when(F.col("name_key") == F.col("d_name_key"), 24).otherwise(-24)
            + F.when(
                F.abs(F.col("bal_cents") - F.col("d_bal_cents")) <= 3, 16
            ).otherwise(-16)
            + F.when(F.col("seg") == "UNKNOWN", 0)
            .when(F.col("c_mktsegment") == F.col("seg"), 8)
            .otherwise(-8)
        ).alias("score"),
    )
    pred = cand.filter(F.col("score") >= 40)
    stats = pred.agg(
        F.count(F.lit(1)).alias("n_pred"),
        F.sum(
            F.when(F.col("c_custkey") == F.col("src_key"), 1).otherwise(0)
        ).alias("tp"),
    )
    tot = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    truth = c.agg(F.count(F.lit(1)).alias("n_true"))
    return (
        stats.crossJoin(broadcast(tot))
        .crossJoin(broadcast(truth))
        .select(
            "n_cand",
            "n_pred",
            "tp",
            "n_true",
            F.expr("tp * 1000000 DIV n_pred").alias("precision_ppm"),
            F.expr("tp * 1000000 DIV n_true").alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Bitemporal reconstruction: "as known at T, effective for period V"
# ---------------------------------------------------------------------------

_BITEMPORAL_ORACLE = """
WITH versions AS (
  -- Original statement of every 1996 order, known since day 0...
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amount_cents,
         0 AS known_seq
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  UNION ALL
  -- ...plus a later restatement (+$10) of every 13th order, known at seq 1.
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1000,
         1
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    AND o_orderkey % 13 = 0
),
as_known AS (
  SELECT k.t AS known_at, v.o_orderkey, v.amount_cents,
         ROW_NUMBER() OVER (PARTITION BY k.t, v.o_orderkey
                            ORDER BY v.known_seq DESC) AS rn
  FROM versions v JOIN (SELECT UNNEST([0, 1]) AS t) k ON v.known_seq <= k.t
)
SELECT known_at,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(amount_cents) AS BIGINT) / 100.0 AS total_dollars,
       CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_restatable
FROM as_known WHERE rn = 1
GROUP BY known_at
ORDER BY known_at
"""


@register(
    "j_bitemporal_reconstruction",
    oracle=_BITEMPORAL_ORACLE,
    tags=("J1", "W1", "A1", "O3"),
)
def j_bitemporal_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal accounting: 1996 revenue 'as known at' two
    transaction times — before and after a restatement batch corrects
    every 13th order by +$10. Valid time (the order's 1996 effective
    period) never changes; transaction time decides WHICH version each
    reconstruction sees: latest version with known_seq ≤ T wins. The
    two report rows differ by exactly n_restatable × $10 — the audit
    trail regulators mean when they say 'reproduce the January report
    as filed'.

    Scale design — versions are a union of the base scan and the
    (sparse) correction scan; reconstruction is one per-(T, key)
    latest-version window over the version table, grouped to the
    report grain. The version table grows by corrections, not by
    reports: each new 'as known at' is a filter, never a rewrite."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    v0 = base.select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("amount_cents"),
        F.lit(0).alias("known_seq"),
    )
    v1 = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        (cents(F.col("o_totalprice")) + 1000).alias("amount_cents"),
        F.lit(1).alias("known_seq"),
    )
    versions = v0.unionByName(v1)
    ts = spark.range(2).select(F.col("id").cast("int").alias("known_at"))
    as_known = versions.join(
        F.broadcast(ts), versions.known_seq <= ts.known_at
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("known_at", "o_orderkey").orderBy(
                F.col("known_seq").desc()
            )
        ),
    )
    return (
        as_known.filter(F.col("rn") == 1)
        .groupBy("known_at")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("amount_cents").cast("long") / 100.0).alias("total_dollars"),
            F.sum(F.when(F.col("o_orderkey") % 13 == 0, 1).otherwise(0)).alias(
                "n_restatable"
            ),
        )
        .orderBy("known_at")
    )


# ---------------------------------------------------------------------------
# Fuzzy string join: trigram-blocked name matching (the pg_trgm shape)
# ---------------------------------------------------------------------------

_TRGM_ORACLE = """
WITH names AS (
  SELECT p_partkey AS id, LOWER(p_name) AS nm FROM part
  WHERE p_partkey % 20 = 0
  UNION ALL
  SELECT p_partkey + 1000000,
         LOWER(SUBSTR(p_name, 1, LENGTH(p_name) - 2)) || 'xy'
  FROM part WHERE p_partkey % 40 = 0
),
grams AS (
  SELECT DISTINCT id, SUBSTR(nm, i, 3) AS g
  FROM names, UNNEST(GENERATE_SERIES(1, LENGTH(nm) - 2)) AS u(i)
),
sizes AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_g FROM grams GROUP BY id
),
rare AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 60
),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM grams a
  JOIN rare r ON a.g = r.g
  JOIN grams b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id
),
scored AS (
  SELECT s.id_a, s.id_b, s.n_shared,
         sa.n_g AS n_a, sb.n_g AS n_b,
         s.n_shared * 1000000
           // (sa.n_g + sb.n_g - s.n_shared) AS jaccard_ppm
  FROM shared s
  JOIN sizes sa ON s.id_a = sa.id
  JOIN sizes sb ON s.id_b = sb.id
)
SELECT id_a, id_b, n_shared, n_a, n_b,
       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm,
       id_b = id_a + 1000000 AS is_planted_pair
FROM scored
WHERE jaccard_ppm >= 600000
ORDER BY jaccard_ppm DESC, id_a, id_b
LIMIT 25
"""


@register(
    "j_fuzzy_name_trigram",
    oracle=_TRGM_ORACLE,
    tags=("J10", "J1", "F1", "N1", "O2"),
)
def j_fuzzy_name_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join on part names via character-trigram Jaccard —
    the pg_trgm / record-linkage shape: candidate pairs come ONLY from
    shared trigrams (blocked equi-join, never name × name), then exact
    set-Jaccard ≥ 0.6 confirms. Planted tail-edited copies (last two
    characters replaced, same key + 10⁶ offset) prove the matcher
    catches real near-misses, not just equality.

    Scale design: per-name DISTINCT trigrams are a map-only explode;
    frequent trigrams (document frequency > 60 — 'ing', spaces) are
    dropped BEFORE the pair join, the stop-gram cut that bounds
    fan-out exactly like the winnowing/apriori cuts; Jaccard is exact
    integer ppm via |A∩B| / (|A|+|B|−|A∩B|). The %20 sample bounds the
    demo corpus; at scale the same plan runs on the full catalog
    because every stage is an equi-join or combinable count."""
    part = load_table(spark, sf_dir, "part")
    base = part.filter(F.col("p_partkey") % 20 == 0).select(
        F.col("p_partkey").alias("id"), F.lower(F.col("p_name")).alias("nm")
    )
    planted = part.filter(F.col("p_partkey") % 40 == 0).select(
        (F.col("p_partkey") + 1000000).alias("id"),
        F.concat(
            F.lower(F.expr("SUBSTR(p_name, 1, LENGTH(p_name) - 2)")),
            F.lit("xy"),
        ).alias("nm"),
    )
    names = base.unionAll(planted)
    grams = (
        names.select(
            "id",
            F.explode(
                F.sequence(F.lit(1), F.length("nm") - 2)
            ).alias("i"),
            "nm",
        )
        .select("id", F.expr("SUBSTR(nm, i, 3)").alias("g"))
        .dropDuplicates()
    )
    sizes = grams.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    rare = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 60)
        .select("g")
    )
    a = grams.select(F.col("id").alias("id_a"), "g").join(rare, "g")
    b = grams.select(F.col("id").alias("id_b"), "g")
    shared = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_g").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_g").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_ppm",
            F.expr("n_shared * 1000000 DIV (n_a + n_b - n_shared)").cast(
                "long"
            ),
        )
        .filter(F.col("jaccard_ppm") >= 600000)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            "n_a",
            "n_b",
            "jaccard_ppm",
            (F.col("id_b") == F.col("id_a") + 1000000).alias(
                "is_planted_pair"
            ),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "id_a", "id_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Point-in-polygon join (integer ray casting against a broadcast edge set)
# ---------------------------------------------------------------------------

_PIP_EDGES = [
    # (poly, x1, y1, x2, y2) — closed rings; one concave (L-shape) so the
    # parity rule is actually exercised beyond convex membership.
    ("square", 1000, 1000, 4000, 1000),
    ("square", 4000, 1000, 4000, 4000),
    ("square", 4000, 4000, 1000, 4000),
    ("square", 1000, 4000, 1000, 1000),
    ("triangle", 5000, 5000, 9000, 5500),
    ("triangle", 9000, 5500, 7000, 9000),
    ("triangle", 7000, 9000, 5000, 5000),
    ("lshape", 500, 6000, 3500, 6000),
    ("lshape", 3500, 6000, 3500, 7500),
    ("lshape", 3500, 7500, 2000, 7500),
    ("lshape", 2000, 7500, 2000, 9500),
    ("lshape", 2000, 9500, 500, 9500),
    ("lshape", 500, 9500, 500, 6000),
]

_PIP_EDGES_SQL = ", ".join(
    f"('{p}', {x1}, {y1}, {x2}, {y2})" for p, x1, y1, x2, y2 in _PIP_EDGES
)

_PIP_ORACLE = f"""
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 48271) % 10000 AS px,
         (c_custkey * 69621) % 10000 AS py
  FROM customer
),
edges(poly, x1, y1, x2, y2) AS (VALUES {_PIP_EDGES_SQL}),
crossings AS (
  SELECT p.c_custkey, e.poly,
         CASE WHEN (e.y1 > p.py) <> (e.y2 > p.py)
              AND CASE WHEN e.y2 - e.y1 > 0
                       THEN (p.px - e.x1) * (e.y2 - e.y1)
                            < (p.py - e.y1) * (e.x2 - e.x1)
                       ELSE (p.px - e.x1) * (e.y2 - e.y1)
                            > (p.py - e.y1) * (e.x2 - e.x1)
                  END
              THEN 1 ELSE 0 END AS crossed
  FROM pts p CROSS JOIN edges e
),
inside AS (
  SELECT c_custkey, poly, SUM(crossed) % 2 AS parity
  FROM crossings GROUP BY c_custkey, poly
)
SELECT i.poly,
       CAST(SUM(i.parity) AS BIGINT) AS points_inside,
       ROUND(SUM(i.parity) * 1.0 / COUNT(*), 6) AS share
FROM inside i
GROUP BY i.poly
ORDER BY i.poly
"""


@register(
    "j_point_in_polygon",
    oracle=_PIP_ORACLE,
    tags=("J7", "J9", "A1", "F3"),
)
def j_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computational-geometry join: classify synthetic customer points
    against a polygon set (one concave) by ray casting — the crossing
    count of a +x ray against each edge, ALL IN EXACT INTEGER ARITHMETIC
    (the x-intersection comparison is cross-multiplied by the edge's dy
    instead of divided, sign-flipped when dy < 0), so parity is
    hash-exact with no float geometry anywhere.

    Scale: the polygon edge set is a broadcast literal (13 rows); the
    per-point work is a map-side nested-loop against it followed by one
    combinable (point, poly) parity rollup — no shuffle of the points
    beyond the final per-polygon aggregate. The standard pre-filter at
    planet scale (bbox grid-cell equi-join before exact ray cast) is the
    same shape as j_spatial_grid_nn's bucketing.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 10000).alias("px"),
        ((F.col("c_custkey") * 69621) % 10000).alias("py"),
    )
    edges = broadcast(
        spark.createDataFrame(
            _PIP_EDGES, "poly string, x1 long, y1 long, x2 long, y2 long"
        )
    )
    dy = F.col("y2") - F.col("y1")
    lhs = (F.col("px") - F.col("x1")) * dy
    rhs = (F.col("py") - F.col("y1")) * (F.col("x2") - F.col("x1"))
    crossed = (
        F.when(
            ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py")))
            & F.when(dy > 0, lhs < rhs).otherwise(lhs > rhs),
            1,
        ).otherwise(0)
    ).alias("crossed")
    inside = (
        c.crossJoin(edges)
        .select("c_custkey", "poly", crossed)
        .groupBy("c_custkey", "poly")
        .agg((F.sum("crossed") % 2).alias("parity"))
    )
    return (
        inside.groupBy("poly")
        .agg(
            F.sum("parity").cast("bigint").alias("points_inside"),
            F.round(F.sum("parity") * 1.0 / F.count(F.lit(1)), 6).alias(
                "share"
            ),
        )
        .orderBy("poly")
    )


# --- J4, third wave: chained semi joins --------------------------------------

_DOUBLE_SEMI_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(c_custkey) AS BIGINT) AS min_custkey
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders
                    WHERE o_orderpriority = '1-URGENT')
  AND c_custkey IN (SELECT o_custkey FROM orders
                    WHERE o_orderpriority = '5-LOW')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register(
    "j_double_semi_customers",
    oracle=_DOUBLE_SEMI_ORACLE,
    tags=("J4", "A1", "P2"),
)
def j_double_semi_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4, third wave: CHAINED left-semi joins — customers who placed at
    least one urgent AND at least one low-priority order. Each semi join
    is existence-only (no fan-out, no duplicate customers however many
    qualifying orders exist), which is exactly why stacking them is
    safe; the same intent as two INs with an AND, and the plan shows two
    LeftSemi hash joins feeding one aggregation.

    Scale: the build sides are filtered order keys (pushed predicates),
    each semi join shuffles on the key once; no intermediate blow-up by
    construction."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .join(low, F.col("c_custkey") == low.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("c_custkey").cast("long").alias("min_custkey"),
        )
        .orderBy("c_mktsegment")
    )


# --- J8, third wave: as-of join with a tolerance bound -----------------------

_ASOF_TOL_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
last_click AS (
  SELECT p.event_id,
         MAX(c.ts) AS click_ts
  FROM purchases p
  JOIN events c
    ON c.event_type = 'click' AND c.user_id = p.user_id
   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 2 HOUR
  GROUP BY p.event_id
)
SELECT CAST(COUNT(*) AS BIGINT)                         AS n_purchases,
       CAST(COUNT(click_ts) AS BIGINT)                  AS n_matched,
       CAST(SUM(CASE WHEN click_ts IS NOT NULL
                     THEN EPOCH_US(p.ts) // 1000000 - EPOCH_US(click_ts) // 1000000
                     ELSE 0 END) AS BIGINT)             AS total_gap_s
FROM purchases p LEFT JOIN last_click lc ON p.event_id = lc.event_id
"""


@register(
    "j_asof_bucketed_tolerance",
    oracle=_ASOF_TOL_ORACLE,
    tags=("J8", "J7", "A2", "W3"),
)
def j_asof_bucketed_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8, third wave: as-of join WITH A TOLERANCE (pandas
    merge_asof(tolerance=...) semantics): each purchase takes the most
    recent click by the same user within a 2-hour lookback, else stays
    unmatched. Unlike j_asof_tolerance above (union-tag + post-filter,
    whose state is the single carried latest-click), this is the
    BUCKETED range-join plan:
    events bucket to 2-hour cells, clicks replicate to (cell, cell+1) so
    every in-tolerance pair co-locates, then one equi-join on (user,
    cell) + exact time predicate + per-purchase MAX. Work is bounded per
    (user, 2h cell) — the replication factor is exactly 2."""
    events = load_table(spark, sf_dir, "events")
    cell = lambda c: F.floor(F.unix_seconds(F.col(c).cast("timestamp")) / 7200)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", cell("ts").alias("cell")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        cell("ts").alias("c_cell"),
    )
    repl = clicks.unionByName(
        clicks.withColumn("c_cell", F.col("c_cell") + 1)
    )
    matched = (
        purchases.join(
            repl,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("cell") == F.col("c_cell"))
            & (F.col("click_ts") <= F.col("ts"))
            & (
                F.col("click_ts")
                >= F.col("ts") - F.expr("INTERVAL 2 HOURS")
            ),
        )
        .groupBy("event_id")
        .agg(F.max("click_ts").alias("click_ts"))
    )
    joined = purchases.join(matched, "event_id", "left")
    gap_s = (
        F.unix_seconds(F.col("ts").cast("timestamp"))
        - F.unix_seconds(F.col("click_ts").cast("timestamp"))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.count("click_ts").cast("long").alias("n_matched"),
        F.sum(F.when(F.col("click_ts").isNotNull(), gap_s).otherwise(0))
        .cast("long")
        .alias("total_gap_s"),
    )


# --- J4/O4, fourth wave: semi-join cohorts combined with EXCEPT -------------

_SEMI_EXCEPT_ORACLE = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
)
AND s_suppkey NOT IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_returnflag = 'R' AND l_quantity > 49
)
ORDER BY s_suppkey
"""


@register(
    "j_semi_except_suppliers",
    oracle=_SEMI_EXCEPT_ORACLE,
    tags=("J4", "O4", "P7", "P4"),
)
def j_semi_except_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/O4, fourth wave: the clean-supplier cohort — suppliers who
    shipped in 1995 (left SEMI join: existence only, no fan-out) minus
    suppliers with a max-quantity returned line, combined with EXCEPT
    at KEY cardinality (the set op runs on deduped suppkeys, never on the fact
    table), then re-joined to supplier for display attributes.

    Scale: both cohort probes are semi joins on the fact table (hash
    relation = supplier keys, bounded); EXCEPT on two key sets is a
    shuffle at supplier cardinality, orders of magnitude below the
    lineitem scan that feeds it."""
    supplier = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    keys = supplier.select("s_suppkey")
    active95 = keys.join(
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
        ).select(F.col("l_suppkey").alias("s_suppkey")),
        "s_suppkey",
        "left_semi",
    )
    returned = keys.join(
        li.filter(
            (F.col("l_returnflag") == "R") & (F.col("l_quantity") > 49)
        ).select(F.col("l_suppkey").alias("s_suppkey")),
        "s_suppkey",
        "left_semi",
    )
    clean = active95.exceptAll(returned)  # both sides key-distinct already
    return (
        clean.join(F.broadcast(supplier.select("s_suppkey", "s_name")), "s_suppkey")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# --- J8/J7, fourth wave: as-of join to a gapped monthly benchmark -----------

_ASOF_BENCH_ORACLE = """
WITH monthly AS (
  SELECT CAST(EXTRACT(YEAR FROM l_shipdate) * 12
              + EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS midx,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS rev_micro
  FROM lineitem
  GROUP BY midx
),
bench AS (
  SELECT midx, rev_micro FROM monthly
  WHERE rev_micro > (SELECT AVG(rev_micro) FROM monthly)
),
cand AS (
  SELECT o_orderkey,
         CAST(EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS oidx
  FROM orders
),
matched AS (
  SELECT o_orderkey, MAX(oidx) AS oidx, MAX(b.midx) AS bidx
  FROM cand c JOIN bench b ON b.midx BETWEEN c.oidx - 3 AND c.oidx
  GROUP BY o_orderkey
)
SELECT bidx,
       CAST(COUNT(*) AS BIGINT)           AS n_orders,
       CAST(SUM(oidx - bidx) AS BIGINT)   AS gap_months_sum
FROM matched
GROUP BY bidx
ORDER BY bidx
"""


@register(
    "j_asof_monthly_benchmark",
    oracle=_ASOF_BENCH_ORACLE,
    tags=("J8", "J7", "A1", "F2"),
)
def j_asof_monthly_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/J7, fourth wave: backward as-of join against a GAPPED
    benchmark calendar — only above-average revenue months publish a
    benchmark, so most orders must look PAST their own month (the gap
    makes the as-of real; a dense calendar would degenerate to an equi
    join). Each order matches the latest benchmark month within a
    3-month tolerance; unmatched orders drop, exactly like
    merge_asof(tolerance=3).

    Scale: the banded decomposition — explode a bounded 0..3 offset
    sequence (replication factor exactly 4), equi-join on the candidate
    month, per-order argmax — turns the inequality join into a shuffle
    equi-join; no range-theta BNLJ, no window over the fact table.
    (oidx, bidx) are exact month ordinals, so the per-order MAX and the
    group rollup are integer-deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    monthly = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("midx")
    ).agg(
        F.sum(
            cents(F.col("l_extendedprice"))
            * (F.lit(100) - cents(F.col("l_discount")))
        ).alias("rev_micro")
    )
    avg_rev = monthly.agg(F.avg("rev_micro").alias("bar"))
    bench = (
        monthly.crossJoin(F.broadcast(avg_rev))
        .filter(F.col("rev_micro") > F.col("bar"))
        .select("midx")
    )
    cand = orders.select(
        "o_orderkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("oidx"),
    ).withColumn("probe_midx", F.explode(F.sequence(F.lit(0), F.lit(3))))
    matched = (
        cand.withColumn("probe_midx", F.col("oidx") - F.col("probe_midx"))
        .join(F.broadcast(bench), F.col("probe_midx") == F.col("midx"))
        .groupBy("o_orderkey")
        .agg(F.max("oidx").alias("oidx"), F.max("midx").alias("bidx"))
    )
    return (
        matched.groupBy("bidx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("oidx") - F.col("bidx")).cast("long").alias(
                "gap_months_sum"
            ),
        )
        .orderBy("bidx")
    )


# --- J6+J8+J4, fifth wave: as-of enrichment through a geography star ----------

_STAR_ASOF_ORACLE = """
SELECT
  r_name,
  CAST(COUNT(*) AS BIGINT) AS n_errors,
  CAST(SUM(CASE WHEN last_click_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_with_prior_click,
  CAST(COALESCE(SUM(EPOCH_US(ts) - EPOCH_US(last_click_ts)), 0) AS BIGINT)
    AS gap_us_sum
FROM (
  SELECT e.ts,
         (SELECT MAX(c.ts) FROM events c
           WHERE c.user_id = e.user_id AND c.event_type = 'click'
             AND c.ts <= e.ts) AS last_click_ts,
         e.user_id
  FROM events e
  WHERE e.event_type = 'error'
    AND EXISTS (SELECT 1 FROM events p
                 WHERE p.user_id = e.user_id AND p.event_type = 'purchase')
) err
JOIN customer ON err.user_id = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register(
    "j_star_asof_region_enrich",
    oracle=_STAR_ASOF_ORACLE,
    tags=("J6", "J8", "J4"),
)
def j_star_asof_region_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+J8+J4, fifth wave: error events of users who ever purchased
    (LEFT SEMI), each enriched with the user's last prior click (as-of
    backward join), rolled up through the customer -> nation -> region
    star to per-region error counts and total error-to-click gap.

    Scale: the semi join reduces the fact side FIRST (purchasers only),
    the as-of is the union-tag + one-sort-per-user rewrite
    (operators/asof.py — no per-row range probe), and the three
    dimension hops broadcast (customer is the largest and still dim-
    sized relative to events). One fact sort + three broadcast joins +
    one combinable rollup; gaps summed in exact integer microseconds."""
    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    purchasers = events.filter(F.col("event_type") == "purchase").select("user_id")
    errors = (
        events.filter(F.col("event_type") == "error")
        .join(purchasers, "user_id", "left_semi")
        .select("event_id", "user_id", "ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    enriched = asof_join(
        left=errors, right=clicks, on="user_id",
        left_time="ts", right_time="click_ts",
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        enriched.join(broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_errors"),
            F.sum(F.when(F.col("click_ts").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_prior_click"),
            F.coalesce(
                F.sum(
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("click_ts").cast("timestamp"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("gap_us_sum"),
        )
    )


# --- J6+J2+A7, seventh wave: star join with degenerate dimensions -------------

_STAR_DEGENERATE_ORACLE = """
SELECT r_name,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
         AS n_urgent,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, o_orderstatus
"""


@register(
    "j_star_degenerate_dims",
    oracle=_STAR_DEGENERATE_ORACLE,
    tags=("J6", "J2", "A7"),
)
def j_star_degenerate_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6+J2+A7, seventh wave: a multi-way star where two grouping
    attributes are DEGENERATE dimensions — order status and priority
    live on the fact itself, no dimension table exists for them — mixed
    with the real customer->nation->region dimension chain. The rollup
    keys on (region, degenerate status) and the priority census is a
    conditional aggregate (FILTER), the Kimball degenerate-dim pattern.

    Scale: nation/region broadcast (25/5 rows); customer joins on the
    shuffled fact key; the degenerate attributes add ZERO join work —
    that is the point of modeling them as fact columns. One combinable
    shuffle agg on a bounded key grid."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    star = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return star.groupBy("r_name", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
        .cast("long")
        .alias("n_urgent"),
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("total_cents"),
    )


# --- J8+W2, seventh wave: as-of join to an irregular rate spine ---------------

_ASOF_RATE_ORACLE = """
WITH spine AS (
  SELECT t.tier, k.k,
         DATE '1992-01-01' + INTERVAL (k.k * 31 + t.tier * 3) DAY AS snap_date,
         9500 + (k.k * 37 + t.tier * 11) % 1000 AS rate_bp
  FROM generate_series(0, 7) AS t(tier), generate_series(0, 84) AS k(k)
),
spine_lag AS (
  SELECT tier, snap_date, rate_bp,
         rate_bp - LAG(rate_bp) OVER (PARTITION BY tier ORDER BY snap_date)
           AS rate_change_bp
  FROM spine
),
li AS (
  SELECT l_suppkey % 8 AS tier, l_shipdate,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
matched AS (
  SELECT li.tier, li.cents, s.rate_bp, s.rate_change_bp
  FROM li ASOF LEFT JOIN spine_lag s
    ON li.tier = s.tier AND li.l_shipdate >= s.snap_date
)
SELECT tier,
       CAST(COUNT(*) AS BIGINT)                       AS n_items,
       CAST(SUM(cents) AS BIGINT)                     AS raw_cents,
       CAST(SUM(cents * rate_bp // 10000) AS BIGINT)  AS conv_cents,
       CAST(COUNT(*) FILTER (WHERE rate_change_bp > 0) AS BIGINT)
         AS n_on_rising_rate
FROM matched
WHERE rate_bp IS NOT NULL
GROUP BY tier
"""


@register(
    "j_asof_rate_spine",
    oracle=_ASOF_RATE_ORACLE,
    tags=("J8", "W2", "F2"),
)
def j_asof_rate_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8+W2, seventh wave: backward as-of join of the lineitem fact to
    an IRREGULAR rate spine (8 tiers x 85 snapshots at 31-day strides
    offset per tier — snapshot dates do NOT align to any calendar
    truncation, so no group-on-month shortcut exists; this is the FX /
    cost-restatement shape). The spine carries a LAG-computed
    rate_change_bp (W2) so each matched item also knows whether its
    carried rate was a restatement upward. Conversion is exact integer
    basis-point math per row, summed after.

    Scale: the union-tag + window asof rewrite (operators/asof.py) is
    one sort per tier — no per-row range probe, no row explosion; the
    spine is 680 rows built from sequence() with zero driver loops.
    Items shipped before a tier's first snapshot carry NULL and are
    excluded on both sides (pinned semantics)."""
    from ..operators.asof import asof_join

    tiers = spark.range(8).select(F.col("id").cast("long").alias("tier"))
    ks = spark.range(85).select(F.col("id").cast("long").alias("k"))
    spine = (
        tiers.crossJoin(ks)
        .select(
            "tier",
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                (F.col("k") * 31 + F.col("tier") * 3).cast("int"),
            ).alias("snap_date"),
            (9500 + (F.col("k") * 37 + F.col("tier") * 11) % 1000)
            .cast("long")
            .alias("rate_bp"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("tier").orderBy("snap_date")
    spine = spine.withColumn(
        "rate_change_bp", F.col("rate_bp") - F.lag("rate_bp").over(w)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 8).cast("long").alias("tier"),
        "l_shipdate",
        cents(F.col("l_extendedprice")).alias("cents"),
    )
    matched = asof_join(
        left=li,
        right=spine,
        on="tier",
        left_time="l_shipdate",
        right_time="snap_date",
    )
    return (
        matched.filter(F.col("rate_bp").isNotNull())
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.sum(
                F.expr("CAST(cents * rate_bp DIV 10000 AS BIGINT)")
            ).cast("long").alias("conv_cents"),
            F.count(F.when(F.col("rate_change_bp") > 0, 1))
            .cast("long")
            .alias("n_on_rising_rate"),
        )
    )


# --- J4+J6, seventh wave (depth): semi-filtered star rollup -------------------

_SEMI_STAR_ORACLE = """
SELECT r_name,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45
)
GROUP BY r_name, o_orderpriority
"""


@register(
    "j_semi_star_bulk_orders",
    oracle=_SEMI_STAR_ORACLE,
    tags=("J4", "J6"),
)
def j_semi_star_bulk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+J6, seventh wave depth: the fact is REDUCED FIRST by a LEFT
    SEMI join against the bulk-line keys (any line with quantity >= 45
    — existence, not enrichment: no lineitem columns flow, no fan-out
    on multi-line orders), and only the survivors walk the
    customer->nation->region star. Semi-before-star is the scale-
    correct order: the dimension hops touch the reduced fact, and the
    semi side collapses to distinct keys inside the join.

    Scale: one shuffle for the semi (key-only, no payload), one for
    the customer join; nation/region broadcast; rollup on a bounded
    (region x priority) grid."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 45
    ).select("l_orderkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    bulk = o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
    star = (
        bulk.join(c, bulk.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return star.groupBy("r_name", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("total_cents"),
    )


# === Eighth wave (round 10): J-row depth restocks ==============================

# --- J4+J5+J6+A6, eighth wave: semi/anti star census with share HAVING ---------

_SEMI_ANTI_STAR_ORACLE = """
WITH urgent AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
flagged AS (
  SELECT c.c_custkey, c.c_acctbal, n.n_name, r.r_name,
         CASE WHEN u.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_urgent
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  LEFT JOIN urgent u ON c.c_custkey = u.o_custkey
),
census AS (
  SELECT r_name, n_name,
         CAST(SUM(has_urgent) AS BIGINT)            AS n_with_urgent,
         CAST(SUM(1 - has_urgent) AS BIGINT)        AS n_without_urgent,
         CAST(SUM(CASE WHEN has_urgent = 1
                  THEN CAST(ROUND(c_acctbal * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT)            AS urgent_bal_cents,
         CAST(COUNT(*) AS BIGINT)                   AS n_customers
  FROM flagged
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, n_with_urgent, n_without_urgent, urgent_bal_cents
FROM census
WHERE n_with_urgent * 10 >= n_customers * 4
"""


@register(
    "j_star_semi_anti_census",
    oracle=_SEMI_ANTI_STAR_ORACLE,
    tags=("J4", "J5", "J6", "A6"),
)
def j_star_semi_anti_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+J5+J6+A6, eighth wave: LEFT SEMI and LEFT ANTI against the
    same probe set composed inside one multi-way star — customers WITH
    at least one urgent order (semi) and WITHOUT any (anti; every
    customer has SOME order in this generator, so the probe is the
    urgent subset to keep the anti side non-vacuous), both enriched
    through the nation->region broadcast star, unioned into one census,
    and a HAVING keeping nations where >=40% of customers have an
    urgent order (cross-multiplied integers — scale-invariant).

    Scale: the urgent-custkey set is DISTINCT-reduced before both
    probes (one shuffle), then each probe is a broadcast-able semi/anti
    hash join; the dims are classic broadcast; no fact-fact shuffle
    join anywhere."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    with_u = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
    without_u = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
    flagged = with_u.withColumn("has_urgent", F.lit(1)).unionByName(
        without_u.withColumn("has_urgent", F.lit(0))
    )
    star = flagged.join(
        F.broadcast(n), flagged.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
    census = star.groupBy("r_name", "n_name").agg(
        F.sum("has_urgent").cast("long").alias("n_with_urgent"),
        F.sum(1 - F.col("has_urgent")).cast("long").alias("n_without_urgent"),
        F.sum(
            F.when(F.col("has_urgent") == 1, cents(F.col("c_acctbal"))).otherwise(
                0
            )
        )
        .cast("long")
        .alias("urgent_bal_cents"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
    )
    return census.filter(
        F.col("n_with_urgent") * 10 >= F.col("n_customers") * 4
    ).select(
        "r_name", "n_name", "n_with_urgent", "n_without_urgent",
        "urgent_bal_cents",
    )


# --- J8+S2, eighth wave: as-of join against a CSV-round-tripped rate table -----

_ASOF_CSV_ORACLE = """
WITH spine AS (
  SELECT z.z AS zone,
         DATE '1992-01-01' + INTERVAL (k.k * 7) DAY AS eff_date,
         9700 + (k.k * 53 + z.z * 17) % 600 AS rate_bp
  FROM generate_series(0, 3) AS z(z), generate_series(0, 370) AS k(k)
),
o2 AS (
  SELECT o_orderpriority, o_custkey % 4 AS zone, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
matched AS (
  SELECT o.o_orderpriority, o.cents, s.rate_bp
  FROM o2 o ASOF LEFT JOIN spine s
    ON o.zone = s.zone AND o.o_orderdate >= s.eff_date
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT)                      AS n_orders,
       CAST(SUM(cents) AS BIGINT)                    AS raw_cents,
       CAST(SUM(cents * rate_bp // 10000) AS BIGINT) AS conv_cents,
       CAST(SUM(CASE WHEN rate_bp < 10000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below_par
FROM matched
WHERE rate_bp IS NOT NULL
GROUP BY o_orderpriority
"""


@register(
    "j_asof_csv_rates",
    oracle=_ASOF_CSV_ORACLE,
    tags=("J8", "S2"),
)
def j_asof_csv_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8+S2, eighth wave: the as-of join with its RATE TABLE arriving
    through a CSV round-trip — a 4-zone x 371-week snapshot spine
    (deterministic integer basis points) is exported to headered CSV,
    read back with an EXPLICIT schema (S2: dates and ints re-typed from
    text, no inference pass — the shape of every 'rates from the
    finance team' feed), and backward-as-of joined to orders on the
    customer's currency zone for exact bp conversion. What this adds
    over j_asof_rate_spine is the sink->scan leg: the as-of operator
    must behave identically when its right side was rebuilt from text,
    i.e. typing comes from the declared schema, not from provenance.

    Scale: the spine is 1484 rows (broadcast side of the asof rewrite);
    CSV decode cost is per-spine-row, irrelevant; one fact pass."""
    from ..operators.asof import asof_join
    from ..sources import scratch_dir

    path = scratch_dir(sf_dir, "weekly_rates_csv")
    zones = spark.range(4).select(F.col("id").cast("long").alias("zone"))
    ks = spark.range(371).select(F.col("id").cast("long").alias("k"))
    spine = zones.crossJoin(ks).select(
        "zone",
        F.date_add(F.lit("1992-01-01").cast("date"), (F.col("k") * 7).cast("int"))
        .alias("eff_date"),
        (9700 + (F.col("k") * 53 + F.col("zone") * 17) % 600)
        .cast("long")
        .alias("rate_bp"),
    )
    spine.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    rates = spark.read.options(header=True).schema(
        "zone long, eff_date date, rate_bp long"
    ).csv(path)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_custkey") % 4).cast("long").alias("zone"),
        "o_orderdate",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    matched = asof_join(
        left=o,
        right=rates,
        on="zone",
        left_time="o_orderdate",
        right_time="eff_date",
    )
    return (
        matched.filter(F.col("rate_bp").isNotNull())
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.sum(F.expr("CAST(cents * rate_bp DIV 10000 AS BIGINT)"))
            .cast("long")
            .alias("conv_cents"),
            F.sum(F.when(F.col("rate_bp") < 10000, 1).otherwise(0))
            .cast("long")
            .alias("n_below_par"),
        )
    )


# --- J8+O1, eighth wave: as-of policy attribution with globally ordered output --

_ASOF_ORDERED_ORACLE = """
WITH spine AS (
  SELECT c.c AS cohort, k.k AS policy_id,
         1704067200000000 + k.k * 64800000000 + c.c * 600000000 AS eff_us
  FROM generate_series(0, 2) AS c(c), generate_series(0, 39) AS k(k)
),
e2 AS (
  SELECT user_id % 3 AS cohort, EPOCH_US(ts) AS ts_us,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
matched AS (
  SELECT e.cohort, s.policy_id, e.cents
  FROM e2 e ASOF LEFT JOIN spine s
    ON e.cohort = s.cohort AND e.ts_us >= s.eff_us
),
census AS (
  SELECT cohort, policy_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS value_cents
  FROM matched
  WHERE policy_id IS NOT NULL
  GROUP BY cohort, policy_id
)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(policy_id AS BIGINT) AS policy_id,
       n_events, value_cents,
       CAST(ROW_NUMBER() OVER (ORDER BY cohort, policy_id) AS BIGINT)
         AS global_pos,
       CAST(SUM(value_cents) OVER (ORDER BY cohort, policy_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_cents
FROM census
"""


@register(
    "j_asof_ordered_spine",
    oracle=_ASOF_ORDERED_ORACLE,
    tags=("J8", "O1"),
)
def j_asof_ordered_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8+O1, eighth wave: backward as-of attribution of events to a
    3-cohort x 40-step policy spine (one step every 18 hours, cohorts
    offset by 10 minutes so boundaries never coincide), with the census
    then put under a GLOBAL TOTAL ORDER — a position index and a
    running value total over (cohort, policy_id) — the 'ledger' shape
    where the output's meaning depends on a cross-partition sort (O1),
    not just per-key ranking. Time is compared as epoch microseconds on
    both sides so the spine needs no timestamp-zone reasoning.

    Scale: the asof rewrite is one sort per cohort; the global order
    runs on the ~120-row census, never the fact; at any data size the
    single-partition window touches |cohorts x policies| rows only."""
    from ..operators.asof import asof_join

    cohorts = spark.range(3).select(F.col("id").cast("long").alias("cohort"))
    ks = spark.range(40).select(F.col("id").cast("long").alias("policy_id"))
    spine = cohorts.crossJoin(ks).select(
        "cohort",
        "policy_id",
        (
            F.lit(1704067200000000)
            + F.col("policy_id") * 64800000000
            + F.col("cohort") * 600000000
        ).alias("eff_us"),
    )
    e = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 3).cast("long").alias("cohort"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        cents(F.col("value")).alias("cents"),
    )
    matched = asof_join(
        left=e,
        right=spine.withColumnRenamed("eff_us", "spine_us"),
        on="cohort",
        left_time="ts_us",
        right_time="spine_us",
    )
    census = (
        matched.filter(F.col("policy_id").isNotNull())
        .groupBy("cohort", "policy_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
    )
    w = Window.orderBy("cohort", "policy_id")
    return census.select(
        "cohort",
        "policy_id",
        "n_events",
        "value_cents",
        F.row_number().over(w).cast("long").alias("global_pos"),
        F.sum("value_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("running_cents"),
    )


# --- J2+J6+S5, ninth wave: partition-pruned star over a scratch sink -----------

_STAR_PRUNE_ORACLE = """
SELECT n_name,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY n_name, o_orderpriority
"""


@register(
    "j_star_prune_broadcast",
    oracle=_STAR_PRUNE_ORACLE,
    tags=("J2", "J6", "S5"),
)
def j_star_prune_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J6+S5, ninth wave: the star join whose FACT arrives through a
    priority-partitioned parquet sink — orders are written
    partitionBy(o_orderpriority) to scratch (S5) and read back with an
    IN filter on the partition column, so the express classes are
    selected by DIRECTORY PRUNING (the scan never opens the other three
    partitions' files), then star-joined to two explicitly broadcast
    dimensions (J2: customer is small at this keying? no — customer is
    the larger dim, so only nation is hinted; the J2 mechanism is the
    hint on nation while AQE independently picks broadcast for customer
    at this scale) in a multi-way chain (J6) and rolled up per (nation,
    priority). Money in exact integer cents.

    Scale: at 100 TB the partition layout IS the predicate index —
    pruning removes 3/5 of the fact before any IO; nation (25 rows)
    broadcasts at any scale, customer would shuffle-hash-join at real
    scale exactly as this declarative plan lets AQE decide."""
    from ..sources import materialize

    path = materialize(
        sf_dir,
        "orders_by_priority",
        lambda p: load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            cents(F.col("o_totalprice")).alias("price_cents"),
            "o_orderpriority",
        )
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(p),
        tables=("orders",),
        params="star-prune-v1",
    )
    fact = spark.read.parquet(path).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        fact.join(c, fact.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("price_cents").cast("long").alias("total_cents"),
        )
    )


# --- J2+J4+J6, ninth wave: semi-gated broadcast star over lineitem -------------

_SEMI_GATE_ORACLE = """
SELECT n_name,
       CAST(YEAR(l_shipdate) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT)         AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l_partkey IN (
  SELECT p_partkey FROM part WHERE p_size BETWEEN 40 AND 50
)
GROUP BY n_name, YEAR(l_shipdate)
"""


@register(
    "j_broadcast_semi_gate",
    oracle=_SEMI_GATE_ORACLE,
    tags=("J2", "J4", "J6"),
)
def j_broadcast_semi_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J4+J6, ninth wave: the lineitem fact is REDUCED FIRST by a
    broadcast LEFT SEMI join against the large-size part slice (J4 — a
    semi join never widens rows, so it is the cheapest possible first
    gate), then flows up the supplier->nation star chain (J6) with the
    25-row nation explicitly broadcast (J2). Revenue uses the exact
    half-away integer-cents rounding of the discounted price, stated
    identically in the oracle.

    Scale: gate-first ordering is the load-bearing choice — the semi
    gate drops ~80% of fact rows before the supplier shuffle; both dims
    after it broadcast (supplier by AQE at this scale, nation by hint
    at any scale). One fact-width shuffle total."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.year("l_shipdate").cast("long").alias("yr"),
        F.expr(
            "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
        ).alias("rev_cents"),
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(40, 50))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    gated = li.join(broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    return (
        gated.join(s, gated.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("rev_cents").cast("long").alias("revenue_cents"),
        )
    )


# --- J8+O1+O4, ninth wave: reporting-calendar as-of with EXCEPT gap audit -------

_ASOF_SPINE_EXCEPT_ORACLE = """
WITH daily AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'express' ELSE 'standard' END AS cls,
         o_orderdate AS day_date,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS day_cents
  FROM orders
  WHERE o_orderkey % 53 = 7
  GROUP BY 1, 2
),
spine AS (
  SELECT c.cls, CAST(DATE '1995-01-07' + INTERVAL (k.k * 7) DAY AS DATE)
           AS week_date
  FROM (VALUES ('express'), ('standard')) AS c(cls),
       generate_series(0, 359) AS k(k)
),
matched AS (
  SELECT s.cls, s.week_date, d.day_date, d.day_cents
  FROM spine s ASOF LEFT JOIN daily d
    ON s.cls = d.cls AND s.week_date >= d.day_date
),
ledger AS (
  SELECT cls, week_date,
         CASE WHEN day_date IS NULL THEN -1
              ELSE DATEDIFF('day', day_date, week_date) END AS carried_age_days,
         COALESCE(day_cents, 0) AS carried_cents,
         CASE WHEN day_date IS NOT NULL
               AND DATEDIFF('day', day_date, week_date) < 7
              THEN 0 ELSE 1 END AS is_gap
  FROM matched
)
SELECT cls,
       CAST(DATEDIFF('day', DATE '1970-01-01', week_date) AS BIGINT)
         AS week_day,
       CAST(ROW_NUMBER() OVER (ORDER BY cls, week_date) AS BIGINT) AS pos,
       CAST(carried_age_days AS BIGINT) AS carried_age_days,
       CAST(carried_cents AS BIGINT)    AS carried_cents,
       CAST(is_gap AS BIGINT)           AS is_gap,
       CAST(SUM(1 - is_gap) OVER (ORDER BY cls, week_date
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS run_fresh
FROM ledger
"""


@register(
    "j_asof_spine_except",
    oracle=_ASOF_SPINE_EXCEPT_ORACLE,
    tags=("J8", "O1", "O4"),
)
def j_asof_spine_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8+O1+O4, ninth wave: the as-of join pointed the REPORTING way —
    the weekly calendar spine is the LEFT side and each week carries
    the latest daily total at-or-before it (every prior as-of query
    attributes facts to a spine; this one snapshots facts onto a
    calendar). The fact is a 1/53 modulo slice so weeks with NO
    activity in their trailing 7 days genuinely exist; those gap weeks
    are derived with exceptAll (O4: all spine weeks minus fresh weeks
    — the set-op output is what feeds the is_gap flag, re-joined by
    key) and the result is a LEDGER under a global total order (O1):
    position index and running fresh-week count over (cls, week), the
    cross-partition sort that gives the rows their meaning.

    Scale: daily pre-aggregation is combinable; the asof rewrite is one
    sort per class; the except and the ledger window run on 720
    calendar rows — bounded by the calendar, never by data size."""
    from ..operators.asof import asof_join

    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 53 == 7)
        .groupBy(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "express"
            )
            .otherwise("standard")
            .alias("cls"),
            F.col("o_orderdate").alias("day_date"),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).cast("long").alias("day_cents"))
    )
    spine = spark.range(360).select(
        F.explode(F.array(F.lit("express"), F.lit("standard"))).alias("cls"),
        F.date_add(F.lit("1995-01-07").cast("date"), (F.col("id") * 7).cast("int"))
        .alias("week_date"),
    )
    matched = asof_join(
        left=spine,
        right=daily,
        on="cls",
        left_time="week_date",
        right_time="day_date",
    )
    ledger = matched.select(
        "cls",
        "week_date",
        F.when(F.col("day_date").isNull(), F.lit(-1))
        .otherwise(F.datediff("week_date", "day_date"))
        .cast("long")
        .alias("carried_age_days"),
        F.coalesce("day_cents", F.lit(0)).cast("long").alias("carried_cents"),
    )
    fresh = ledger.filter(
        (F.col("carried_age_days") >= 0) & (F.col("carried_age_days") < 7)
    ).select("cls", "week_date")
    gaps = spine.select("cls", "week_date").exceptAll(fresh).withColumn(
        "is_gap", F.lit(1).cast("long")
    )
    flagged = ledger.join(gaps, ["cls", "week_date"], "left").withColumn(
        "is_gap", F.coalesce("is_gap", F.lit(0)).cast("long")
    )
    w = Window.orderBy("cls", "week_date")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.select(
        "cls",
        F.datediff("week_date", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("week_day"),
        F.row_number().over(w).cast("long").alias("pos"),
        "carried_age_days",
        "carried_cents",
        "is_gap",
        F.sum(F.lit(1) - F.col("is_gap")).over(wrun).cast("long").alias("run_fresh"),
    )


# --- J8+S4+S5, ninth wave: as-of against a partition-pruned index sink ----------

_ASOF_SINK_RATES_ORACLE = """
WITH idx AS (
  SELECT p.pri,
         DATE '1995-01-01' + (s.seq * INTERVAL 1 MONTH) AS snap_date,
         9000 + (s.seq * 53 + p.ci * 29) % 2000 AS index_bp
  FROM (VALUES ('1-URGENT', 0), ('2-HIGH', 1)) AS p(pri, ci),
       generate_series(0, 83) AS s(seq)
  WHERE s.seq % 3 = 1
),
fact AS (
  SELECT o_orderpriority AS pri, o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
),
matched AS (
  SELECT f.pri, f.o_orderdate, f.price_cents, i.index_bp
  FROM fact f ASOF LEFT JOIN idx i
    ON f.pri = i.pri AND f.o_orderdate >= i.snap_date
)
SELECT pri,
       CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT)          AS n_orders,
       CAST(COUNT(*) FILTER (WHERE index_bp IS NULL) AS BIGINT)
         AS n_unindexed,
       CAST(SUM(price_cents) AS BIGINT)  AS raw_cents,
       CAST(COALESCE(SUM(price_cents * index_bp // 10000)
                     FILTER (WHERE index_bp IS NOT NULL), 0) AS BIGINT)
         AS indexed_cents
FROM matched
GROUP BY 1, 2
"""


@register(
    "j_asof_sink_rates",
    oracle=_ASOF_SINK_RATES_ORACLE,
    tags=("J8", "S4", "S5"),
)
def j_asof_sink_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8+S4+S5, ninth wave: as-of restatement where BOTH join inputs
    arrive through scratch parquet sinks — the quarterly index table
    (formula-generated: snapshots only at months seq%3==1, so the carry
    genuinely spans months) is written partitionBy(pri) and read back
    with an IN filter that directory-prunes to the two express classes
    (S5), while the fact subset round-trips a plain parquet sink (S4).
    January-1995 orders predate the first snapshot and carry NULL —
    counted as n_unindexed and excluded from the indexed sum with the
    same FILTER semantics on both sides.

    Scale: at 100 TB the index sink is the published reference-data
    table (tiny, partition-pruned, broadcast into the asof rewrite);
    the fact sink models the staged ingest layer. The asof rewrite is
    one sort per class; integer basis-point math per row."""
    from ..operators.asof import asof_join
    from ..sources import materialize

    pris = [("1-URGENT", 0), ("2-HIGH", 1)]

    def build_index(path: str) -> None:
        idx = (
            spark.range(84)
            .filter(F.col("id") % 3 == 1)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(p).alias("pri"), F.lit(ci).alias("ci"))
                            for p, ci in pris
                        ]
                    )
                ).alias("pc"),
                F.col("id").alias("seq"),
            )
            .select(
                F.col("pc.pri").alias("pri"),
                F.add_months(
                    F.lit("1995-01-01").cast("date"), F.col("seq").cast("int")
                ).alias("snap_date"),
                (9000 + (F.col("seq") * 53 + F.col("pc.ci") * 29) % 2000)
                .cast("long")
                .alias("index_bp"),
            )
        )
        idx.write.mode("overwrite").partitionBy("pri").parquet(path)

    idx_path = materialize(
        sf_dir, "rate_index_by_pri", build_index, params="asof-sink-idx-v1"
    )
    fact_path = materialize(
        sf_dir,
        "express_orders_plain",
        lambda p: load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(
            F.col("o_orderpriority").alias("pri"),
            "o_orderdate",
            cents(F.col("o_totalprice")).alias("price_cents"),
        )
        .write.mode("overwrite")
        .parquet(p),
        tables=("orders",),
        params="asof-sink-fact-v1",
    )
    idx_back = read_parquet(spark, idx_path).filter(
        F.col("pri").isin("1-URGENT", "2-HIGH")
    ).select("pri", "snap_date", "index_bp")
    fact_back = read_parquet(spark, fact_path)
    matched = asof_join(
        left=fact_back,
        right=idx_back,
        on="pri",
        left_time="o_orderdate",
        right_time="snap_date",
    )
    return matched.groupBy(
        "pri", F.year("o_orderdate").cast("long").alias("yr")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count(F.when(F.col("index_bp").isNull(), 1))
        .cast("long")
        .alias("n_unindexed"),
        F.sum("price_cents").cast("long").alias("raw_cents"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("index_bp").isNotNull(),
                    F.expr("CAST(price_cents * index_bp DIV 10000 AS BIGINT)"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("indexed_cents"),
    )
