"""E2 entry point (SURVEY.md §3.2): queries expressed as SQL STRINGS over
the registered temp views — Spark's ANTLR parser → the same Catalyst
plan the DataFrame API builds. Views are named identically to the
DuckDB oracle's, so engine SQL and oracle SQL read near-identically
(they differ only where dialect forces it, e.g. integer-cents casts).

Also covers the rewrites only the SQL surface exercises: correlated
scalar subqueries and EXISTS/NOT EXISTS (decorrelated by Catalyst into
aggregated joins — verify with .explain(): no per-row subplan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_tables
from ..registry import register
from ..session import scoped_confs

#: TPC-H Q3 shape. Revenue in integer cents: the join reorders rows, so
#: a raw double SUM would differ between engines by summation order.
_Q3 = """
SELECT
  o_orderkey,
  SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
    / CAST(100 AS DOUBLE) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register("sql_q3_shipping_priority", oracle=_Q3, tags=("E2", "J6", "O2"))
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q3)


#: Correlated scalar subquery: customers above their segment's average
#: balance. The comparison runs in integer cents so the averaged double
#: is bit-identical on both engines (sum of longs / count).
_CORR = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > (
  SELECT AVG(CAST(ROUND(c2.c_acctbal * 100) AS BIGINT))
  FROM customer c2
  WHERE c2.c_mktsegment = c.c_mktsegment
)
"""


@register("sql_correlated_scalar_subquery", oracle=_CORR, tags=("E2",))
def sql_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_CORR)


#: EXISTS + NOT EXISTS in one query: nations that have customers but no
#: supplier in arrears (negative balance). Catalyst decorrelates into
#: semi/anti joins (J4/J5 via SQL). Every nation has suppliers in this
#: data, so the anti arm filters on balance to stay non-vacuous.
_EXISTS = """
SELECT n_nationkey, n_name
FROM nation n
WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal < 0)
"""


@register("sql_exists_not_exists", oracle=_EXISTS, tags=("E2", "J4", "J5"))
def sql_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_EXISTS)


#: IN-subquery with aggregation inside: orders whose priciest lineitem
#: part is a large-size part.
_IN_SUB = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 48)
)
"""


@register("sql_in_subquery", oracle=_IN_SUB, tags=("E2", "J4"))
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_IN_SUB)


#: TPC-H Q2 shape: min-cost supplier per part via a correlated subquery
#: over a multi-join — the classic nested-subquery planning test.
#: (Supplier "cost" is s_acctbal here: the schema has no partsupp table,
#: so suppliers pair with parts through lineitem.)
_Q2 = """
SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE p.p_size >= 45
  AND s.s_acctbal = (
    SELECT MIN(s2.s_acctbal)
    FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    WHERE l2.l_partkey = p.p_partkey
  )
GROUP BY p.p_partkey, p.p_name, s.s_name, s.s_acctbal
"""


@register("sql_q2_min_cost_supplier", oracle=_Q2, tags=("E2", "J6"))
def sql_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q2)


#: TPC-H Q19 shape: disjunction of conjunctive branches over a join —
#: exercises BooleanSimplification, predicate pushdown through the OR,
#: and join-condition extraction. Revenue in integer cents (join
#: reorders rows).
_Q19 = """
SELECT
  SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
    / CAST(100 AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE
  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
     AND l_quantity >= 1 AND l_quantity <= 11)
  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
     AND l_quantity >= 10 AND l_quantity <= 20)
  OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
     AND l_quantity >= 20 AND l_quantity <= 30)
"""


@register("sql_q19_disjunctive_filter", oracle=_Q19, tags=("E2", "P3", "J1"))
def sql_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q19)


#: TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share).
#: Both the numerator and denominator are integer-cents sums, so the
#: final single division is bit-identical across engines.
_Q14 = """
SELECT
  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
           THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           ELSE 0 END) AS DOUBLE)
  / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
    AS promo_revenue_share,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
"""


@register("sql_q14_promo_share", oracle=_Q14, tags=("E2", "A7"))
def sql_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q14)


#: TPC-H Q4 shape: order-priority counts for orders with at least one
#: late lineitem in a date window — EXISTS + date-range pushdown.
_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("sql_q4_priority_exists", oracle=_Q4, tags=("E2", "J4"))
def sql_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q4)


#: TPC-H Q10 shape: revenue lost to returned items, per customer+nation.
_Q10 = """
SELECT c_custkey, c_name, n_name,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         / CAST(100 AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("sql_q10_returned_items", oracle=_Q10, tags=("E2", "J6", "O2"))
def sql_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q10)


#: TPC-H Q12 shape: late-shipment counts bucketed by priority class.
_Q12 = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


@register("sql_q12_priority_buckets", oracle=_Q12, tags=("E2", "A7"))
def sql_q12_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q12)


#: LATERAL correlated subquery: top-2 most expensive orders per customer
#: for a bounded customer slice. Catalyst plans the correlated LATERAL
#: as a decorrelated join + per-key window, not a per-row re-execution.
_LATERAL_SPARK = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_custkey <= 100
"""

#: DuckDB's LATERAL has the same semantics; the query is dialect-shared.
_LATERAL_ORACLE = _LATERAL_SPARK


@register("sql_lateral_topk", oracle=_LATERAL_ORACLE, tags=("E2", "J6", "W4"))
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_LATERAL_SPARK)


#: stack()/inline(): SQL-side row generators — the UNPIVOT primitive as
#: a TVF. stack(3, ...) turns one region row into three (metric, value)
#: rows; the oracle reproduces it with UNION ALL (DuckDB has no stack).
_STACK_SPARK = """
SELECT r_regionkey, metric, val
FROM region,
LATERAL stack(3,
  'key_x2',   r_regionkey * 2,
  'key_sq',   r_regionkey * r_regionkey,
  'key_neg',  -r_regionkey
) AS t(metric, val)
"""

_STACK_ORACLE = """
SELECT r_regionkey, 'key_x2' AS metric, r_regionkey * 2 AS val FROM region
UNION ALL
SELECT r_regionkey, 'key_sq', r_regionkey * r_regionkey FROM region
UNION ALL
SELECT r_regionkey, 'key_neg', -r_regionkey FROM region
"""


@register("sql_stack_tvf", oracle=_STACK_ORACLE, tags=("E2", "F4", "P1"))
def sql_stack_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_STACK_SPARK)


#: SQL pipe syntax (Spark 4.0+): the same Q1-ish aggregation written as
#: a left-to-right operator chain. Parses to the identical Catalyst plan
#: as the nested form — the oracle is that nested form in DuckDB SQL.
_PIPE_SPARK = """
FROM lineitem
|> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
|> AGGREGATE
     COUNT(*) AS n_items,
     SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS price_cents
   GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag, l_linestatus
"""

_PIPE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("sql_pipe_syntax", oracle=_PIPE_ORACLE, tags=("E2", "A1"))
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_PIPE_SPARK)


#: Parameterized SQL: named :param markers bound server-side — the
#: injection-safe API surface. The oracle inlines the same literals.
_PARAM_SPARK = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= :lo AND o_orderdate < :hi AND o_totalprice > :min_price
GROUP BY o_orderpriority
"""

_PARAM_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND o_totalprice > 50000.0
GROUP BY o_orderpriority
"""


@register("sql_parameterized", oracle=_PARAM_ORACLE, tags=("E2", "P4"))
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    load_tables(spark, sf_dir)
    return spark.sql(
        _PARAM_SPARK,
        args={
            "lo": dt.datetime(1996, 1, 1),
            "hi": dt.datetime(1997, 1, 1),
            "min_price": 50000.0,
        },
    )


#: TPC-H Q5 shape (local supplier volume): six-table join where the
#: customer and the supplier must share a nation — the classic test of
#: join ORDER (dims first, fact-fact on keys) and of revenue arithmetic
#: surviving a many-way reorder (integer cents again). Adapted dates to
#: this dataset's 1995-2001 span.
_Q5 = """
SELECT
  n_name,
  SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
    / CAST(100 AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("sql_q5_local_supplier_volume", oracle=_Q5, tags=("E2", "J6", "J1"))
def sql_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q5)


#: TPC-H Q8 shape (national market share): the two-role nation join
#: (supplier's nation vs customer's nation) plus a conditional share
#: aggregate per year — numerator and denominator in one pass. Integer
#: cents for both; the share division happens once per year row.
_Q8 = """
SELECT
  o_year,
  SUM(CASE WHEN nation = 'NATION_2' THEN volume_cents ELSE 0 END)
    / CAST(GREATEST(SUM(volume_cents), 1) AS DOUBLE) AS mkt_share
FROM (
  SELECT
    EXTRACT(YEAR FROM o_orderdate) AS o_year,
    CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS volume_cents,
    n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@register("sql_q8_market_share", oracle=_Q8, tags=("E2", "J6", "A7"))
def sql_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q8)


#: Lateral column aliases (Spark 3.4+): a SELECT item referencing an
#: alias defined earlier in the SAME select list — the spreadsheet-style
#: derivation chain users write constantly; before 3.4 it forced nested
#: subqueries. DuckDB supports the identical syntax, so one SQL text
#: runs on both engines. Elementwise IEEE ops in the same order on the
#: same doubles → bit-equal without integer-cents scaffolding; the final
#: cents cast just pins the money column's type.
_LCA = """
SELECT l_orderkey,
       l_linenumber,
       l_extendedprice * (1 - l_discount)           AS net,
       net * (1 + l_tax)                            AS gross,
       CAST(ROUND(gross * 100) AS BIGINT)           AS gross_cents
FROM lineitem
WHERE l_quantity >= 45
"""


@register("sql_lateral_column_alias", oracle=_LCA, tags=("E2", "P1"))
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_LCA)


#: TPC-H Q20 shape: a semi-join THROUGH a correlated aggregate — which
#: suppliers ever shipped a Brand#3 part in a quantity above half that
#: part's average. The schema has no partsupp, so lineitem stands in as
#: the supply record (same join/decorrelation structure: per-part
#: aggregate -> threshold filter -> DISTINCT supplier keys -> IN
#: semi-join -> dim enrichment). AVG(l_quantity) is exact (integral
#: doubles), so the threshold compare is bit-identical on both engines;
#: the identical SQL text runs on both. Catalyst decorrelates the IN to
#: a left-semi hash join; the per-part aggregate side is tiny (parts of
#: one brand) at any scale.
_Q20 = """
WITH brand_parts AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'
),
limits AS (
  SELECT l_partkey, 0.5 * AVG(l_quantity) AS qty_floor
  FROM lineitem JOIN brand_parts ON p_partkey = l_partkey
  GROUP BY l_partkey
),
qualifying AS (
  SELECT DISTINCT l_suppkey
  FROM lineitem JOIN limits ON lineitem.l_partkey = limits.l_partkey
  WHERE l_quantity > qty_floor
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM qualifying)
ORDER BY s_name, s_suppkey
"""


@register("sql_q20_excess_suppliers", oracle=_Q20, tags=("E2", "J4", "A1"))
def sql_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q20)


#: TPC-H Q13 shape: distribution-of-counts through an OUTER join — how
#: many customers placed exactly k (non-urgent) orders, including the
#: zero-order customers the outer join preserves. Two stacked
#: aggregations: per-customer COUNT over a LEFT JOIN whose filter lives
#: in the JOIN CONDITION (not WHERE — moving it would silently drop the
#: NULL-extended rows), then a distribution GROUP BY over those counts.
#: Scale: both aggs are map-side-combinable; the join shuffles on
#: custkey and AQE handles the skewed zero-bucket. Identical text on
#: both engines; COUNT(o_orderkey) skips NULLs by SQL semantics.
_Q13 = """
WITH c_orders AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("sql_q13_order_count_distribution", oracle=_Q13, tags=("E2", "J3", "A1"))
def sql_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q13)


#: TPC-H Q18 shape: large-volume customers — an IN subquery whose inner
#: query is itself a GROUP BY ... HAVING over the fact table, then a
#: re-join and re-aggregation of the qualifying orders. Catalyst plans
#: the IN as a left-semi join against the aggregated subquery (small:
#: only orders above the quantity floor survive HAVING), so the probe
#: side streams. SUM(l_quantity) is exact (integral doubles); money is
#: integer cents. LIMIT sits under a total order (cents DESC, orderkey).
_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       SUM(l_quantity) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 200
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY totalprice_cents DESC, o_orderkey
LIMIT 100
"""


@register("sql_q18_large_volume_customer", oracle=_Q18, tags=("E2", "J4", "J6", "A6", "O2"))
def sql_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q18)


#: TPC-H Q21 shape: suppliers who were the SOLE returned-flag line on a
#: finished multi-supplier order — one correlated EXISTS plus one
#: correlated NOT EXISTS against the SAME fact table under different
#: aliases (l2/l3), the only classic shape that stacks two
#: opposite-polarity self-correlations. (The schema lacks
#: receipt/commit dates, so `l_returnflag = 'R'` stands in for "late";
#: the join/decorrelation structure is Q21's.) Catalyst decorrelates to
#: a left-semi and a left-anti join on l_orderkey; both build sides are
#: the projected fact keyed by orderkey, shuffled once and reused.
#: No nation filter (driver data has uniform 25 nations; the TPC-H
#: one-nation cut would leave single-digit rows at sf0.001) — the
#: GROUP BY nation keeps the dimensional shape instead.
_Q21 = """
SELECT n_name, s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders     ON o_orderkey = l1.l_orderkey
JOIN nation     ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY n_name, s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("sql_q21_waiting_suppliers", oracle=_Q21, tags=("E2", "J4", "J5", "J10", "A1"))
def sql_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q21)


#: TPC-H Q22 shape: prospects — customers in selected "country code"
#: buckets with above-average balance and NO orders. Stacks an
#: uncorrelated scalar subquery (the global average, broadcast as a
#: one-row build side) on top of a NOT EXISTS anti-join. Determinism:
#: the average is taken over INTEGER CENTS (exact long sum / count, one
#: double division on both engines), so the > compare cannot flip on
#: summation order the way AVG(double) could. (Schema has no c_phone;
#: c_nationkey % 8 stands in for the phone-prefix bucket. Every
#: customer in this dataset has at least one order, so the anti-join is
#: against URGENT orders instead — same NOT EXISTS anti-join plan.)
_Q22 = """
SELECT c_nationkey % 8 AS cntrycode,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
FROM customer
WHERE c_nationkey % 8 IN (1, 3, 5, 7)
  AND CAST(ROUND(c_acctbal * 100) AS BIGINT) > (
    SELECT AVG(CAST(ROUND(c_acctbal * 100) AS BIGINT))
    FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey % 8 IN (1, 3, 5, 7)
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_nationkey % 8
ORDER BY cntrycode
"""


@register("sql_q22_prospect_balance", oracle=_Q22, tags=("E2", "J5", "A1", "A2"))
def sql_q22_prospect_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q22)


#: Spark 4.1 RECURSIVE CTE (SPARK-24497): a month spine generated by
#: recursion from the data's own [min, max] order-date bounds, LEFT
#: JOINed to the monthly revenue rollup so empty months survive as
#: zero rows — the classic calendar-densify, expressed as WITH
#: RECURSIVE instead of sequence()+explode (e_calendar_densify covers
#: that form; this covers the recursion operator itself). The IDENTICAL
#: text runs on DuckDB. Scale: recursion depth = number of months
#: (dozens, driver-side tiny); the only distributed work is the
#: monthly rollup (one map-side-combinable shuffle) and a broadcast
#: join of the tiny spine against it. The upper bound rides IN the
#: recursion state (months carries `hi`) — a scalar subquery in the
#: recursive member would be re-evaluated as a full-table scan on
#: every one of the ~80 iterations (measured 15s -> ~2s at sf0.1).
_RECURSIVE_SPINE = """
WITH RECURSIVE months(m, hi) AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
  FROM orders
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months
  WHERE m < hi
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
)
SELECT CAST(months.m AS TIMESTAMP) AS month_start,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(rev_cents, 0) AS rev_cents
FROM months LEFT JOIN monthly ON months.m = monthly.m
ORDER BY month_start
"""


@register("sql_recursive_cte_spine", oracle=_RECURSIVE_SPINE, tags=("E2", "F2", "J3", "A1"))
def sql_recursive_cte_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_RECURSIVE_SPINE)


#: Spark 4.0 SQL scalar UDFs (CREATE FUNCTION ... RETURN <expr>,
#: SPARK-51201): reusable business logic declared in SQL and INLINED by
#: Catalyst at plan time — unlike Python UDFs there is no serialization
#: boundary, the body participates in whole-stage codegen and predicate
#: pushdown exactly as if written in place. Two functions, one calling
#: the other (net_cents -> gross_cents composition). The oracle is the
#: same query with both bodies hand-inlined — which is precisely the
#: semantics the feature promises, so a hash match proves the inlining.
_SQL_UDF_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS net_cents_sum,
       CAST(SUM(CAST(ROUND(
           (CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) / 100.0)
           * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS gross_cents_sum
FROM lineitem
WHERE l_quantity < 10
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("sql_create_sql_udf", oracle=_SQL_UDF_ORACLE, tags=("E2", "U1", "A1", "F3"))
def sql_create_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION net_cents(price DOUBLE, disc DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(price * (1 - disc) * 100) AS BIGINT)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION gross_cents(price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND((net_cents(price, disc) / 100.0) * (1 + tax) * 100) AS BIGINT)
    """)
    return spark.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               CAST(SUM(net_cents(l_extendedprice, l_discount)) AS BIGINT) AS net_cents_sum,
               CAST(SUM(gross_cents(l_extendedprice, l_discount, l_tax)) AS BIGINT) AS gross_cents_sum
        FROM lineitem
        WHERE l_quantity < 10
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """)


#: Spark 4.0 SQL session variables (DECLARE / SET VAR, SPARK-46908):
#: a data-derived threshold captured once into a session variable by a
#: scalar-subquery SET, then referenced from a later query's WHERE —
#: the multi-statement scripting pattern (parameter sweep, config
#: table) without string interpolation. The threshold is integer cents
#: (exact long sum / count, one double division) so the > compare is
#: bit-stable; the oracle hand-inlines the subquery the variable holds.
_SESSVAR_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_big,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey
FROM orders
WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > (
  SELECT 1.5 * AVG(CAST(ROUND(o_totalprice * 100) AS BIGINT)) FROM orders
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("sql_session_variables", oracle=_SESSVAR_ORACLE, tags=("E2", "P2", "A1"))
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE big_cents DOUBLE DEFAULT 0.0")
    spark.sql("""
        SET VAR big_cents =
          (SELECT 1.5 * AVG(CAST(ROUND(o_totalprice * 100) AS BIGINT)) FROM orders)
    """)
    return spark.sql("""
        SELECT o_orderpriority,
               COUNT(*) AS n_big,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey
        FROM orders
        WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > big_cents
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)


#: IDENTIFIER() clause (Spark 3.5, SPARK-43205): table/column names
#: supplied as DATA (string parameters) without SQL-injection surface —
#: the templated-query pattern for multi-tenant/table-per-day jobs
#: where f-string splicing would be the vulnerability. The identifier
#: is resolved at parse time, so the plan is identical to the literal
#: spelling — which the oracle (literal spelling) proves.
_IDENTIFIER_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("sql_identifier_clause", oracle=_IDENTIFIER_ORACLE, tags=("E2", "P4"))
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol) AS o_orderpriority,
               COUNT(*) AS n,
               CAST(MIN(IDENTIFIER(:kcol)) AS BIGINT) AS min_key
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = 'F'
        GROUP BY IDENTIFIER(:gcol)
        ORDER BY o_orderpriority
        """,
        args={"tbl": "orders", "gcol": "o_orderpriority", "kcol": "o_orderkey"},
    )


#: Spark 4.0 SQL scripting (BEGIN/END compound statements,
#: SPARK-48338): procedural control flow executed BY THE ENGINE — here
#: the classic parameter search, HALVING a threshold from far above the
#: data until at least 1000 rows qualify, then returning the aggregate
#: at the found threshold. The loop predicate re-queries the data each
#: round (the scripting use case string-spliced driver loops used to
#: cover). Halving keeps every candidate an exact binary float
#: (100 * 2^k), so the oracle can replay the search declaratively with
#: a POWER(2, k) ladder — counts are monotone in the threshold, so
#: "first halving at/over budget" is MAX(thr) with count >= 1000 — and
#: the downward direction guarantees a non-empty result set at every
#: scale factor (total rows >= 1000).
_SCRIPTING_ORACLE = """
WITH ks AS (SELECT UNNEST(GENERATE_SERIES(0, 40)) AS k),
ladder AS (
  SELECT k, 100.0 * POWER(2, 20) / POWER(2, k) AS thr FROM ks
),
counted AS (
  SELECT thr,
         (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr) AS c
  FROM ladder
),
chosen AS (
  SELECT MAX(thr) AS thr FROM counted WHERE c >= 1000
)
SELECT o_orderpriority,
       COUNT(*) AS n_over,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders, chosen
WHERE o_totalprice > chosen.thr
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("sql_scripting_threshold_search", oracle=_SCRIPTING_ORACLE, tags=("E2", "P2", "A1"))
def sql_scripting_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    # A script runs eagerly inside spark.sql and returns its last
    # result as a LocalRelation, so the conf is needed only for the call.
    with scoped_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 104857600.0;  -- 100 * 2^20
          WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice > thr) < 1000 DO
            SET thr = thr / 2;
          END WHILE;
          SELECT o_orderpriority,
                 COUNT(*) AS n_over,
                 CAST(MIN(o_orderkey) AS BIGINT) AS min_key
          FROM orders
          WHERE o_totalprice > thr
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority;
        END
        """
        )


#: EXECUTE IMMEDIATE (Spark 4.0): SQL text built/stored as DATA and
#: executed with positional USING parameters — the safe form of the
#: query-from-a-config-table pattern (cf. sql_identifier_clause for
#: identifier-position parameters; this one parameterizes VALUES).
_EXEC_IMM_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("sql_execute_immediate", oracle=_EXEC_IMM_ORACLE, tags=("E2", "P4"))
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderstatus, COUNT(*) AS n,
                  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
           FROM orders WHERE o_orderpriority = ?
           GROUP BY o_orderstatus ORDER BY o_orderstatus'
          USING '1-URGENT'
        """
    )


#: TPC-H Q11 shape: GROUP BY ... HAVING against a SCALAR SUBQUERY over
#: the SAME aggregation — keep the part keys whose revenue exceeds a
#: fixed fraction of TOTAL revenue. Catalyst computes the global total
#: once (one extra combinable aggregation, broadcast as a 1-row build
#: side into the HAVING filter) — it must NOT recompute per group.
#: The fraction is data-relative (1.1x the average part share, TPC-H
#: scales Q11's fraction by 1/SF for the same reason), so the result
#: is non-empty at every scale factor; integer-cents sums make the
#: compare bit-stable up to the one shared double multiply.
_Q11 = """
SELECT l_partkey,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS value_cents
FROM lineitem
GROUP BY l_partkey
HAVING SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
     > (1.1 / (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)) * (
         SELECT SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
         FROM lineitem
       )
ORDER BY value_cents DESC, l_partkey
"""


@register("sql_q11_value_share", oracle=_Q11, tags=("E2", "A6", "A2", "A1"))
def sql_q11_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q11)


#: TPC-H Q15 shape: argmax over an aggregate via self-join-on-max —
#: build per-supplier revenue, then keep the supplier(s) whose revenue
#: EQUALS the max of that derived table (the view-based top-revenue
#: query; ties all surface, unlike LIMIT 1). The derived table is
#: computed once and reused for both the probe and the 1-row max side;
#: equality on integer cents is exact, so the shape is deterministic
#: without a tie-break hack.
_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_cents
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_cents = (SELECT MAX(total_cents) FROM revenue)
ORDER BY s_suppkey
"""


@register("sql_q15_top_supplier", oracle=_Q15, tags=("E2", "A2", "J1", "W4"))
def sql_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q15)


#: TPC-H Q16 shape: NOT IN with a SUBQUERY — SQL's null-aware anti
#: join, a DIFFERENT physical operator from NOT EXISTS (if the
#: subquery can produce a NULL, `x NOT IN (...)` is never true, so the
#: join must track null presence on the build side; Catalyst plans a
#: null-aware BroadcastHashJoin/LeftAnti). Here: count distinct
#: suppliers per part brand/size among supply records whose supplier
#: is not in the below-zero-balance set.
_Q16 = """
WITH bad_suppliers AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
),
part_suppliers AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN part_suppliers ON p_partkey = l_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM bad_suppliers)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


@register("sql_q16_notin_suppliers", oracle=_Q16, tags=("E2", "J5", "A3", "A1"))
def sql_q16_notin_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q16)


#: TPC-H Q6 shape: the pure scan-filter-aggregate — no join, no group
#: key, three range predicates and one global sum. The simplest query
#: in the suite and the purest pushdown test: all three predicates
#: reach the parquet scan (PushedFilters) and the plan is a single
#: combinable aggregation over the pruned 3-column read.
_Q6 = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("sql_q6_forecast_revenue", oracle=_Q6, tags=("E2", "P2", "A2"))
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q6)


#: TPC-H Q7 shape: volume shipping between two specific nations — a
#: 4-way join where BOTH ends (supplier nation, customer nation) are
#: dimension-filtered, plus a year split of the measure. The
#: disjunctive two-nation predicate ((A,B) or (B,A)) must survive into
#: the join, not degrade to a cross of both filters.
_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume_cents) AS BIGINT) AS revenue_cents
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         EXTRACT(YEAR FROM l_shipdate) AS l_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS volume_cents
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("sql_q7_volume_shipping", oracle=_Q7, tags=("E2", "J6", "P3", "F2"))
def sql_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q7)


#: TPC-H Q9 shape: product-line profit by nation and year — the widest
#: join fan in the suite (part-filtered fact x supplier x orders x
#: nation) with a LIKE filter on the part dim driving semi-join
#: reduction into the fact scan. (No partsupp/ps_supplycost in this
#: schema: profit = net revenue less a 10%-of-retail cost stand-in —
#: the join/aggregation structure is Q9's.)
_Q9 = """
SELECT nation, o_year,
       CAST(SUM(amount_cents) AS BIGINT) AS profit_cents
FROM (
  SELECT n_name AS nation,
         EXTRACT(YEAR FROM o_orderdate) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           - CAST(ROUND(p_retailprice * 10) AS BIGINT) * CAST(l_quantity AS BIGINT)
           AS amount_cents
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("sql_q9_product_profit", oracle=_Q9, tags=("E2", "J6", "P4", "F2"))
def sql_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_Q9)


# ---------------------------------------------------------------------------
# TPC-DS Q88-shaped multi-band counts: one scan instead of N subqueries
# ---------------------------------------------------------------------------

_Q88_BANDS = [(0, 3), (3, 6), (6, 9), (9, 12), (12, 15), (15, 18), (18, 21), (21, 24)]

_Q88_ORACLE = " CROSS JOIN ".join(
    f"(SELECT CAST(COUNT(*) AS BIGINT) AS band_{lo:02d}_{hi:02d} FROM events"
    f" WHERE EXTRACT(hour FROM ts) >= {lo} AND EXTRACT(hour FROM ts) < {hi}"
    f" AND event_type IN ('click', 'view')) b{i}"
    for i, (lo, hi) in enumerate(_Q88_BANDS)
)
_Q88_ORACLE = "SELECT * FROM " + _Q88_ORACLE


@register(
    "sql_q88_time_bands",
    oracle=_Q88_ORACLE,
    tags=("E2", "A7", "A2", "P4"),
)
def sql_q88_time_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 shape: eight hour-of-day traffic-band counts in one
    row. The BENCHMARK spells it as eight independent scalar subqueries
    cross-joined (the oracle keeps that spelling, counts are identical
    by construction); the engine-side implementation demonstrates the
    rewrite every optimizer-minded user applies — ONE scan with eight
    conditional aggregates, turning 8 passes over a 100 TB fact into 1.
    The filter common to all bands (event_type) is pushed to the scan;
    each band is a CASE-WHEN count that combines map-side.

    Both engines extract hour-of-day from the same wall-clock
    timestamps (no timezone shift: NTZ semantics on both sides)."""
    load_tables(spark, sf_dir)
    bands = ", ".join(
        f"CAST(SUM(CASE WHEN _hour >= {lo} AND _hour < {hi} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS band_{lo:02d}_{hi:02d}"
        for lo, hi in _Q88_BANDS
    )
    return spark.sql(
        "SELECT "
        + bands
        + " FROM (SELECT hour(ts) AS _hour FROM events"
        " WHERE event_type IN ('click', 'view'))"
    )


#: DATA-scale RECURSIVE CTE: the month-spine query above recurses on a
#: driver-tiny frontier; this one carries the WHOLE part table through
#: the recursion — an ancestor walk up the implicit decimal hierarchy
#: (parent(k) = floor(k / 10), the BOM/org-chart shape) rolled up to
#: the 9 roots. Scale contract: recursion depth is ceil(log10(max
#: key)) — 6-7 at ANY data scale — and each round is a MAP-ONLY
#: projection of the surviving frontier (integer division, no join, no
#: shuffle inside the loop); the engine's UnionLoop materializes
#: rounds. floor(node / 10.0) is used instead of integer division so
#: the IDENTICAL text runs on DuckDB (Spark spells it DIV, DuckDB //);
#: keys stay < 2^53 so the double round-trip is exact.
_RECURSIVE_ANCESTOR = """
WITH RECURSIVE walk(pk, node, depth, cost_cents) AS (
  SELECT p_partkey, p_partkey, 0,
         CAST(ROUND(p_retailprice * 100) AS BIGINT)
  FROM part
  UNION ALL
  SELECT pk, CAST(FLOOR(node / 10.0) AS BIGINT), depth + 1, cost_cents
  FROM walk WHERE node >= 10
),
rooted AS (
  SELECT pk, node AS root, depth, cost_cents FROM walk WHERE node < 10
)
SELECT CAST(root AS BIGINT) AS root,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MAX(depth) AS BIGINT) AS max_depth,
       CAST(SUM(cost_cents) AS BIGINT) AS subtree_cost_cents
FROM rooted GROUP BY root ORDER BY root
"""


@register(
    "sql_recursive_ancestor_rollup",
    oracle=_RECURSIVE_ANCESTOR,
    tags=("E2", "A1", "F3", "P2"),
)
def sql_recursive_ancestor_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOM-style recursive rollup: every part walks UP the implicit
    decimal hierarchy (parent = floor(key/10)) to its single-digit
    root; subtree count, max depth, and exact retail cost roll up per
    root. The recursion carries the full table (data-scale frontier),
    unlike the month-spine query whose frontier is driver-tiny — this
    pins Spark 4.1's recursive-CTE operator on the shape users
    actually fear: bounded-depth hierarchy traversal over a fact
    table. Identical SQL text runs on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(_RECURSIVE_ANCESTOR)


#: Closure-table materialization: the warehousing answer to "fast
#: subtree queries without recursion at read time" — every
#: (ancestor, descendant, depth) pair of the decimal part hierarchy,
#: built by UNROLLED bounded self-composition (depth ≤ 6 is a property
#: of the key domain, ceil(log10 k)); the oracle builds the SAME
#: closure with WITH RECURSIVE, so the query cross-proves the unrolled
#: materialization against the engine's recursion operator.
_CLOSURE_ORACLE = """
WITH RECURSIVE walk(node, anc, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part
  UNION ALL
  SELECT node, CAST(FLOOR(anc / 10.0) AS BIGINT), depth + 1
  FROM walk WHERE anc >= 10
)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT anc) AS BIGINT) AS n_ancestors,
       CAST(MIN(anc) AS BIGINT) AS min_ancestor,
       CAST(MAX(anc) AS BIGINT) AS max_ancestor
FROM walk
GROUP BY depth ORDER BY depth
"""


@register(
    "j_hierarchy_closure_table",
    oracle=_CLOSURE_ORACLE,
    tags=("J10", "O3", "A1", "F3"),
)
def j_hierarchy_closure_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closure-table materialization of the decimal part hierarchy:
    every (descendant, ancestor, depth) pair, built WITHOUT recursion
    by unrolling the bounded parent map — depth ≤ 6 is a property of
    the key domain (ceil(log10 maxkey)), so six stacked projections
    union into the full transitive closure. The ORACLE builds the same
    closure with WITH RECURSIVE — so this query cross-proves the
    warehouse pattern (materialize once, equi-join forever) against
    the recursion operator (`sql_recursive_ancestor_rollup` exercises
    the engine side; this exercises the rewrite users deploy when
    recursion is unavailable or too slow at read time).

    Scale design: each unrolled level is a MAP-ONLY integer projection
    of the previous frontier (no join, no shuffle); the union is one
    pass; the per-depth rollup is combinable."""
    load_tables(spark, sf_dir)
    ctes = [
        "l0 AS (SELECT p_partkey AS node, p_partkey AS anc, 0 AS depth"
        " FROM part)"
    ]
    for d in range(1, 7):
        ctes.append(
            f"l{d} AS (SELECT node, CAST(FLOOR(anc / 10.0) AS BIGINT)"
            f" AS anc, {d} AS depth FROM l{d - 1} WHERE anc >= 10)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM l{d}" for d in range(7))
    return spark.sql(
        "WITH "
        + ", ".join(ctes)
        + f", closure AS ({union}) "
        + "SELECT CAST(depth AS BIGINT) AS depth, "
        + "CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        + "CAST(COUNT(DISTINCT anc) AS BIGINT) AS n_ancestors, "
        + "CAST(MIN(anc) AS BIGINT) AS min_ancestor, "
        + "CAST(MAX(anc) AS BIGINT) AS max_ancestor "
        + "FROM closure GROUP BY depth ORDER BY depth"
    )
