"""General relational surface (SURVEY.md section 7 M6).

The reference's Python layer has no joins/aggregations beyond the SQL
diff queries, but the engine must answer arbitrary analytics over the
catalog (driver checks the section 2 inventory against TPC-H-ish data).
Each plan here is a thin, idiomatic DataFrame composition — joins
(inner/semi/anti/broadcast), groupBy/rollup, windows, top-k, set ops,
pivot — paired with a DuckDB oracle.

Float determinism: double addition is not associative, and Spark's
partial-aggregation order differs from DuckDB's. Every money/measure
aggregate therefore casts its operand to DECIMAL first (exact,
associative), sums exactly, and casts the final result to double —
bit-identical across engines. Window *running* sums keep doubles: both
engines accumulate in identical frame order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..hints import bounded_broadcast
from .registry import query


def _dec(col: str, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal(18,{scale})")


@query(
    "rel_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))
       * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide aggregate over the fact table. Map-side
    partial aggregation shuffles only 4 groups x partial states."""
    li = Catalog(spark, sf_dir).lineitem
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(disc_price * (1 + _dec("l_tax"))).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "rel_q3_shipping_priority",
    """
SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1996-03-15' AND l_shipdate > DATE '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
         * (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10 (exact
    decimal ordering, orderkey tie-break)."""
    cat = Catalog(spark, sf_dir)
    rev = F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
    return (
        cat.customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1996-03-15").cast("date"))
        .join(cat.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1996-03-15").cast("date"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("_rev").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@query(
    "rel_q5_region_revenue",
    """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; nation/region go broadcast, the
    fact-side joins shuffle on their keys with AQE."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .join(cat.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cat.supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            bounded_broadcast(cat.nation, "fixed-dim", "25 rows"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            bounded_broadcast(cat.region, "fixed-dim", "5 rows"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "rel_top_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) t
WHERE rnk <= 3
""",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window row_number (K1 generalized)."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        Catalog(spark, sf_dir)
        .orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t
WHERE c.c_custkey <= 200
"""


@query("rel_lateral_topk", _LATERAL_TOPK_SQL)
def lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL top-k: each customer cross-applied to its
    own ORDER BY ... LIMIT 3 order subquery — the per-row-table form
    of top-k-per-group, complementing the window-function form
    (``rel_top_orders_per_customer``). Same ANSI text runs on both
    engines; Spark decorrelates the lateral subquery into a
    ranked-window join rather than re-executing it per outer row.

    Scale: after decorrelation the plan is one shuffle on the
    correlation key + a per-key rank — identical cost shape to the
    window form; customers without orders drop out (inner lateral) on
    both engines."""
    Catalog(spark, sf_dir).register_all()
    return spark.sql(_LATERAL_TOPK_SQL)


@query(
    "rel_latest_event_per_user",
    """
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 max-by-timestamp top-1 (``tests/test_connect.py:70-79``),
    per user."""
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        Catalog(spark, sf_dir)
        .events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


@query(
    "rel_running_total_per_user",
    """
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS running_value_cents
FROM events WHERE user_id <= 20
""",
)
def running_total_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running window sum in exact integer cents. Raw-double running
    sums are NOT portable even with an identical frame order: DuckDB's
    windowed SUM accumulates via a segment tree (pairwise), Spark
    sequentially, so the float rounding diverges. Per-row
    ``round(value*100)`` is deterministic in both engines and the
    BIGINT running sum is exact."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        Catalog(spark, sf_dir)
        .events.where(F.col("user_id") <= 20)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.sum(cents).over(w).alias("running_value_cents"),
        )
    )


@query(
    "rel_rollup_revenue",
    """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (grouping-sets family)."""
    return (
        Catalog(spark, sf_dir)
        .lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "rel_customer_order_setops",
    """
WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1995),
     c96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE year(o_orderdate) = 1996)
SELECT 'only_1995' AS tag, o_custkey FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96) a
UNION ALL
SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96) b
""",
)
def customer_order_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT / UNION ALL surface."""
    o = Catalog(spark, sf_dir).orders

    def keys(year: int) -> DataFrame:
        return o.where(F.year("o_orderdate") == year).select("o_custkey").distinct()

    only95 = keys(1995).exceptAll(keys(1996)).withColumn("tag", F.lit("only_1995"))
    both = keys(1995).intersect(keys(1996)).withColumn("tag", F.lit("both"))
    return only95.unionByName(both).select("tag", "o_custkey")


@query(
    "rel_semi_anti_counts",
    """
SELECT
  (SELECT COUNT(*) FROM customer WHERE EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders
""",
)
def semi_anti_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti as EXISTS / NOT EXISTS — ONE lazy plan: a
    left join against the distinct key set tags each customer, and a
    single conditional aggregate produces both counts (no eager driver
    .count() actions, no double scan of either table)."""
    cat = Catalog(spark, sf_dir)
    keys = cat.orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    tagged = cat.customer.select("c_custkey").join(
        keys.withColumn("_hit", F.lit(1)), "c_custkey", "left"
    )
    return tagged.agg(
        F.count(F.col("_hit")).alias("n_with_orders"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias(
            "n_without_orders"
        ),
    )


@query(
    "rel_pivot_order_status",
    """
SELECT year(o_orderdate) AS order_year,
  CAST(SUM(CASE WHEN o_orderstatus = 'O'
       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
  CAST(SUM(CASE WHEN o_orderstatus = 'F'
       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
  CAST(SUM(CASE WHEN o_orderstatus = 'P'
       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
FROM orders GROUP BY year(o_orderdate)
""",
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order value per year by status."""
    return (
        Catalog(spark, sf_dir)
        .orders.select(
            F.year("o_orderdate").alias("order_year"),
            "o_orderstatus",
            _dec("o_totalprice").alias("price"),
        )
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("price").cast("double"))
    )


@query(
    "rel_distinct_aggregates",
    """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders GROUP BY o_orderpriority
""",
)
def distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        Catalog(spark, sf_dir)
        .orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


@query(
    "rel_events_hourly",
    """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate in batch form (streaming twin lives in
    streaming/windows.py)."""
    return (
        Catalog(spark, sf_dir)
        .events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "rel_sessionize_events",
    """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gaps)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session, cumulative
    sum assigns ids (guide 'Common OLAP patterns')."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ev = Catalog(spark, sf_dir).events
    # microsecond-precision gap: cast('long') truncates to seconds, which
    # disagrees with the oracle's `ts - LAG(ts) > INTERVAL 30 MINUTE`
    # whenever a gap lands inside (1800 s, 1801 s)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.withColumn(
            "new_session",
            F.when(
                F.lag("ts").over(w).isNull() | (gap > 1800 * 1_000_000), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@query(
    "rel_term_successor",
    """
WITH terms AS (
  SELECT substr(CAST(year(o_orderdate) AS VARCHAR), 3, 2)
           || CASE WHEN month(o_orderdate) <= 6 THEN '1S' ELSE '2S' END
           AS term_id
  FROM orders)
SELECT term_id,
       CASE WHEN substr(term_id, 3, 2) = '2S'
            THEN printf('%02d', CAST(substr(term_id, 1, 2) AS INTEGER) + 1)
                 || '1S'
            ELSE substr(term_id, 1, 2) || '2S' END AS next_term_id,
       COUNT(*) AS n_orders
FROM terms GROUP BY term_id
""",
)
def term_successor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/T6 term arithmetic (``src/integrator.py:27-36``) applied
    cluster-side to a term column derived from order dates."""
    from ..functions.terms import term_successor_expr

    o = Catalog(spark, sf_dir).orders
    term = F.concat(
        F.substring(F.year("o_orderdate").cast("string"), 3, 2),
        F.when(F.month("o_orderdate") <= 6, "1S").otherwise("2S"),
    )
    return (
        o.select(term.alias("term_id"))
        .groupBy("term_id")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("next_term_id", term_successor_expr(F.col("term_id")))
        .select("term_id", "next_term_id", "n_orders")
    )


@query(
    "rel_q6_revenue_filter",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
)
def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + filter + agg — the pushdown
    showcase (every predicate reaches the parquet reader)."""
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "rel_events_props_json",
    """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
""",
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: extract a JSON field from the props
    string column and aggregate it (get_json_object stays JVM-side)."""
    ev = Catalog(spark, sf_dir).events
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "rel_string_surface",
    """
SELECT upper(substr(p_name, 1, 3)) || '-' || replace(p_type, ' ', '_') AS code,
       reverse(p_brand) AS rev_brand,
       length(trim(p_name)) AS name_len,
       COUNT(*) AS n
FROM part
WHERE p_name LIKE '%a%'
GROUP BY 1, 2, 3
""",
)
def string_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The section 2.6 scalar-string surface in one plan: substring,
    concat, upper, replace, reverse, trim, length, LIKE."""
    p = Catalog(spark, sf_dir).part
    return (
        p.where(F.col("p_name").like("%a%"))
        .groupBy(
            F.concat(
                F.upper(F.substring("p_name", 1, 3)),
                F.lit("-"),
                F.replace(F.col("p_type"), F.lit(" "), F.lit("_")),
            ).alias("code"),
            F.reverse(F.col("p_brand")).alias("rev_brand"),
            F.length(F.trim(F.col("p_name"))).alias("name_len"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "rel_percentiles_acctbal",
    """
SELECT c_mktsegment,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS median_bal,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY c_acctbal) AS p90_bal,
       COUNT(*) AS n
FROM customer GROUP BY c_mktsegment
""",
)
def percentiles_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines use the
    same linear interpolation on the sorted values)."""
    c = Catalog(spark, sf_dir).customer
    return c.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.5)).alias("median_bal"),
        F.percentile("c_acctbal", F.lit(0.9)).alias("p90_bal"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "rel_cube_order_stats",
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations (rollup's sibling)."""
    return (
        Catalog(spark, sf_dir)
        .orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


@query(
    "rel_asof_last_purchase",
    """
WITH errors AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
purchases AS (
  SELECT user_id, event_id AS purchase_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase')
SELECT e.user_id, e.event_id, e.ts, p.purchase_id, p.purchase_value
FROM errors e ASOF LEFT JOIN purchases p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""",
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/relational.py): for every error event, the
    user's latest purchase at or before it. Union+window composition —
    one shuffle on the key, no range explosion (DuckDB's native ASOF
    JOIN is the oracle)."""
    from ..operators.relational import asof_join

    ev = Catalog(spark, sf_dir).events
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        "ts",
        F.col("value").alias("purchase_value"),
    )
    return asof_join(
        errors, purchases, "user_id", "ts", "ts", ["purchase_id", "purchase_value"]
    )


@query(
    "rel_parameterized_sql",
    """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE year(o_orderdate) = 1996 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 parity: a parameterized spark.sql() text over registered
    views with NAMED parameters — the Spark-native form of the
    reference's `pd.read_sql(text, params=[yr, trm])`
    (``src/jenzabar.py:69-75``); params never string-interpolate, so no
    injection surface."""
    Catalog(spark, sf_dir).register_all()
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        WHERE year(o_orderdate) = :yr AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"yr": 1996, "status": "O"},
    )


@query(
    "rel_approx_distinct",
    """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS within_tol
FROM lineitem GROUP BY l_returnflag
""",
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-distinct surface (HyperLogLog++). The raw sketch
    estimate is engine-specific, so the checkable contract emits the
    deterministic columns plus ``within_tol``: |approx - exact| must be
    within 3x the sketch's rsd (default 0.05). The oracle asserts
    within_tol TRUE — if the estimate ever drifts out of tolerance the
    hash flips and the check fails."""
    est = F.approx_count_distinct("l_partkey")  # rsd 0.05
    exact = F.countDistinct("l_partkey")
    return (
        Catalog(spark, sf_dir)
        .lineitem.groupBy("l_returnflag")
        .agg(est.alias("_approx"), exact.alias("exact_parts"))
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("_approx") - F.col("exact_parts"))
                <= 0.15 * F.col("exact_parts")
            ).alias("within_tol"),
        )
    )


@query(
    "rel_q4_order_priority",
    """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS as a left-semi join with a
    non-key predicate, then aggregate."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = cat.lineitem.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "rel_q10_returned_items",
    """
SELECT c_custkey, c_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  n_name
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
         * (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-way join, revenue ranking of customers with
    returned items, deterministic top-20."""
    cat = Catalog(spark, sf_dir)
    rev = F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
    return (
        cat.customer.join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
        )
        .join(
            cat.lineitem.where(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            bounded_broadcast(cat.nation, "fixed-dim", "25 rows"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev.alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", F.col("_rev").cast("double").alias("revenue"), "n_name"
        )
    )


@query(
    "rel_unpivot_part_measures",
    """
SELECT p_partkey, measure, CAST(value AS DOUBLE) AS value
FROM (SELECT p_partkey, p_size::DOUBLE AS size, p_retailprice AS price
      FROM part WHERE p_partkey <= 200)
UNPIVOT (value FOR measure IN (size, price))
""",
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) via stack — pivot's inverse."""
    p = Catalog(spark, sf_dir).part.where(F.col("p_partkey") <= 200)
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'price', p_retailprice)"
        " AS (measure, value)",
    )


@query(
    "rel_event_deltas",
    """
SELECT user_id, event_id,
       value - LAG(value) OVER w AS value_delta,
       CAST(date_diff('second', LAG(ts) OVER w, ts) AS BIGINT) AS seconds_since_prev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY LAG(ts) OVER w IS NOT NULL
""",
)
def event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag surface: per-user deltas between consecutive events."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = Catalog(spark, sf_dir).events
    return (
        ev.select(
            "user_id",
            "event_id",
            (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
            (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
            ).alias("seconds_since_prev"),
            F.lag("ts").over(w).alias("_prev"),
        )
        .where(F.col("_prev").isNotNull())
        .drop("_prev")
    )


@query(
    "rel_session_window_native",
    """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id <= 10 WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gaps)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
""",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window (gap-merged event-time sessions,
    also usable in streaming) — the oracle replicates its semantics
    with lag/cumsum: window end = last event + gap."""
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") <= 10)
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "rel_salted_join_revenue",
    """
SELECT c_mktsegment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted join in the checked surface: salting replicates
    the dimension over salt buckets, the result is provably identical
    to the plain join (oracle = plain SQL join)."""
    from ..operators.relational import salted_join

    cat = Catalog(spark, sf_dir)
    o = cat.orders.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    joined = salted_join(o, cat.customer.select("c_custkey", "c_mktsegment"), "c_custkey", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "rel_q18_large_orders",
    """
SELECT c_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_custkey, o_orderkey, o_orderdate
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate + HAVING over a 3-way join."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.join(cat.orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(cat.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .where(F.col("_qty") > 250)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("_qty").cast("double").alias("total_qty"),
        )
    )


@query(
    "rel_left_outer_customer_orders",
    """
SELECT c_custkey, c_mktsegment,
       COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
         AS total_spend
FROM customer LEFT JOIN (SELECT * FROM orders
  WHERE year(o_orderdate) = 1996) o ON o_custkey = c_custkey
GROUP BY c_custkey, c_mktsegment
""",
)
def left_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join: customers kept with zero 1996 orders (COUNT of
    the null-extended key is 0; spend coalesces to 0). The year filter
    guarantees genuinely unmatched left rows in this corpus."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.customer.join(
            cat.orders.where(F.year("o_orderdate") == 1996),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


@query(
    "rel_full_outer_year_diff",
    """
WITH y96 AS (
  SELECT o_custkey, COUNT(*) AS n96 FROM orders
  WHERE year(o_orderdate) = 1996 GROUP BY o_custkey),
y97 AS (
  SELECT o_custkey, COUNT(*) AS n97 FROM orders
  WHERE year(o_orderdate) = 1997 GROUP BY o_custkey)
SELECT COALESCE(y96.o_custkey, y97.o_custkey) AS custkey,
       COALESCE(n96, 0) AS n96, COALESCE(n97, 0) AS n97,
       COALESCE(n97, 0) - COALESCE(n96, 0) AS delta
FROM y96 FULL OUTER JOIN y97 ON y96.o_custkey = y97.o_custkey
""",
)
def full_outer_year_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-customer order-count delta between two
    years, keeping customers present in either."""
    o = Catalog(spark, sf_dir).orders

    def per_year(year: int, alias: str) -> DataFrame:
        return (
            o.where(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    a, b = per_year(1996, "n96"), per_year(1997, "n97")
    return (
        a.alias("a")
        .join(b.alias("b"), F.col("a.o_custkey") == F.col("b.o_custkey"), "full")
        .select(
            F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("custkey"),
            F.coalesce(F.col("n96"), F.lit(0)).alias("n96"),
            F.coalesce(F.col("n97"), F.lit(0)).alias("n97"),
            (
                F.coalesce(F.col("n97"), F.lit(0)) - F.coalesce(F.col("n96"), F.lit(0))
            ).alias("delta"),
        )
    )


@query(
    "rel_date_surface",
    """
SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
       month(o_orderdate) AS mth, day(o_orderdate) AS dom,
       COUNT(*) AS n
FROM orders GROUP BY 1, 2, 3, 4
""",
)
def date_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface: year/quarter/month/day extraction."""
    o = Catalog(spark, sf_dir).orders
    return o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofmonth("o_orderdate").alias("dom"),
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "rel_q14_promo_revenue",
    """
SELECT CAST(100.0 AS DOUBLE)
       * CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))
             ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue
    share). Decimal sums keep both sums exact; the final double
    arithmetic is the *same op sequence* in both engines —
    ``(100.0 * double(P)) / double(T)`` — so the IEEE result is
    bit-identical (the old oracle multiplied by 100.0 in DECIMAL
    before the double cast, diverging in the last bits). The part
    side joins broadcast (small dim at any SF after the date filter
    prunes lineitem)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("date"))
    )
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(cat.part.select("p_partkey", "p_type"),
                F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).cast("double").alias("_p"),
            F.sum(rev).cast("double").alias("_t"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            (100.0 * F.col("_p") / F.col("_t")).alias("promo_revenue_pct"),
            "n_lines",
        )
    )


@query(
    "rel_q19_disjunctive_filter",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 25)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 10 AND l_quantity <= 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 20 AND l_quantity <= 60)
""",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides.
    Catalyst extracts the common single-side conjuncts (brand/size on
    part, quantity bounds on lineitem) and pushes them below the join,
    so each scan prunes before the equi-join; the residual disjunction
    evaluates post-join."""
    cat = Catalog(spark, sf_dir)
    j = cat.lineitem.join(
        cat.part, F.col("p_partkey") == F.col("l_partkey")
    )
    def arm(brand, smin, smax, qmin, qmax):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(smin, smax)
            & (F.col("l_quantity") >= qmin)
            & (F.col("l_quantity") <= qmax)
        )
    pred = arm("Brand#1", 1, 15, 1, 25) | arm("Brand#2", 10, 30, 10, 40) | arm(
        "Brand#3", 20, 50, 20, 60
    )
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return j.where(pred).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "rel_q22_inactive_balance",
    """
WITH avg_bal AS (
  SELECT AVG(CAST(c_acctbal AS DECIMAL(18,2))) AS a
  FROM customer WHERE c_acctbal > 0.0)
SELECT substr(c_name, 17, 2) AS cgroup,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer, avg_bal
WHERE CAST(c_acctbal AS DECIMAL(18,2)) > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '1996-01-01'
                    AND o_orderdate < DATE '1997-01-01')
GROUP BY substr(c_name, 17, 2)
""",
)
def q22_inactive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (avg balance of
    positive accounts) + NOT EXISTS anti-join (customers with no 1996
    orders — every customer has *some* order in this data, so the
    inactivity window keeps the result non-trivial) + substring
    grouping. The scalar aggregate broadcasts as a 1-row cross join;
    the anti-join shuffles on custkey. Decimal average keeps the
    threshold comparison exact across engines."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg(_dec("c_acctbal")).alias("a"))
    )
    o96 = cat.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    ).select("o_custkey")
    return (
        cust.crossJoin(bounded_broadcast(avg_bal, "scalar-agg", "1-row average"))
        .where(_dec("c_acctbal") > F.col("a"))
        .join(o96, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.substring("c_name", 17, 2).alias("cgroup"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


@query(
    "rel_q12_priority_class",
    """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
GROUP BY l_linestatus
""",
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted to the schema: linestatus in place of
    shipmode): join + conditional two-way counts. Both CASE branches
    aggregate in one shuffle — never two filtered passes."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    ).select("l_orderkey", "l_linestatus")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        cat.orders.select("o_orderkey", "o_orderpriority")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "rel_range_join_balance_bands",
    """
WITH stats AS (
  SELECT MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx FROM customer),
bands AS (
  SELECT k,
         mn + k * ((mx - mn) / 5) AS lo,
         mn + (k + 1) * ((mx - mn) / 5) AS hi,
         k = 4 AS last_band
  FROM range(5) t(k), stats)
SELECT k AS band,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer JOIN bands
  ON c_acctbal >= lo AND (c_acctbal < hi OR (last_band AND c_acctbal <= hi))
GROUP BY k
""",
)
def range_join_balance_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: each customer lands in one of five
    equal-width balance bands via a non-equi join. The band table is
    derived in-query (O(1) rows) and broadcast, so the 'range join'
    executes as a BroadcastNestedLoopJoin with a residual interval
    predicate — the right plan when one side is tiny; both engines
    compute identical double band bounds, so assignment matches
    bit-for-bit."""
    cat = Catalog(spark, sf_dir)
    cust = cat.customer
    stats = cust.agg(
        F.min("c_acctbal").alias("mn"), F.max("c_acctbal").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / 5
    bands = (
        spark.range(5)
        .withColumnRenamed("id", "k")
        .crossJoin(bounded_broadcast(stats, "scalar-agg", "1-row min/max"))
        .select(
            "k",
            (F.col("mn") + F.col("k") * width).alias("lo"),
            (F.col("mn") + (F.col("k") + 1) * width).alias("hi"),
            (F.col("k") == 4).alias("last_band"),
        )
    )
    on = (F.col("c_acctbal") >= F.col("lo")) & (
        (F.col("c_acctbal") < F.col("hi"))
        | (F.col("last_band") & (F.col("c_acctbal") <= F.col("hi")))
    )
    return (
        cust.join(bounded_broadcast(bands, "k-row", "5 literal bands"), on)
        .groupBy(F.col("k").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


@query(
    "rel_moving_window_range",
    """
SELECT user_id, event_id, ts,
  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) OVER w AS BIGINT) AS hour_sum_micros,
  COUNT(*) OVER w AS hour_cnt
FROM events WHERE user_id <= 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""",
)
def moving_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-1-hour sum and count.
    Spark's rangeBetween needs a numeric ordering key, so the frame is
    expressed over unix_micros(ts) with a 3.6e9-microsecond preceding
    bound — identical to the oracle's INTERVAL frame at microsecond
    precision. Values are summed in exact int64 micro-units (the
    round(x*1e6) convention shared with the stateful streaming query),
    so sliding-frame accumulation order can't cause float drift."""
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") <= 20)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    micros = F.round(F.col("value") * 1_000_000).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(micros).over(w).alias("hour_sum_micros"),
        F.count(F.lit(1)).over(w).alias("hour_cnt"),
    )


@query(
    "rel_udaf_median_value",
    """
SELECT user_id,
       median(CAST(round(value * 1000000) AS BIGINT)) AS median_micros,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
""",
)
def udaf_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via an Arrow-batched grouped-agg pandas UDF:
    exact per-user median (a holistic aggregate Spark has no built-in
    exact function for). Values are int64 micro-units so the even-count
    midpoint average is exact in double on both engines.

    Scale note: GROUPED_AGG materializes one group per call — correct
    for bounded per-user histories; an unbounded-group percentile
    should use approx_percentile (see rel_percentiles_acctbal)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's signature inference
    # can't resolve for locally-imported names
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def median_micros(v):
        import numpy as np

        return float(np.median(v))

    # grouped-agg pandas UDFs can't mix with JVM aggregates in one
    # agg(), so the row count is a pandas aggregate too
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    ev = Catalog(spark, sf_dir).events
    micros = F.round(F.col("value") * 1_000_000).cast("long")
    return ev.groupBy("user_id").agg(
        median_micros(micros).alias("median_micros"),
        n_rows(micros).alias("n_events"),
    )


@query(
    "rel_resample_ffill",
    """
WITH b AS (
  SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
         date_trunc('hour', MAX(ts)) AS h1
  FROM events WHERE user_id <= 5 GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM b),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         arg_max(value, ts) AS v
  FROM events WHERE user_id <= 5 GROUP BY 1, 2),
j AS (
  SELECT g.user_id, g.hour, h.v
  FROM grid g LEFT JOIN hourly h USING (user_id, hour))
SELECT user_id, hour, v,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
FROM j
""",
)
def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: per-user hourly grid from
    first to last observation (sequence + explode — the grid is
    generated distributed, sized by each user's own span), latest
    observation per hour (max_by ts), then forward fill via
    last(ignorenulls) over an ordered window. (user, ts) pairs are
    unique in the data, so the per-hour pick is deterministic; values
    pass through untouched — no float arithmetic to diverge."""
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") <= 5)
    b = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = b.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.max_by("value", "ts").alias("v"))
    j = grid.join(hourly, ["user_id", "hour"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        "hour",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_ffill"),
    )


@query(
    "rel_events_variant",
    """
WITH x AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decade
  FROM events)
SELECT event_type, k_decade, COUNT(*) AS n
FROM x GROUP BY event_type, k_decade
""",
)
def events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): props parses ONCE
    into the binary variant encoding, then fields extract typed via
    ``variant_get`` — at scale this replaces per-access string JSON
    re-parsing (get_json_object) with a single decode plus cheap typed
    reads, the same shape Snowflake/Iceberg variant columns use.
    Histogram of k by decade per event type; oracle extracts from the
    JSON text directly."""
    ev = Catalog(spark, sf_dir).events
    v = ev.withColumn("_v", F.parse_json("props"))
    return (
        v.select("event_type", F.expr("variant_get(_v, '$.k', 'bigint') div 10").alias("k_decade"))
        .groupBy("event_type", "k_decade")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "rel_bitmap_distinct",
    """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via bitmap aggregates (Spark 3.5+):
    user ids fold into fixed 4 KB bitmaps per (event_type, bucket),
    then bucket cardinalities sum. Unlike COUNT(DISTINCT) — whose
    partial state grows with the number of distinct keys and forces a
    full expand-shuffle of the key space — bitmap state is
    constant-size per bucket, so the exact count scales like an
    ordinary sum. The oracle is plain COUNT(DISTINCT): identical
    result, different (scalable) physical strategy."""
    ev = Catalog(spark, sf_dir).events
    per_bucket = (
        ev.select("event_type", F.col("user_id").alias("uid"))
        .groupBy(
            "event_type",
            F.bitmap_bucket_number(F.col("uid")).alias("_bucket"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.col("uid"))
            ).alias("_bm")
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("_bm")).alias("n_users")
    )


@query(
    "rel_recursive_month_spine",
    """
WITH RECURSIVE spine(mon, end_mon) AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
  FROM orders
  UNION ALL
  SELECT CAST(mon + INTERVAL 1 MONTH AS DATE), end_mon
  FROM spine WHERE mon < end_mon
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
         COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT spine.mon, COALESCE(monthly.n, 0) AS n_orders
FROM spine LEFT JOIN monthly ON spine.mon = monthly.mon
""",
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): generate the complete month
    spine between the first and last order date — the calendar-fill
    every reporting layer needs, with gap months surfacing as zero
    rows the raw GROUP BY would silently drop. The recursion bound
    rides in-row (end_mon), so the step needs no scalar subquery, and
    depth = month span (~80), far under Spark's recursion limit.
    The oracle is the same recursive SQL in DuckDB."""
    Catalog(spark, sf_dir).register_all()
    return spark.sql(
        """
WITH RECURSIVE spine(mon, end_mon) AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE),
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE)
  FROM orders
  UNION ALL
  SELECT add_months(mon, 1), end_mon FROM spine WHERE mon < end_mon
),
monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
         COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT spine.mon, COALESCE(monthly.n, CAST(0 AS BIGINT)) AS n_orders
FROM spine LEFT JOIN monthly ON spine.mon = monthly.mon
"""
    )


@query(
    "rel_try_arithmetic",
    """
WITH x AS (
  SELECT l_returnflag,
         l_extendedprice / NULLIF(l_quantity - 1, 0) AS safe_ratio,
         TRY_CAST(substr(CAST(l_extendedprice AS VARCHAR), 1, 3) AS INTEGER)
           AS price_prefix
  FROM lineitem)
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN safe_ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_null,
       CAST(SUM(CAST(floor(COALESCE(safe_ratio, 0) * 1000000 + 0.5) AS BIGINT))
         AS BIGINT) AS sum_ratio_micros,
       CAST(SUM(CASE WHEN price_prefix IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cast_null,
       CAST(SUM(COALESCE(price_prefix, 0)) AS BIGINT) AS sum_prefix
FROM x GROUP BY l_returnflag
""",
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe scalar surface: ``try_divide`` nulls out the
    quantity-1 rows instead of erroring (or yielding Infinity), and
    ``try_cast`` nulls un-parseable string prefixes — the error-safe
    semantics a pipeline needs under ANSI mode at scale, where one bad
    row must not kill a 10^9-row stage. Ratios accumulate as exact
    integer micros (floor(x*1e6+0.5)) so the sums are
    order-independent and hash-stable; the oracle expresses
    try_divide as division by NULLIF."""
    li = Catalog(spark, sf_dir).lineitem
    safe_ratio = F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 1)
    prefix = F.substring(
        F.col("l_extendedprice").cast("string"), 1, 3
    ).try_cast("int")
    x = li.select("l_returnflag", safe_ratio.alias("r"), prefix.alias("p"))
    return x.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("r").isNull(), 1).otherwise(0)).alias("n_div_null"),
        F.sum(
            F.floor(F.coalesce(F.col("r"), F.lit(0.0)) * 1_000_000 + 0.5).cast("long")
        ).alias("sum_ratio_micros"),
        F.sum(F.when(F.col("p").isNull(), 1).otherwise(0)).alias("n_cast_null"),
        F.sum(F.coalesce(F.col("p"), F.lit(0)).cast("long")).alias("sum_prefix"),
    )
