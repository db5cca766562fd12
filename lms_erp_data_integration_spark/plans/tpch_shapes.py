"""Remaining TPC-H query shapes (Q2/Q7/Q8/Q9/Q11/Q13/Q15/Q16/Q17/Q20/Q21).

Completes the TPC-H family started in ``relational_queries.py`` so the
relational surface covers every canonical plan shape: correlated
scalar-min (Q2), bi-directional nation pairs (Q7), market-share ratio
of conditional aggregates (Q8), profit rollup (Q9), HAVING against a
global scalar aggregate (Q11), outer-join histogram (Q13), view +
scalar-max equality (Q15), NOT-IN + COUNT DISTINCT (Q16), correlated
average (Q17), nested semi-join with correlated aggregate (Q20), and
EXISTS / NOT-EXISTS double correlation (Q21).

The driver's test data has no ``partsupp`` table, no ``l_commitdate`` /
``l_receiptdate``, and no comment columns, so the five shapes that use
them are adapted: the part↔supplier association is the DISTINCT
(l_partkey, l_suppkey) pairs observed in ``lineitem``, supply cost is
stood in by ``s_acctbal``, and Q21's "late" supplier is the sole
supplier whose line carries the order's max ship date. The *plan
shape* — what Catalyst must do — is preserved in every case.

Like the rest of the relational surface this goes beyond the
reference's Python layer (``src/jenzabar.py`` has only the seven diff
queries); it exists to make the engine a complete analytics surface
over the catalog.

Float determinism: money aggregates cast to DECIMAL(18,2) before
summing (exact, associative), and any ratio is a single double
division of two exact sums — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..hints import bounded_broadcast
from .registry import query


def _dec(col: str, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal(18,{scale})")


_REVENUE = """CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"""


def _rev() -> F.Column:
    return F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))


@query(
    "rel_q2_min_cost_supplier",
    """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM part
  JOIN ps ON p_partkey = l_partkey
  JOIN eu ON l_suppkey = s_suppkey
WHERE p_type = 'STANDARD' AND p_size <= 10
  AND s_acctbal = (
    SELECT MIN(eu2.s_acctbal) FROM ps ps2 JOIN eu eu2 ON ps2.l_suppkey = eu2.s_suppkey
    WHERE ps2.l_partkey = p_partkey)
ORDER BY s_acctbal DESC, s_name, p_partkey
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar MIN decorrelated into a
    per-part aggregate joined back on equality. The part↔supplier
    pairs come from lineitem (no partsupp table); s_acctbal stands in
    for ps_supplycost. nation/region are FIXED-cardinality (25/5) and
    broadcast; the region-filtered supplier slice scales with SF, so
    it carries no hint — AQE broadcasts it while it is genuinely
    small and falls back to a shuffle join at 100 TB (r12 audit: the
    r11 hot-shingle lesson applied to every corpus-proportional
    build side)."""
    cat = Catalog(spark, sf_dir)
    ps = cat.lineitem.select("l_partkey", "l_suppkey").distinct()
    eu = (
        cat.supplier.join(
            bounded_broadcast(cat.nation, "fixed-dim", "25 rows"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            bounded_broadcast(
                cat.region.where(F.col("r_name") == "EUROPE"),
                "fixed-dim",
                "one region row",
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pairs = ps.join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
    # per-part scalar MIN as a window over one shuffle — the
    # groupBy + join-back decorrelation would recompute the distinct
    # pairs twice and add a fact-fact merge join
    min_bal = F.min("s_acctbal").over(W.partitionBy("l_partkey"))
    parts = cat.part.where((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
    return (
        pairs.withColumn("_min_bal", min_bal)
        .where(F.col("s_acctbal") == F.col("_min_bal"))
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .orderBy(F.col("s_acctbal").desc(), "s_name", "p_partkey")
        .limit(100)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
    )


@query(
    "rel_q7_volume_shipping",
    f"""
SELECT supp_nation, cust_nation, l_year, {_REVENUE.replace('l_extendedprice', 'volume').replace('l_discount', 'disc')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l_shipdate) AS l_year,
         l_extendedprice AS volume, l_discount AS disc
  FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bi-directional nation-pair volume by ship year.
    Both nation joins broadcast; the pair predicate is a disjunction
    evaluated after both are attached."""
    cat = Catalog(spark, sf_dir)
    n1 = cat.nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = cat.nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = cat.lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
    )
    return (
        cat.supplier.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cat.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cat.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            bounded_broadcast(n1, "fixed-dim", "25 rows"),
            F.col("s_nationkey") == F.col("n1_key"),
        )
        .join(
            bounded_broadcast(n2, "fixed-dim", "25 rows"),
            F.col("c_nationkey") == F.col("n2_key"),
        )
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_rev().cast("double").alias("revenue"))
    )


@query(
    "rel_q8_market_share",
    """
SELECT o_year,
  CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
    / CAST(SUM(vol) AS DOUBLE) AS mkt_share
FROM (
  SELECT YEAR(o_orderdate) AS o_year,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS vol,
         n1.n_name AS supp_nation
  FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
) all_nations
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional revenue by order
    year — a ratio of a conditional decimal sum over the total, divided
    once in double (deterministic: both operands are exact)."""
    cat = Catalog(spark, sf_dir)
    n1 = cat.nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = cat.nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    vol = (_dec("l_extendedprice") * (1 - _dec("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    df = (
        cat.part.where(F.col("p_type") == "ECONOMY")
        .join(cat.lineitem, F.col("p_partkey") == F.col("l_partkey"))
        .join(cat.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            cat.orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            bounded_broadcast(n1, "fixed-dim", "25 rows"),
            F.col("s_nationkey") == F.col("n1_key"),
        )
        .join(
            bounded_broadcast(n2, "fixed-dim", "25 rows"),
            F.col("c_nationkey") == F.col("n2_key"),
        )
        .join(
            bounded_broadcast(
                cat.region.where(F.col("r_name") == "AMERICA"),
                "fixed-dim",
                "one region row",
            ),
            F.col("n2_region") == F.col("r_regionkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("vol"),
            "supp_nation",
        )
    )
    return df.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("vol")).otherwise(zero))
            .cast("double")
            / F.sum("vol").cast("double")
        ).alias("mkt_share")
    )


@query(
    "rel_q9_product_profit",
    f"""
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year, {_REVENUE} AS profit
FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, YEAR(o_orderdate)
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per order year for a
    part-name pattern. No partsupp → profit is discounted revenue (the
    supplycost term is dropped; join/group shape unchanged)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.part.where(F.col("p_name").like("%red%"))
        .join(cat.lineitem, F.col("p_partkey") == F.col("l_partkey"))
        .join(cat.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cat.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            bounded_broadcast(cat.nation, "fixed-dim", "25 rows"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(_rev().cast("double").alias("profit"))
    )


@query(
    "rel_q11_important_parts",
    """
WITH pv AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS value_dec
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5'
  GROUP BY l_partkey
)
SELECT l_partkey AS partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM pv
WHERE CAST(value_dec AS DOUBLE) > 0.001 * (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM pv)
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value filtered by HAVING against a
    global scalar aggregate (cross-join of a 1-row total; no partsupp →
    value is price×qty of one nation's suppliers' shipments). The
    scalar side is a 1-row broadcast, so no second shuffle of pv."""
    cat = Catalog(spark, sf_dir)
    nat = cat.nation.where(F.col("n_name") == "NATION_5")
    pv = (
        cat.lineitem.join(cat.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            bounded_broadcast(nat, "fixed-dim", "one nation row"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice") * _dec("l_quantity")).alias("value_dec"))
    )
    total = pv.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        pv.join(bounded_broadcast(total, "scalar-agg", "1-row threshold"))
        .where(F.col("value_dec").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("value_dec").cast("double").alias("part_value"),
        )
    )


@query(
    "rel_q13_order_distribution",
    """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer-join histogram — orders per customer
    (join predicate filters the right side; no o_comment column, so
    o_orderstatus <> 'P' stands in), then distribution of counts."""
    cat = Catalog(spark, sf_dir)
    per_cust = (
        cat.customer.join(
            cat.orders.where(F.col("o_orderstatus") != "P"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "rel_q15_top_supplier",
    f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {_REVENUE} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue view + scalar-MAX equality.
    The revenue sums are exact decimals cast to double identically on
    both engines, so the MAX-equality join is safe."""
    cat = Catalog(spark, sf_dir)
    revenue = (
        cat.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_rev().cast("double").alias("total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        cat.supplier.join(
            bounded_broadcast(
                revenue.join(
                    bounded_broadcast(top, "scalar-agg", "1-row max revenue")
                ).where(F.col("total_revenue") == F.col("max_revenue")),
                "scalar-agg",
                "the suppliers tied at the max, ~1 row",
            ),
            F.col("s_suppkey") == F.col("supplier_no"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "rel_q16_supplier_counts",
    """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN (a null-free key subquery → anti-join)
    plus COUNT DISTINCT per part attribute. Complaint-supplier filter
    stands in as negative account balance (no s_comment column). The
    bad-supplier slice is supplier-proportional (scales with SF), so
    the anti-join carries no broadcast hint — AQE decides (r12
    audit)."""
    cat = Catalog(spark, sf_dir)
    ps = cat.lineitem.select("l_partkey", "l_suppkey").distinct()
    bad = cat.supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = cat.part.where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        ps.join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "rel_q17_small_quantity",
    """
WITH pq AS (
  SELECT l_partkey AS pq_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN pq ON pq_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sum_qty
""",
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average decorrelated into a
    grouped aggregate. The `qty < 0.2*avg` predicate is algebraized to
    `qty*5*cnt < sum_qty` so the comparison happens in exact decimals —
    no float-division boundary flakiness between engines."""
    cat = Catalog(spark, sf_dir)
    # Push the brand filter below BOTH uses of lineitem: the per-part
    # aggregate only matters for parts that survive the brand predicate,
    # so restrict first via a key join and aggregate the ~1/25
    # surviving rows instead of the whole table. The per-part totals are
    # identical (the filter is a whole-group predicate on l_partkey).
    # The brand slice is part-proportional (scales with SF) — no
    # mandatory broadcast; AQE upgrades the join while it fits (r12
    # audit).
    brand_parts = cat.part.where(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    li = cat.lineitem.select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).join(brand_parts, F.col("p_partkey") == F.col("l_partkey")).drop(
        "p_partkey"
    )
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li.join(pq, F.col("pq_partkey") == F.col("l_partkey"))
        .where(_dec("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "rel_q20_promo_suppliers",
    """
SELECT s_name, s_suppkey
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CASE WHEN YEAR(l_shipdate) = 1996
             THEN CAST(l_quantity AS DECIMAL(18,2))
             ELSE CAST(0 AS DECIMAL(18,2)) END) * 2
       > SUM(CAST(l_quantity AS DECIMAL(18,2)))
     AND SUM(CAST(l_quantity AS DECIMAL(18,2))) >= 50
)
ORDER BY s_suppkey
""",
)
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN whose subquery is a correlated
    aggregate — suppliers who shipped more than half of a red part's
    all-time quantity during 1996 alone (availqty stand-in). The
    comparison is doubled instead of halved to stay in exact decimals."""
    cat = Catalog(spark, sf_dir)
    red = cat.part.where(F.col("p_name").like("red%")).select("p_partkey")
    qty_1996 = F.sum(
        F.when(F.year("l_shipdate") == 1996, _dec("l_quantity")).otherwise(
            F.lit(0).cast("decimal(18,2)")
        )
    )
    promo = (
        # the red-part slice is part-proportional — no mandatory
        # broadcast (r12 audit); AQE decides from observed size
        cat.lineitem.join(red, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(qty_1996.alias("q96"), F.sum(_dec("l_quantity")).alias("qall"))
        .where((F.col("q96") * 2 > F.col("qall")) & (F.col("qall") >= 50))
        .select("l_suppkey")
    )
    return (
        cat.supplier.join(
            promo, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .orderBy("s_suppkey")
        .select("s_name", "s_suppkey")
    )


@query(
    "rel_q21_waiting_supplier",
    """
WITH omax AS (
  SELECT l_orderkey AS mo_orderkey, MAX(l_shipdate) AS max_ship
  FROM lineitem GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM supplier
  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
  JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
  JOIN omax ON mo_orderkey = l1.l_orderkey AND l1.l_shipdate = max_ship
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate = max_ship)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS double correlation — the
    sole supplier holding an F-status multi-supplier order's max ship
    date (receipt/commit dates absent). EXISTS → left-semi with a
    non-equi term, NOT EXISTS → left-anti with the max-date term."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    omax = li.groupBy(F.col("l_orderkey").alias("mo_orderkey")).agg(
        F.max("l_shipdate").alias("max_ship")
    )
    l1 = (
        li.join(
            cat.orders.where(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .join(
            omax,
            (F.col("mo_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") == F.col("max_ship")),
        )
    )
    l2 = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("y_orderkey"),
        F.col("l_suppkey").alias("y_suppkey"),
        F.col("l_shipdate").alias("y_shipdate"),
    )
    waiting = (
        l1.join(
            l2,
            (F.col("x_orderkey") == F.col("l_orderkey"))
            & (F.col("x_suppkey") != F.col("l_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("y_orderkey") == F.col("l_orderkey"))
            & (F.col("y_suppkey") != F.col("l_suppkey"))
            & (F.col("y_shipdate") == F.col("max_ship")),
            "left_anti",
        )
    )
    return (
        waiting.join(
            # full supplier projection: supplier-proportional, so no
            # mandatory broadcast (r12 audit) — AQE decides
            cat.supplier.select("s_suppkey", "s_name"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
