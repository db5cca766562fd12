"""Behavioral-analytics and data-quality queries.

Extends the engine beyond the reference's sync surface with the
analysis layer an LMS/ERP warehouse team runs on top of the mirrored
data (funnel conversion, cohort retention, outlier screens, column
profiling, fuzzy entity matching) plus three more LLM-corpus operators
(unigram language-model scoring, pattern redaction, count-min-sketch
heavy hitters). Every query follows the registry contract: a
declarative Catalyst plan plus a DuckDB oracle with aligned column
names; value columns that would be order-sensitive double sums are
carried as exact integers/decimals instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..catalog import Catalog
from ..hints import bounded_broadcast
from ..operators import similarity as sim
from ..operators import text as tx
from .registry import query

# ------------------------------------------------------- event funnels


@query(
    "rel_funnel_conversion",
    """
WITH v AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t0
  WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT * FROM (
  SELECT 'view' AS stage, 1 AS stage_ord, COUNT(*) AS n_users FROM v
  UNION ALL SELECT 'click', 2, COUNT(*) FROM c
  UNION ALL SELECT 'purchase', 3, COUNT(*) FROM p)
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user
    advances a stage only with an event strictly after their entry into
    the previous stage (earliest-chain semantics).

    Scale: three aggregations and two joins, all keyed on ``user_id`` —
    one shuffle partitioning reused end-to-end, state per user is one
    timestamp. No window over the full event stream."""
    ev = Catalog(spark, sf_dir).events.select("user_id", "event_type", "ts")

    def stage(etype: str, prev: DataFrame | None) -> DataFrame:
        df = ev.where(F.col("event_type") == etype)
        if prev is not None:
            df = df.join(prev, "user_id").where(F.col("ts") > F.col("t_prev"))
        return df.groupBy("user_id").agg(F.min("ts").alias("t_prev"))

    v = stage("view", None)
    c = stage("click", v)
    p = stage("purchase", c)
    rows = [
        (v, "view", 1),
        (c, "click", 2),
        (p, "purchase", 3),
    ]
    counts = [
        df.agg(
            F.lit(name).alias("stage"),
            F.lit(ordn).alias("stage_ord"),
            F.count(F.lit(1)).alias("n_users"),
        )
        for df, name, ordn in rows
    ]
    out = counts[0]
    for extra in counts[1:]:
        out = out.unionByName(extra)
    return out


@query(
    "rel_cohort_retention",
    """
WITH firstday AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id),
act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT f.cohort_day, datediff('day', f.cohort_day, a.day) AS day_offset,
       COUNT(*) AS n_users
FROM act a JOIN firstday f ON a.user_id = f.user_id
GROUP BY f.cohort_day, datediff('day', f.cohort_day, a.day)
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-seen
    day, counted on each subsequent active day (day offset).

    Scale: the distinct (user, day) set and the first-day aggregate
    both partition on ``user_id``; the final rollup is over the tiny
    (cohort, offset) grid. No full-history window functions."""
    ev = Catalog(spark, sf_dir).events.select(
        "user_id", F.to_date("ts").alias("day")
    )
    firstday = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = ev.distinct()
    return (
        act.join(firstday, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------- statistical screens


@query(
    "rel_outlier_iqr",
    """
WITH v AS (
  SELECT event_type, CAST(ROUND(value * 1000000) AS BIGINT) AS v_micros
  FROM events),
q AS (
  SELECT event_type,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY v_micros) AS q1,
         percentile_cont(0.75) WITHIN GROUP (ORDER BY v_micros) AS q3
  FROM v GROUP BY event_type)
SELECT v.event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN v.v_micros < q.q1 - 1.5 * (q.q3 - q.q1)
                  OR v.v_micros > q.q3 + 1.5 * (q.q3 - q.q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       q.q1 AS q1_micros, q.q3 AS q3_micros
FROM v JOIN q ON v.event_type = q.event_type
GROUP BY v.event_type, q.q1, q.q3
""",
)
def outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier screen per event type (1.5x IQR beyond the
    exact interpolated quartiles). Values are pre-scaled to integer
    micro-units so the quartile interpolation arithmetic is identical
    in both engines.

    Scale: quartiles here are exact (sorted per group) for parity; an
    unbounded group would use ``approx_percentile`` — same fences, one
    sketch pass. The per-group quartile table is tiny and broadcast."""
    v = Catalog(spark, sf_dir).events.select(
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_micros"),
    )
    q = v.groupBy("event_type").agg(
        F.percentile("v_micros", F.lit(0.25)).alias("q1"),
        F.percentile("v_micros", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr
    return (
        v.join(bounded_broadcast(q, "enum-bounded", "per event_type"), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when((F.col("v_micros") < lo) | (F.col("v_micros") > hi), 1)
                .otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_rows",
            "n_outliers",
            F.col("q1").alias("q1_micros"),
            F.col("q3").alias("q3_micros"),
        )
    )


@query(
    "rel_profile_columns",
    """
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(c_name) AS nn_name,
         COUNT(DISTINCT c_name) AS nd_name,
         MIN(c_name) AS min_name, MAX(c_name) AS max_name,
         COUNT(c_mktsegment) AS nn_seg,
         COUNT(DISTINCT c_mktsegment) AS nd_seg,
         MIN(c_mktsegment) AS min_seg, MAX(c_mktsegment) AS max_seg,
         COUNT(c_acctbal) AS nn_bal,
         COUNT(DISTINCT c_acctbal) AS nd_bal,
         MIN(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS min_bal,
         MAX(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS max_bal,
         COUNT(c_nationkey) AS nn_nat,
         COUNT(DISTINCT c_nationkey) AS nd_nat,
         MIN(CAST(c_nationkey AS BIGINT) * 100) AS min_nat,
         MAX(CAST(c_nationkey AS BIGINT) * 100) AS max_nat
  FROM customer)
SELECT 'c_name' AS col_name, n_rows, n_rows - nn_name AS n_nulls,
       nd_name AS n_distinct, min_name AS min_str, max_name AS max_str,
       CAST(NULL AS BIGINT) AS min_num_cents,
       CAST(NULL AS BIGINT) AS max_num_cents
FROM s
UNION ALL
SELECT 'c_mktsegment', n_rows, n_rows - nn_seg, nd_seg,
       min_seg, max_seg, NULL, NULL FROM s
UNION ALL
SELECT 'c_acctbal', n_rows, n_rows - nn_bal, nd_bal,
       NULL, NULL, min_bal, max_bal FROM s
UNION ALL
SELECT 'c_nationkey', n_rows, n_rows - nn_nat, nd_nat,
       NULL, NULL, min_nat, max_nat FROM s
""",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling operator (null counts, exact cardinality,
    min/max) — the data-quality screen run before any sync or training
    job admits a table.

    Numeric min/max are emitted as BIGINT *cents* (``round(x*100)``
    applied per row, identically in the DuckDB oracle) — the repo's
    exact-integer convention, so the driver hash never depends on
    decimal/float rendering.

    Scale: ONE aggregate over ONE column-pruned scan of the table (the
    previous shape unioned four full-table aggregates = four scans; at
    100 TB a 4x scan multiplier on a profiling pre-flight is real
    money), then a ``stack`` unpivot of the single stats row. The
    multi-column COUNT(DISTINCT) expands the input 4x inside the
    aggregate (Spark's Expand operator), still one pass over parquet;
    a 100 TB profile would switch to ``approx_count_distinct`` which
    drops the Expand entirely (same plan shape otherwise)."""
    cust = Catalog(spark, sf_dir).customer
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    nat_cents = F.col("c_nationkey").cast("long") * 100
    s = cust.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_name").alias("nn_name"),
        F.countDistinct("c_name").alias("nd_name"),
        F.min("c_name").alias("min_name"),
        F.max("c_name").alias("max_name"),
        F.count("c_mktsegment").alias("nn_seg"),
        F.countDistinct("c_mktsegment").alias("nd_seg"),
        F.min("c_mktsegment").alias("min_seg"),
        F.max("c_mktsegment").alias("max_seg"),
        F.count("c_acctbal").alias("nn_bal"),
        F.countDistinct("c_acctbal").alias("nd_bal"),
        F.min(cents).alias("min_bal"),
        F.max(cents).alias("max_bal"),
        F.count("c_nationkey").alias("nn_nat"),
        F.countDistinct("c_nationkey").alias("nd_nat"),
        F.min(nat_cents).alias("min_nat"),
        F.max(nat_cents).alias("max_nat"),
    )
    return s.select(
        F.expr(
            """stack(4,
  'c_name', n_rows, n_rows - nn_name, nd_name,
      min_name, max_name, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
  'c_mktsegment', n_rows, n_rows - nn_seg, nd_seg,
      min_seg, max_seg, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
  'c_acctbal', n_rows, n_rows - nn_bal, nd_bal,
      CAST(NULL AS STRING), CAST(NULL AS STRING), min_bal, max_bal,
  'c_nationkey', n_rows, n_rows - nn_nat, nd_nat,
      CAST(NULL AS STRING), CAST(NULL AS STRING), min_nat, max_nat
) AS (col_name, n_rows, n_nulls, n_distinct,
      min_str, max_str, min_num_cents, max_num_cents)"""
        )
    )


@query(
    "rel_dq_expectations",
    """
WITH base AS (
  SELECT COUNT(*) AS n,
         COUNT(DISTINCT o_orderkey) AS nd_key,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_cust,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS bad_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_date
  FROM orders),
fk AS (
  SELECT COUNT(*) AS orphans
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL)
SELECT 'orderkey_unique' AS check_name,
       CAST(n - nd_key AS BIGINT) AS violations,
       (n = nd_key) AS passed FROM base
UNION ALL SELECT 'custkey_not_null', null_cust, null_cust = 0 FROM base
UNION ALL SELECT 'totalprice_positive', bad_price, bad_price = 0 FROM base
UNION ALL SELECT 'orderstatus_in_domain', bad_status, bad_status = 0
  FROM base
UNION ALL SELECT 'orderdate_complete', null_date, null_date = 0 FROM base
UNION ALL SELECT 'custkey_fk_customer', CAST(orphans AS BIGINT),
  orphans = 0 FROM fk
""",
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over ``orders`` (the
    Deequ-style admission gate a pipeline runs before trusting a
    snapshot): key uniqueness, not-null completeness, value bounds,
    categorical domain membership, and referential integrity to
    ``customer`` — each reported as (check_name, violations, passed).

    Scale: every row-local check folds into ONE aggregate over one
    column-pruned scan of orders (violations counted with conditional
    sums; uniqueness as ``n - count_distinct``), then a ``stack``
    unpivot of the single observation row — adding a check adds a
    column, not a scan. The FK check is the one necessarily-relational
    piece: an anti-join against customer keys, its strategy left to
    AQE (the dimension side broadcasts while it fits; at 100 TB both
    sides shuffle on the key). Total: one fact scan + one key join,
    independent of the number of checks. Delegates to
    ``operators/dq.py`` — the same suite machinery
    ``pipeline.engine.SyncEngine`` runs as its mirror admission
    gate."""
    from ..operators import dq

    cat = Catalog(spark, sf_dir)
    checks = [
        dq.UniqueCheck("orderkey_unique", ("o_orderkey",)),
        dq.RowCheck("custkey_not_null", F.col("o_custkey").isNull()),
        dq.RowCheck("totalprice_positive", F.col("o_totalprice") <= 0),
        dq.RowCheck(
            "orderstatus_in_domain",
            ~F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        dq.RowCheck("orderdate_complete", F.col("o_orderdate").isNull()),
        dq.FkCheck(
            "custkey_fk_customer",
            ("o_custkey",),
            cat.customer,
            ("c_custkey",),
        ),
    ]
    return dq.dq_report(cat.orders, checks)


@query(
    "rel_incremental_agg_merge",
    """
SELECT o_orderstatus,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(MIN(ROUND(o_totalprice * 100)) AS BIGINT) AS min_cents,
       CAST(MAX(ROUND(o_totalprice * 100)) AS BIGINT) AS max_cents
FROM orders
GROUP BY o_orderstatus, EXTRACT(year FROM o_orderdate)
""",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the (status, year) sales
    rollup is computed as two independent PARTIAL aggregate states — a
    "base" snapshot (orders before 1998) and a "delta" batch (1998+) —
    merged algebraically (counts and sums add, mins/maxes combine).
    The oracle computes the rollup DIRECTLY over all orders, so the
    driver hash proves state-merge == full recompute, the invariant an
    incremental materialized view relies on.

    Scale: this is the pattern that turns a 100 TB nightly recompute
    into a delta-sized one — the base state is group-count-sized
    (persisted/stored once), each new batch aggregates only its own
    rows, and the merge is an aggregation over two group-count-sized
    states. All measures are exact integer cents, so merge order
    cannot perturb the result (float partial sums would)."""
    orders = Catalog(spark, sf_dir).orders
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cut = F.lit("1998-01-01").cast("date")

    def state(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                "o_orderstatus",
                F.year("o_orderdate").cast("long").alias("order_year"),
            ).agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(cents).alias("total_cents"),
                F.min(cents).alias("min_cents"),
                F.max(cents).alias("max_cents"),
            )
        )

    base = state(orders.where(F.col("o_orderdate") < cut))
    delta = state(orders.where(F.col("o_orderdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("o_orderstatus", "order_year")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )


@query(
    "rel_cascade_delete_impact",
    """
WITH victims AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
ord AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM victims))
SELECT 'customer' AS table_name, 1 AS fk_depth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM victims) AS affected_rows
UNION ALL
SELECT 'orders', 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM ord)
UNION ALL
SELECT 'lineitem', 3,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM ord))
""",
)
def cascade_delete_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-request impact analysis (GDPR right-to-be-forgotten
    pre-flight): given a victim set of customers, count the rows each
    FK-dependent table would lose, in dependency order — the dry-run a
    sync/governance pipeline executes before the FK-ordered deletes
    the reference applies on its update path (SURVEY.md O1, reversed
    for deletion).

    Scale: each level is a LEFT SEMI join on the parent's key set —
    the victim key sets are deletion-sized, so every semi-join
    broadcasts (AQE's call, no hint), and the fact tables are scanned
    once each with only their key columns read. No row data moves,
    only counts."""
    cat = Catalog(spark, sf_dir)
    victims = cat.customer.where(F.col("c_custkey") % 97 == 0).select(
        "c_custkey"
    )
    ords = cat.orders.join(
        victims, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey")
    items = cat.lineitem.join(
        ords, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )

    def level(df: DataFrame, name: str, depth: int) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("affected_rows")).select(
            F.lit(name).alias("table_name"),
            F.lit(depth).alias("fk_depth"),
            "affected_rows",
        )

    return (
        level(victims, "customer", 1)
        .unionByName(level(ords, "orders", 2))
        .unionByName(level(items, "lineitem", 3))
    )


@query(
    "rel_mirror_drift_buckets",
    """
WITH ck AS (
  SELECT o_orderkey % 64 AS bucket,
         o_orderkey * 1000003 + o_custkey AS rck,
         o_orderkey
  FROM orders),
src AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS src_rows,
         CAST(SUM(rck) AS BIGINT) AS src_checksum
  FROM ck GROUP BY bucket),
mir AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS mir_rows,
         CAST(SUM(rck) AS BIGINT) AS mir_checksum
  FROM ck WHERE o_orderkey % 9973 <> 0 GROUP BY bucket)
SELECT bucket,
       COALESCE(src_rows, 0) AS src_rows,
       COALESCE(src_checksum, 0) AS src_checksum,
       COALESCE(mir_rows, 0) AS mir_rows,
       COALESCE(mir_checksum, 0) AS mir_checksum
FROM src FULL OUTER JOIN mir USING (bucket)
WHERE COALESCE(src_rows, 0) <> COALESCE(mir_rows, 0)
   OR COALESCE(src_checksum, 0) <> COALESCE(mir_checksum, 0)
""",
)
def mirror_drift_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style mirror reconciliation (the scale-correct form of
    the reference's implicit "is the mirror current?" question): a
    simulated drifted mirror (orders minus every 9973rd key) is
    compared to the source via per-bucket counts + commutative integer
    checksums; only disagreeing buckets surface, each pre-scoped for a
    row-level snapshot_diff.

    Scale: one aggregation pass per side (map-side partial to 64
    bucket rows), a bucket-count-sized compare, and NO table-level
    join or shuffle — at 100 TB the row diff runs only inside the
    (typically few) drifted buckets. The checksum is a portable
    integer expression, not engine-specific hash()."""
    from ..operators.diff import drift_buckets

    orders = Catalog(spark, sf_dir).orders
    checksum = F.col("o_orderkey") * 1000003 + F.col("o_custkey")
    mirror = orders.where(F.col("o_orderkey") % 9973 != 0)
    return drift_buckets(
        orders, mirror, checksum, F.col("o_orderkey"), n_buckets=64
    )


@query(
    "rel_mirror_reconcile_rows",
    """
SELECT o_orderkey, 'missing_in_mirror' AS status
FROM orders WHERE o_orderkey % 9973 = 0
""",
)
def mirror_reconcile_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase two of Merkle reconciliation: the row-level repair diff,
    computed ONLY inside the drifted buckets (broadcast semi-join on
    the drift_buckets output — no driver collect). The oracle states
    the ground truth directly (every 9973rd key is missing from the
    simulated mirror), so the hash proves the bucket-scoped diff finds
    exactly the full-table diff.

    Scale: see ``operators/diff.py:reconcile_mirror`` — checksum
    passes + a diff over the drifted slice instead of an all-table
    anti-join pair; with localized drift the row-level work reads a
    few buckets, not the table."""
    from ..operators.diff import reconcile_mirror

    orders = Catalog(spark, sf_dir).orders
    checksum = F.col("o_orderkey") * 1000003 + F.col("o_custkey")
    mirror = orders.where(F.col("o_orderkey") % 9973 != 0)
    return reconcile_mirror(
        orders,
        mirror,
        ["o_orderkey"],
        checksum,
        F.col("o_orderkey"),
        n_buckets=64,
    )


@query(
    "rel_cdc_log_compaction",
    """
WITH log AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         CAST(ROUND(value * 1000000) AS BIGINT) AS value_micros
  FROM events),
latest AS (
  SELECT user_id, op, value_micros, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM log)
SELECT user_id, value_micros AS last_value_micros, ts AS last_ts
FROM latest WHERE rn = 1 AND op = 'U'
""",
)
def cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction (last-writer-wins upsert apply with
    tombstones): the events table read as an ordered change log —
    'error' events act as deletes, everything else as upserts — and
    compacted to current state: the latest surviving value per key,
    keys whose latest op is a delete dropped entirely. This is the
    materialize step of any log-shipped mirror (Kafka-compaction /
    CDC-apply semantics) and the streaming-sync family's batch twin.

    Scale: ONE shuffle on the key with a deterministic tie-broken
    top-1 window (ts, then event_id — never ambiguous under
    concurrent timestamps); values carried as exact integer micros.
    At 100 TB the log arrives partitioned by key (Kafka/CDC topics
    already are), so AQE sees a pre-partitioned exchange; compaction
    state per key is one row."""
    ev = Catalog(spark, sf_dir).events
    from pyspark.sql import Window as W

    log = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("value") * 1_000_000)
        .cast("long")
        .alias("value_micros"),
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.col("value_micros").alias("last_value_micros"),
            F.col("ts").alias("last_ts"),
        )
    )


@query(
    "rel_join_size_profile",
    """
WITH a AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
b AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1),
j AS (SELECT a.k, ca, cb FROM a JOIN b USING (k))
SELECT CAST(SUM(ca * cb) AS BIGINT) AS join_rows,
       CAST(COUNT(*) AS BIGINT) AS matching_keys,
       CAST(MAX(ca * cb) AS BIGINT) AS max_key_rows,
       CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS left_keys,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS right_keys
FROM j
""",
)
def join_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality profiler: the exact output size, matching-key
    count, and worst single-key contribution of orders ⋈ lineitem on
    the order key — the pre-flight that prices a shuffle join (and
    exposes key skew: ``max_key_rows`` vs ``join_rows/matching_keys``)
    before anyone runs it.

    Scale: |join| = Σ_k ca(k)·cb(k) needs only the two per-key COUNT
    tables — each a map-side-partial aggregate to key-count size —
    joined on the key: never the join itself. At 100 TB this is the
    difference between an O(keys) estimate pass and materializing a
    possibly-exploding join; the same shape with HLL per bucket gives
    the approximate form when even key-count tables are too big.
    Delegates to ``operators/profiling.py`` (the unified pre-flight
    module)."""
    from ..operators import profiling

    cat = Catalog(spark, sf_dir)
    return profiling.join_size_profile(
        cat.orders, cat.lineitem, "o_orderkey", "l_orderkey"
    )


# ------------------------------------------------ fuzzy entity matching


@query(
    "rel_fuzzy_part_match",
    """
WITH names AS (
  SELECT p_name, split_part(p_name, ' ', 2) AS block, COUNT(*) AS n
  FROM part GROUP BY p_name, split_part(p_name, ' ', 2))
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist,
       a.n AS n_a, b.n AS n_b
FROM names a JOIN names b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
)
def fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution at the canonical-value level:
    distinct part names are blocked on their noun token, and name pairs
    within Levenshtein distance 2 surface as merge candidates, each
    carrying the entity counts it would merge — the standard
    block-then-verify shape for reconciling an entity registry.

    Scale: the expensive edit-distance verify runs on DISTINCT names
    (vocabulary-sized, not table-sized), the self-join is an equi-join
    on the blocking key, and the output is bounded by the name
    vocabulary squared per block — invariant to row-count growth. A
    skewed block would be capped like the hot-shingle guard in
    ``operators/dedup.py``."""
    names = (
        Catalog(spark, sf_dir)
        .part.groupBy(
            "p_name", F.split("p_name", " ").getItem(1).alias("block")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = names.select(
        F.col("p_name").alias("name_a"), "block", F.col("n").alias("n_a")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), "block", F.col("n").alias("n_b")
    )
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 2)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


# ------------------------------------------------- LLM corpus additions


@query(
    "llm_text_unigram_lm",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents),
cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
tot AS (SELECT SUM(c) AS n FROM cnt),
scored AS (
  SELECT t.doc_id,
         CAST(ROUND(LN(CAST(c.c AS DOUBLE) / t2.n) * 1000000) AS BIGINT)
           AS lp_micros
  FROM tok t JOIN cnt c ON t.w = c.w CROSS JOIN tot t2)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(lp_micros) AS BIGINT) AS sum_logprob_micros
FROM scored GROUP BY doc_id
""",
)
def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: each document's total corpus
    log-likelihood — the cheap perplexity proxy used to rank training
    text before an expensive model-based score. Per-token log-probs are
    quantized to integer micro-nats in the plan so the document sum is
    exact-integer (order-independent) for the oracle hash.

    Scale: token explode -> one groupBy for the vocabulary -> hash join
    tokens-to-vocab. The vocabulary join key is the token itself;
    stop-word skew is bounded because the vocab side carries one row
    per word. The corpus total is a 1-row cross join, not a collect."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(tx.ws_tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(cnt, "w")
        .crossJoin(bounded_broadcast(tot, "scalar-agg", "1-row token total"))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("c").cast("double") / F.col("n")) * 1_000_000
            )
            .cast("long")
            .alias("lp_micros"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp_micros").alias("sum_logprob_micros"),
    )


# per-source unigram-KL CTEs (ends in ``kl(source, n_tokens,
# kl_micronats)``) — shared by the divergence row and the DoReMi
# domain-mix row so the excess-loss signal cannot drift between them
_DIVERGENCE_CTES = r"""tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents),
sc AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source),
cc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
ct AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cc),
contrib AS (
  SELECT sc.source, st.n AS n_tokens,
         sc.c * CAST(ROUND(LN((CAST(sc.c AS DOUBLE) * ct.n)
                              / (CAST(st.n AS DOUBLE) * cc.c))
                           * 1000000) AS BIGINT) AS m
  FROM sc
  JOIN cc ON cc.w = sc.w
  JOIN st ON st.source = sc.source
  CROSS JOIN ct),
kl AS (
  SELECT source,
         MAX(n_tokens) AS n_tokens,
         CAST(CAST(SUM(m) AS BIGINT) // MAX(n_tokens) AS BIGINT)
           AS kl_micronats
  FROM contrib GROUP BY source)"""


@query(
    "llm_corpus_divergence",
    rf"""
WITH {_DIVERGENCE_CTES}
SELECT source, n_tokens, kl_micronats FROM kl
""",
)
def corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift detector: per-source KL divergence
    KL(P_source || P_corpus) over the unigram distribution, in exact
    integer micro-nats — the drift score a corpus-curation pipeline
    watches when a new crawl/source lands (a source whose language
    model diverges from the pool gets human eyes before it trains).
    Per-term log-ratio contributions are quantized per (source, term)
    then summed as integers, so the score is partial-aggregation-order
    independent (same convention as ``llm_text_unigram_lm``); every
    source term exists in the pooled corpus by construction, so no
    smoothing term is needed.

    Scale: token explode -> two grouped counts (source×term and term,
    both map-side-partial) -> a vocabulary-keyed hash join -> one
    grouped sum; output is source-cardinality-sized. The corpus total
    is a broadcast 1-row cross join."""
    docs = Catalog(spark, sf_dir).documents
    return _divergence_frame(docs)


def _divergence_frame(docs: DataFrame) -> DataFrame:
    """(source, n_tokens, kl_micronats) — Spark twin of
    ``_DIVERGENCE_CTES``; shared by the divergence and DoReMi rows."""
    tok = docs.select(
        "source", F.explode(tx.ws_tokens(F.col("text"))).alias("w")
    )
    sc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    cc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    ct = cc.agg(F.sum("cw").alias("nt"))
    contrib = (
        sc.join(cc, "w")
        .join(st.select("source", F.col("n").alias("n_tokens")), "source")
        .crossJoin(bounded_broadcast(ct, "scalar-agg", "1-row token total"))
        .select(
            "source",
            "n_tokens",
            (
                F.col("c")
                * F.round(
                    F.log(
                        (F.col("c").cast("double") * F.col("nt"))
                        / (F.col("n_tokens").cast("double") * F.col("cw"))
                    )
                    * 1_000_000
                ).cast("long")
            ).alias("m"),
        )
    )
    return contrib.groupBy("source").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.expr("sum(m) div max(n_tokens)").alias("kl_micronats"),
    )


@query(
    "llm_domain_mix_doremi",
    rf"""
WITH {_DIVERGENCE_CTES},
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM kl),
scored AS (
  SELECT kl.source, kl.n_tokens, kl.kl_micronats,
         (kl.n_tokens * 1000000) // tot.total AS share_ppm,
         CAST(floor(exp(CAST(kl.kl_micronats AS DOUBLE) / 1000000.0)
                    * 1000000 + 0.5) AS BIGINT) AS boost_micro,
         tot.n_sources
  FROM kl, tot),
weighted AS (
  SELECT *, (share_ppm * boost_micro) // 1000000 AS score
  FROM scored),
norm AS (SELECT CAST(SUM(score) AS BIGINT) AS z FROM weighted)
SELECT w.source, w.n_tokens, w.kl_micronats, w.share_ppm,
       w.boost_micro,
       CAST((w.score * 1000000) // norm.z AS BIGINT) AS doremi_weight_ppm,
       CAST((800000 * ((w.score * 1000000) // norm.z)
             + 200000 * (1000000 // w.n_sources)) // 1000000 AS BIGINT)
         AS smoothed_weight_ppm
FROM weighted w, norm
ORDER BY w.source
""",
)
def domain_mix_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain-mix reweighting (r9 verdict #6; Xie et al.
    2023, public paper) as exact-integer aggregation: per-source
    multiplicative-weights update w_i ∝ share_i * exp(excess_loss_i),
    normalized to ppm and smoothed 80/20 with the uniform mixture —
    the sampling weights the next training epoch draws from. The
    excess-loss signal is the per-source unigram KL vs the pooled
    corpus (``_DIVERGENCE_CTES``/``_divergence_frame``, shared with
    ``llm_corpus_divergence``): a deterministic stand-in for DoReMi's
    proxy-vs-reference loss gap that needs no model checkpoint, with
    the same monotone semantics (a domain the pooled model fits
    poorly gets up-weighted).

    Numeric contract: the only float is exp(), rounded half-up to
    micro-units (the sigmoid/micro-nat precedent); shares, scores,
    normalization, and the 80/20 smoothing are all BIGINT ppm
    arithmetic, so the driver hash pins the full mixture.

    Scale posture: everything after the shared KL frame is
    source-cardinality-sized (a handful of rows at any corpus size);
    the KL frame itself is two map-side-combined grouped counts and a
    vocabulary hash join — the same cost class the divergence row
    already probes."""
    docs = Catalog(spark, sf_dir).documents
    kl = _divergence_frame(docs)
    tot = kl.agg(
        F.sum("n_tokens").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    scored = kl.crossJoin(bounded_broadcast(tot, "scalar-agg", "1-row totals")).select(
        "source",
        "n_tokens",
        "kl_micronats",
        F.expr("(n_tokens * 1000000) div total").alias("share_ppm"),
        F.floor(
            F.exp(F.col("kl_micronats").cast("double") / 1_000_000.0)
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("boost_micro"),
        "n_sources",
    )
    weighted = scored.withColumn(
        "score", F.expr("(share_ppm * boost_micro) div 1000000")
    )
    norm = weighted.agg(F.sum("score").alias("z"))
    return (
        weighted.crossJoin(bounded_broadcast(norm, "scalar-agg", "1-row normalizer"))
        .select(
            "source",
            "n_tokens",
            "kl_micronats",
            "share_ppm",
            "boost_micro",
            F.expr("(score * 1000000) div z")
            .cast("long")
            .alias("doremi_weight_ppm"),
            F.expr(
                "(800000 * ((score * 1000000) div z)"
                " + 200000 * (1000000 div n_sources)) div 1000000"
            )
            .cast("long")
            .alias("smoothed_weight_ppm"),
        )
        .orderBy("source")
    )


@query(
    "llm_text_entropy",
    """
WITH ch AS (
  SELECT doc_id, unnest(split(text, '')) AS c FROM documents),
cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
n AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n FROM cc GROUP BY doc_id),
contrib AS (
  SELECT cc.doc_id, n.n,
         cc.k * CAST(ROUND(LN(CAST(cc.k AS DOUBLE) / n.n) * 1000000)
                     AS BIGINT) AS m
  FROM cc JOIN n ON n.doc_id = cc.doc_id)
SELECT doc_id, MAX(n) AS n_chars,
       CAST(-(CAST(SUM(m) AS BIGINT)) // MAX(n) AS BIGINT)
         AS entropy_micronats
FROM contrib GROUP BY doc_id
""",
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document in exact integer
    micro-nats — the cheap junk detector: binary blobs and base64 read
    high, repeated-character spam reads near zero, natural language
    sits in a stable band per script. Per-character-class log
    contributions are quantized then integer-summed (the
    ``llm_text_unigram_lm`` portability convention), so the score is
    aggregation-order independent.

    Scale: character explode (bounded by corpus bytes) -> two grouped
    counts partitioned by doc -> one narrow join back on doc_id; no
    global state, no vocabulary broader than (doc, char)."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    ch = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
    )
    cc = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    n = cc.groupBy("doc_id").agg(F.sum("k").alias("n"))
    contrib = cc.join(n, "doc_id").select(
        "doc_id",
        "n",
        (
            F.col("k")
            * F.round(
                F.log(F.col("k").cast("double") / F.col("n")) * 1_000_000
            ).cast("long")
        ).alias("m"),
    )
    return contrib.groupBy("doc_id").agg(
        F.max("n").alias("n_chars"),
        F.expr("-sum(m) div max(n)").alias("entropy_micronats"),
    )


@query(
    "llm_pii_redaction",
    r"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(length(props)
                - length(regexp_replace(props, '[0-9]', '', 'g')))
         AS BIGINT) AS n_digit_chars,
       CAST(SUM(CASE WHEN regexp_matches(props, '[0-9]') THEN 1 ELSE 0 END)
         AS BIGINT) AS n_rows_redacted,
       MIN(regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS sample_redacted
FROM events GROUP BY event_type
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-redaction scrub (the PII-removal pass of a training-data
    pipeline): numeric identifiers in the event payload are masked with
    a placeholder token, and the per-type audit trail (rows touched,
    characters removed) is emitted alongside a deterministic redacted
    sample.

    Scale: pure ``regexp_replace``/``length`` expressions — single
    narrow codegen stage, one tiny per-type aggregate; the same
    expressions redact in place when materializing a cleaned corpus."""
    ev = Catalog(spark, sf_dir).events.select("event_type", "props")
    digits_removed = F.length("props") - F.length(
        F.regexp_replace("props", "[0-9]", "")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(digits_removed).alias("n_digit_chars"),
        F.sum(
            F.when(F.col("props").rlike("[0-9]"), 1).otherwise(0)
        ).alias("n_rows_redacted"),
        F.min(F.regexp_replace("props", "[0-9]+", "<NUM>")).alias(
            "sample_redacted"
        ),
    )


CMS_WIDTH = 1024
CMS_DEPTH = 3
CMS_TOPK = 20


@query(
    "llm_heavy_hitters_cms",
    r"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents),
cnt AS (SELECT w, COUNT(*) AS exact_cnt FROM tok GROUP BY w)
SELECT w, exact_cnt, TRUE AS cms_within_bound
FROM cnt ORDER BY exact_cnt DESC, w LIMIT 20
""",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: the token-frequency sketch a
    100 TB corpus scan would maintain instead of an exact vocabulary.
    The sketch (depth 3 x width 1024, xxhash64 rows) is built in one
    aggregation; the top-k tokens' sketch estimates are then checked
    against their exact counts — CMS never underestimates, and the
    emitted boolean asserts the overestimate stays within 1% of the
    corpus mass (the oracle pins it TRUE, so a collision blowout fails
    the hash).

    Scale: the sketch is CMS_DEPTH x CMS_WIDTH cells REGARDLESS of
    corpus size — a constant-size broadcast — while the exact top-k
    side exists here only to audit the sketch. At 100 TB only the
    sketch pass and a candidate-set probe survive."""
    docs = Catalog(spark, sf_dir).documents.select("text")
    tok = docs.select(F.explode(tx.ws_tokens(F.col("text"))).alias("w"))

    # sketch: per (seed, bucket) counts — one shuffle of at most
    # DEPTH * WIDTH groups (map-side partial aggregation collapses the
    # token stream before the exchange)
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    ).alias("seed")
    sketch = (
        tok.select("w", seeds)
        .select(
            "seed",
            F.pmod(F.xxhash64("w", F.col("seed")), F.lit(CMS_WIDTH)).alias(
                "bucket"
            ),
        )
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )

    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_cnt"))
    total = cnt.agg(F.sum("exact_cnt").alias("n_total"))
    top = (
        cnt.orderBy(F.desc("exact_cnt"), F.asc("w"))
        .limit(CMS_TOPK)
        .crossJoin(bounded_broadcast(total, "scalar-agg", "1-row grand total"))
    )
    probes = top.select(
        "w",
        "exact_cnt",
        "n_total",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias(
            "seed"
        ),
    ).select(
        "w",
        "exact_cnt",
        "n_total",
        "seed",
        F.pmod(F.xxhash64("w", F.col("seed")), F.lit(CMS_WIDTH)).alias(
            "bucket"
        ),
    )
    est = (
        probes.join(bounded_broadcast(sketch, "k-row", "CMS cells"), ["seed", "bucket"])
        .groupBy("w", "exact_cnt", "n_total")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "w",
        "exact_cnt",
        (
            (F.col("cms_est") >= F.col("exact_cnt"))
            & (
                F.col("cms_est")
                <= F.col("exact_cnt") + F.col("n_total") / 100
            )
        ).alias("cms_within_bound"),
    )


# ------------------------------------------------ remaining SQL surface


@query(
    "rel_window_rank_surface",
    """
SELECT o_custkey, o_orderkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       PERCENT_RANK() OVER w AS prnk,
       CUME_DIST() OVER w AS cdist,
       NTILE(4) OVER w AS quartile
FROM orders WHERE o_custkey <= 50
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
""",
)
def window_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function surface (rank / dense_rank /
    percent_rank / cume_dist / ntile) in one pass over a single window
    definition. The ordering key is decimal-cast with an orderkey
    tiebreak so both engines rank an identical total order;
    percent_rank and cume_dist are exact rational formulas, safe to
    hash as doubles.

    Scale: one shuffle on the partition key, one sort per partition;
    all five functions share the frame."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").cast("decimal(18,2)"), "o_orderkey"
    )
    return (
        Catalog(spark, sf_dir)
        .orders.where(F.col("o_custkey") <= 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
            F.cume_dist().over(w).alias("cdist"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


@query(
    "rel_stats_moments",
    """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
         SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS corr_qty_price,
       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n
         AS covar_pop,
       sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n)
         AS stddev_pop_qty
FROM m
""",
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (Pearson correlation, population
    covariance and stddev) assembled from EXACT decimal moments: the
    built-in ``corr``/``covar_pop`` accumulate doubles in partition
    order and are not reproducible across engines, so the moments are
    summed as decimals (associative, exact) and the float math happens
    once per group in a fixed expression tree — bit-equal everywhere.

    Scale: a single grouped aggregation with map-side partials; the
    five decimal sums shuffle one row per group."""
    li = Catalog(spark, sf_dir).lineitem
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        "l_returnflag",
        "n",
        ((n * sxy - sx * sy)
         / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         ).alias("corr_qty_price"),
        ((sxy - sx * sy / n) / n).alias("covar_pop"),
        F.sqrt((sxx - sx * sx / n) / n).alias("stddev_pop_qty"),
    )


@query(
    "rel_array_hof_surface",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id < 200)
SELECT vec_id,
       len(e) AS dim,
       len(list_filter(e, x -> x > 0)) AS n_pos,
       CAST(ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), e),
                              (acc, x) -> acc + x) * 1000000) AS BIGINT)
         AS sum_micros,
       CAST(ROUND(list_dot_product(e, e) * 1000000) AS BIGINT)
         AS sumsq_micros,
       CAST(ROUND(list_dot_product(e, list_reverse(e)) * 1000000) AS BIGINT)
         AS revdot_micros,
       CAST(ROUND(list_max(e) * 1000000) AS BIGINT) AS max_micros
FROM v
""",
)
def array_hof_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function surface (transform / filter /
    aggregate / zip_with / reverse / array_max) over the embedding
    column, all folds sequential so DuckDB's list functions reproduce
    them bit-for-bit; float-derived values are quantized to micro-units
    in the plan before hashing.

    Scale: per-row narrow expressions, no shuffle at all; HOFs don't
    enter whole-stage codegen, so a throughput-critical version would
    move to an Arrow-batched pandas UDF (the trade documented on the
    LSH bucketing op)."""
    e = sim._to_double(F.col("embedding"))
    micros = lambda c: F.round(c * 1_000_000).cast("long")  # noqa: E731
    return (
        Catalog(spark, sf_dir)
        .embeddings.where(F.col("vec_id") < 200)
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
            micros(
                F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x)
            ).alias("sum_micros"),
            micros(sim.dot(F.col("embedding"), F.col("embedding"))).alias(
                "sumsq_micros"
            ),
            micros(
                sim.dot(F.col("embedding"), F.reverse(F.col("embedding")))
            ).alias("revdot_micros"),
            micros(F.array_max(e)).alias("max_micros"),
        )
    )


# ---------------------------------------------------- graph & sequences


def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * SUM(r.r // d.deg)) // 100 AS BIGINT) AS r
  FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst)"""


@query(
    "rel_triangle_count",
    """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey % 2 = 0),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges) t
  GROUP BY node),
e AS (
  SELECT edges.u, edges.v, du.deg AS du, dv.deg AS dv
  FROM edges
  JOIN deg du ON du.node = edges.u
  JOIN deg dv ON dv.node = edges.v),
oriented AS (
  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b
  FROM e),
wedges AS (
  SELECT e1.a AS a, e2.b AS c
  FROM oriented e1 JOIN oriented e2 ON e1.b = e2.a),
closed AS (
  SELECT w.a, w.c FROM wedges w
  WHERE EXISTS (SELECT 1 FROM oriented o
                WHERE o.a = w.a AND o.b = w.c))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS triangles
FROM closed
""",
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-purchase graph (distinct
    undirected edges from parts sharing an order) by DEGREE
    ORIENTATION: wedges generate only from each edge's lower-(deg, id)
    endpoint, so generation is bounded by Σ out-deg² = O(m^1.5)
    regardless of skew — one celebrity part cannot make the wedge set
    quadratic, the failure mode of the naive formulation. The global
    clustering signal behind recommender/graph-feature pipelines.

    Scale: two node-keyed shuffles (wedge equi-join + closing
    semi-join); no iteration, no driver state
    (``operators/graph.py:triangle_count``). The registered exercise
    samples half the orders (even keys) — wedge volume grows ~m^1.5,
    and the exact full-graph count is the same operator on the
    unfiltered edge set."""
    from ..operators.graph import triangle_count

    li = (
        Catalog(spark, sf_dir)
        .lineitem.where(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v")
    )
    edges = (
        a.join(b, "k")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return triangle_count(edges)


@query(
    "rel_pagerank_parts",
    """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),"""
    + _pagerank_iter_sql("r0", "r1")
    + ","
    + _pagerank_iter_sql("r1", "r2")
    + ","
    + _pagerank_iter_sql("r2", "r3")
    + """
SELECT node AS p_partkey, r AS rank_micros FROM r3
""",
)
def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    they appear in the same order), three iterations of exact
    integer-scaled rank propagation — the oracle unrolls the identical
    recurrence as chained CTEs, so the hash check covers every
    iteration's arithmetic, not just the final ranking.

    Scale: see ``operators/graph.py`` for the per-round cost. The edge
    build uses ONE shuffle (group baskets by order, then generate pairs
    narrowly from each basket array) instead of the naive
    distinct + self-join, which costs two wide shuffles of the full
    line-item table; per-order baskets are small, so the in-basket
    pair expansion is bounded (a pathological mega-basket would be
    capped before the explode). Out-degrees are computed UPSTREAM of
    the quadratic expansion — a part's degree is the sum of
    ``basket_size - 1`` over its baskets, one narrow explode of the
    persisted baskets — so the expanded edge list is consumed exactly
    once (straight into the adjacency persist), never materialized a
    second time just to count itself."""
    from ..caching import tracked_persist
    from ..operators.graph import pagerank_micros

    baskets = tracked_persist(
        Catalog(spark, sf_dir)
        .lineitem.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    degrees = (
        baskets.select(
            F.explode("parts").alias("node"),
            (F.size("parts") - 1).cast("long").alias("d"),
        )
        .groupBy("node")
        .agg(F.sum("d").alias("deg"))
        .where(F.col("deg") > 0)
    )
    edges = (
        baskets.select(F.explode("parts").alias("src"), "parts")
        .select("src", F.explode("parts").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    return pagerank_micros(edges, iterations=3, degrees=degrees).select(
        F.col("node").alias("p_partkey"), F.col("r").alias("rank_micros")
    )


@query(
    "rel_event_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (the path-analysis matrix behind "what do users do
    after X"). The per-user ordering carries an event_id tiebreak so
    both engines walk an identical sequence.

    Scale: one window pass partitioned by user, one tiny grouped
    count — the transition matrix is |event_types|^2 rows."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ------------------------------------------------- warehouse utilities


@query(
    "rel_scd2_user_history",
    """
SELECT user_id, event_type AS state, ts AS valid_from,
       COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id),
                TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
       CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM events WHERE user_id <= 50
""",
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from a change log: each
    state change opens a validity interval closed by the next change
    (lead over a deterministic per-key ordering), with the open tail
    flagged current and capped at the sentinel high date — the standard
    dimension-history shape a warehouse derives from the reference's
    daily mirror snapshots.  The sentinel is 2200-01-01 (not the
    conventional 9999-12-31) so downstream pandas/Arrow consumers with
    nanosecond timestamps can represent it; ``is_current`` carries the
    semantics, the sentinel is cosmetic.

    Scale: one window pass partitioned by the dimension key; no joins.
    Incremental maintenance reuses the partition-scoped MERGE upsert
    (``pipeline/mirror.py``) to close only the affected keys' tails."""
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") <= 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.coalesce(
            nxt, F.lit("2200-01-01 00:00:00").cast("timestamp_ntz")
        ).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "rel_dim_surrogate_keys",
    """
WITH dims AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source)
SELECT lang, source, n_docs,
       CAST(DENSE_RANK() OVER (ORDER BY lang, source) AS BIGINT)
         AS dim_key
FROM dims
""",
)
def dim_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key assignment for a dimension: dense
    rank over the natural key's stable order — reproducible across
    runs and engines, unlike ``monotonically_increasing_id`` (values
    depend on partition layout) or sequence tables (stateful).

    Scale posture — the part that matters: the global-order window
    runs on the DISTINCT dimension table (vocabulary-sized, here
    lang x source), never the fact table; facts then pick up keys via
    an ordinary broadcast/hash join on the natural key. A global rank
    over facts would funnel 100 TB through one partition — the
    classic trap this query's shape avoids by construction."""
    dims = (
        Catalog(spark, sf_dir)
        .documents.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.orderBy("lang", "source")
    return dims.select(
        "lang",
        "source",
        "n_docs",
        F.dense_rank().over(w).cast("long").alias("dim_key"),
    )


@query(
    "llm_dedup_rate_by_source",
    """
WITH h AS (SELECT doc_id, source, md5(text) AS hsh FROM documents),
g AS (SELECT hsh, COUNT(*) AS k FROM h GROUP BY hsh)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST((SUM(CASE WHEN g.k > 1 THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS dup_ppm
FROM h JOIN g ON g.hsh = h.hsh
GROUP BY source
""",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication diagnostics by provenance: the fraction of each
    source's documents that sit in a multi-document exact-hash group —
    the triage table that says WHICH feed ships duplicates before
    anyone tunes near-dup thresholds (a source at 30% exact-dup ppm
    has an ingestion bug, not a similarity problem).

    Scale: content hashes are md5(text) computed in one narrow pass;
    the group-size join is hash-keyed; output is source-cardinality-
    sized. Same skeleton as ``llm_dedup_exact``, aggregated to the
    management view."""
    docs = Catalog(spark, sf_dir).documents
    h = docs.select("doc_id", "source", F.md5("text").alias("hsh"))
    g = h.groupBy("hsh").agg(F.count(F.lit(1)).alias("k"))
    dup = (F.col("k") > 1).cast("long")
    return (
        h.join(g, "hsh")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(dup).alias("n_dup_docs"),
            F.expr(
                "(sum(CAST(k > 1 AS BIGINT)) * 1000000) div count(*)"
            ).alias("dup_ppm"),
        )
    )


@query(
    "rel_salted_distinct",
    """
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderstatus
""",
)
def salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe EXACT distinct count: two-phase aggregation salted on
    ``custkey % 64``. Because the salt partitions the counted key
    space disjointly, per-(group, salt) distinct counts SUM exactly —
    no approximation. The pattern that saves a COUNT(DISTINCT) whose
    group key is badly skewed (3 statuses here): a plain distinct
    aggregate funnels each group's entire key set through one
    partition, while the salted form spreads it over 64 and the final
    merge moves only 64 small rows per group. The oracle states the
    plain COUNT(DISTINCT) — the driver hash proves the two-phase form
    is exactly equal.

    Scale: Spark compiles this to three keyed exchanges — (group,
    salt, key) for the distinct expansion, (group, salt), then the
    3-row (group) merge — and every pre-merge exchange carries the
    salt or the full key, so no stage funnels a group's key set
    through one partition (plan-audit-tested). The bitmap
    (``rel_bitmap_distinct``) and HLL (``rel_approx_distinct``) forms
    are the constant-state alternatives; this one stays exact."""
    orders = Catalog(spark, sf_dir).orders
    p1 = orders.groupBy(
        "o_orderstatus",
        F.pmod(F.col("o_custkey"), F.lit(64)).alias("_salt"),
    ).agg(
        F.countDistinct("o_custkey").alias("_nd"),
        F.count(F.lit(1)).alias("_n"),
    )
    return p1.groupBy("o_orderstatus").agg(
        F.sum("_nd").cast("long").alias("n_customers"),
        F.sum("_n").cast("long").alias("n_orders"),
    )


@query(
    "rel_event_burst_pairs",
    """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE user_id <= 60)
SELECT a.user_id, a.event_id AS e1, b.event_id AS e2,
       abs(b.us - a.us) AS delta_micros
FROM e a JOIN e b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
WHERE abs(b.us - a.us) <= 600000000
""",
)
def event_burst_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self range-join: pairs of events from the same user within 10
    minutes of each other (burst/co-occurrence detection). The oracle
    states the naive O(n² per user) interval self-join; the plan runs
    the SCALE form — a time-bucketed equi-join: each event joins only
    its own and adjacent 10-minute buckets (3 candidate buckets, each
    pair matched exactly once since one bucket offset equals the
    partner's), then the exact |Δt| filter. Candidates are bounded by
    per-bucket density, never per-user history length.

    Scale: the shuffle key is (user_id, bucket) — fine-grained and
    time-local, so a year of history adds buckets (parallelism), not
    per-key width; the equivalent range-join hint form is
    ``/*+ RANGE_JOIN(e, 600000000) */`` on engines that support it."""
    ev = (
        Catalog(spark, sf_dir)
        .events.where(F.col("user_id") <= 60)
        .select("event_id", "user_id", F.unix_micros("ts").alias("us"))
    )
    bucket = F.expr("us div 600000000")  # exact integer floor-div
    a = ev.select(
        F.col("user_id"),
        F.col("event_id").alias("e1"),
        F.col("us").alias("us1"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("nb"),
    )
    b = ev.select(
        F.col("user_id"),
        F.col("event_id").alias("e2"),
        F.col("us").alias("us2"),
        bucket.alias("nb"),
    )
    return (
        a.join(b, ["user_id", "nb"])
        .where(
            (F.col("e1") < F.col("e2"))
            & (F.abs(F.col("us2") - F.col("us1")) <= 600_000_000)
        )
        .select(
            "user_id",
            "e1",
            "e2",
            F.abs(F.col("us2") - F.col("us1")).alias("delta_micros"),
        )
    )


@query(
    "rel_value_histogram",
    """
WITH mm AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
         COUNT(*) AS total
  FROM orders)
SELECT CASE WHEN hi = lo THEN 0
            ELSE LEAST(19, CAST(floor((o_totalprice - lo)
                                      / ((hi - lo) / 20.0)) AS INT))
       END AS bucket_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST((COUNT(*) * 1000000) // MAX(total) AS BIGINT) AS share_ppm
FROM orders, mm
GROUP BY 1
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of the order price — the
    value-shape complement of ``rel_key_skew_profile``: read a
    distribution before choosing range-partition bounds, salting
    thresholds, or sort keys. Bucket assignment is deterministic
    across engines because every step is an exactly-rounded IEEE
    double op. Delegates to ``operators/profiling.py`` (the unified
    pre-flight module).

    Scale: a 1-row broadcast min/max plus one bucketed count over a
    column-pruned scan."""
    from ..operators import profiling

    return profiling.equi_width_histogram(
        Catalog(spark, sf_dir).orders, "o_totalprice", buckets=20
    )


@query(
    "rel_temporal_state_join",
    """
WITH hist AS (
  SELECT user_id, event_type AS state, ts AS valid_from,
         COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id),
                  TIMESTAMP '2200-01-01 00:00:00') AS valid_to
  FROM events WHERE user_id <= 30 AND event_type <> 'purchase'),
obs AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE user_id <= 30 AND event_type = 'purchase')
SELECT o.event_id, o.user_id, h.state,
       CAST(ROUND(o.value * 100) AS BIGINT) AS value_cents
FROM obs o JOIN hist h
  ON h.user_id = o.user_id
 AND o.ts >= h.valid_from AND o.ts < h.valid_to
""",
)
def temporal_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval temporal join — the effective-dated dimension
    lookup every warehouse runs: each purchase event joins the SCD2
    state interval (built from the non-purchase change log, half-open
    [valid_from, valid_to)) that was current at its timestamp. At most
    one interval matches per event by construction (purchases before a
    user's first state change drop out of the inner join), which the
    driver hash proves.

    Scale: an equi-join on the entity key with the interval predicate
    as residual — per-key interval lists are change-history-sized, so
    the sort-merge/hash join stays key-partitioned with no interval
    blow-up; the pathological case (one entity, millions of intervals)
    is the key-skew profile's job to catch first."""
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") <= 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(w),
            F.lit("2200-01-01 00:00:00").cast("timestamp_ntz"),
        ).alias("valid_to"),
    )
    obs = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return (
        obs.join(
            hist,
            (obs["user_id"] == hist["user_id"])
            & (obs["ts"] >= hist["valid_from"])
            & (obs["ts"] < hist["valid_to"]),
        )
        .select(
            "event_id",
            obs["user_id"],
            "state",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )


@query(
    "rel_key_skew_profile",
    """
WITH k AS (
  SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey),
t AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM k)
SELECT k.key, k.n, CAST((k.n * 1000000) // t.total AS BIGINT) AS share_ppm,
       t.n_keys AS n_distinct_keys
FROM k, t
ORDER BY k.n DESC, k.key LIMIT 10
""",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the top heavy keys of a prospective
    shuffle key with their exact parts-per-million share of the table —
    the diagnostic that decides between a plain shuffle join, AQE skew
    handling, or explicit salting (``operators/relational.salted_join``).

    Scale: one grouped count (map-side partials), a 1-row total, and a
    top-k sort over the per-key counts — the profile never materializes
    more than the key histogram. Delegates to
    ``operators/profiling.py`` (the unified pre-flight module)."""
    from ..operators import profiling

    return profiling.key_skew_profile(
        Catalog(spark, sf_dir).orders, "o_custkey", top_k=10
    )


@query(
    "rel_window_value_surface",
    """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_ok,
       LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
         ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_ok,
       NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey
         ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_ok,
       LAG(o_orderkey, 1, -1) OVER w AS prev_ok,
       LEAD(o_orderkey, 2) OVER w AS next2_ok
FROM orders WHERE o_custkey <= 50
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
""",
)
def window_value_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value-function surface: first_value / last_value /
    nth_value over an explicit unbounded frame (last_value's default
    frame ends at CURRENT ROW — the classic trap — so the frame is
    spelled out identically in both engines), plus lag with an
    explicit default and a 2-step lead.

    Scale: single window pass, same partition/sort reused by all five
    functions."""
    price = F.col("o_totalprice").cast("decimal(18,2)")
    w = Window.partitionBy("o_custkey").orderBy(price, "o_orderkey")
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        Catalog(spark, sf_dir)
        .orders.where(F.col("o_custkey") <= 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.last("o_orderkey").over(w_full).alias("last_ok"),
            F.nth_value("o_orderkey", 2).over(w_full).alias("second_ok"),
            F.lag("o_orderkey", 1, -1).over(w).alias("prev_ok"),
            F.lead("o_orderkey", 2).over(w).alias("next2_ok"),
        )
    )


@query(
    "rel_grouping_sets",
    """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       GROUPING(o_orderstatus) AS g_status,
       GROUPING(o_orderpriority) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
""",
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the registered rollup/cube):
    three chosen aggregation grains in one pass, with GROUPING()
    flags disambiguating real NULLs from subtotal rows.  The price
    total is exact BIGINT cents (repo convention): a raw
    SUM(DECIMAL(18,2)) widens to DECIMAL(28,2) in Spark but
    DECIMAL(38,2) in DuckDB, which is representationally unportable.

    Scale: one shuffle; Spark expands the sets with a single Expand
    node feeding one hash aggregate — grains share the scan."""
    orders = Catalog(spark, sf_dir).orders
    return orders.groupingSets(
        [
            ["o_orderstatus"],
            ["o_orderpriority"],
            ["o_orderstatus", "o_orderpriority"],
        ],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
        F.grouping("o_orderstatus").alias("g_status"),
        F.grouping("o_orderpriority").alias("g_priority"),
    )


@query(
    "rel_approx_percentile_contract",
    """
WITH v AS (
  SELECT c_mktsegment,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer)
SELECT c_mktsegment,
       COUNT(*) AS n,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY bal_cents)
         AS exact_median_cents,
       TRUE AS approx_within_tol
FROM v GROUP BY c_mktsegment
""",
)
def approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile with a checkable contract (the pattern
    established by ``rel_approx_distinct`` for HLL): the exact median
    is hashed, while the sketch estimate is asserted within 1% of the
    group's value range — the oracle pins the boolean TRUE, so a
    sketch drifting out of tolerance fails the hash without making the
    hash depend on sketch internals.

    Scale: at 100 TB the exact-percentile column is dropped and the
    sketch IS the answer — single pass, mergeable partials, no
    per-group sort."""
    v = Catalog(spark, sf_dir).customer.select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    g = v.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("bal_cents", F.lit(0.5)).alias("exact_median_cents"),
        F.percentile_approx("bal_cents", F.lit(0.5), F.lit(10_000)).alias(
            "approx_median_cents"
        ),
        F.max("bal_cents").alias("_max"),
        F.min("bal_cents").alias("_min"),
    )
    tol = (F.col("_max") - F.col("_min")) / 100
    return g.select(
        "c_mktsegment",
        "n",
        "exact_median_cents",
        (
            F.abs(
                F.col("approx_median_cents") - F.col("exact_median_cents")
            )
            <= tol
        ).alias("approx_within_tol"),
    )


@query(
    "rel_interval_overlap",
    """
WITH iv AS (
  SELECT event_type, ts AS s,
         ts + to_seconds(CAST(floor(value * 60) AS BIGINT)) AS e
  FROM events),
b AS (
  SELECT event_type, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS d FROM iv),
net AS (
  SELECT event_type, t, SUM(d) AS net,
         SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_starts
  FROM b GROUP BY event_type, t),
run AS (
  SELECT event_type, n_starts,
         SUM(net) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running
  FROM net)
SELECT event_type,
       CAST(SUM(n_starts) AS BIGINT) AS n_intervals,
       CAST(MAX(running) AS BIGINT) AS max_concurrent
FROM run GROUP BY event_type
""",
)
def interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: each event opens a half-open
    interval [ts, ts + value minutes) and the answer is the maximum
    number simultaneously open — the capacity-planning question every
    ops team asks of a session/usage log. Computed by sweep line
    (O(n log n)) instead of the naive O(n^2) range self-join; the
    running sum is two-phase (per-day local cumsum + tiny per-day
    offset table) so no task ever sorts a key's full history — see
    ``operators/relational.py:interval_max_concurrency``. The oracle
    uses the single-phase window formulation, pinning the two-phase
    decomposition's equivalence. Durations are floor(value*60) whole
    seconds so boundary timestamps are engine-exact."""
    from ..operators import relational as rel

    ev = Catalog(spark, sf_dir).table("events")
    iv = ev.select(
        "event_type",
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(SECOND, CAST(floor(value * 60) AS BIGINT), ts)"
        ).alias("e"),
    )
    return rel.interval_max_concurrency(iv, "event_type", "s", "e")
