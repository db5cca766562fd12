"""Relational operator extensions Spark lacks as built-ins
(SURVEY.md M6 tail): as-of join and skew-salted join.

Both are compositions of DataFrame primitives (guide 'Common OLAP
patterns') — no UDFs, no custom physical operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..hints import bounded_broadcast


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_values: list[str],
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_time <= left_time`` within the same ``on`` key.

    Implementation: union both sides tagged, sort by (key, time) inside
    a window, and carry the right side's values forward with
    ``last(..., ignorenulls=True)`` — one shuffle on the key, no range
    explosion (a naive theta-join is O(n*m) per key; this is
    O((n+m) log(n+m)) and survives 100 TB because the window partitions
    by key). Ties (equal times) resolve to the right row, matching
    ``pd.merge_asof``'s inclusive default: the right row sorts first
    via the side tag."""
    lt = left.select(
        F.col(on).alias("_k"),
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_rv_{c}") for c in right_values],
    )
    rt = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lt.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_rv_{c}") for c in right_values],
    )
    w = (
        W.partitionBy("_k")
        .orderBy("_t", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = lt.unionByName(rt).select(
        "_side",
        "_lrow",
        *[
            F.last(f"_rv_{c}", ignorenulls=True).over(w).alias(f"_rv_{c}")
            for c in right_values
        ],
    )
    out = carried.where(F.col("_side") == 1).select(
        *[F.col(f"_lrow.{c}").alias(c) for c in left.columns],
        *[F.col(f"_rv_{c}").alias(c) for c in right_values],
    )
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting for skewed keys: the (large, skewed)
    left side gets a random-but-deterministic salt in [0, salt); the
    right side is replicated ``salt`` times. The shuffle then spreads
    each hot key over ``salt`` reducers. Result identical to a plain
    join. (AQE's skew-join split handles most cases automatically —
    salting is the explicit fallback for extreme single-key skew.)

    The salt hashes the full row, NOT ``monotonically_increasing_id()``:
    the id is assigned per task attempt, so a retried task would re-salt
    its rows differently — a deterministic row hash is retry-safe."""
    salted_l = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)),
    )
    replicated_r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_l.join(replicated_r, [on, "_salt"], how).drop("_salt")


def interval_max_concurrency(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Maximum number of concurrently-open intervals per key, by
    sweep line: every interval contributes +1 at its start and -1 at
    its (half-open) end, deltas are pre-aggregated per distinct
    boundary timestamp, and the running sum's maximum is the answer.

    The naive formulation is a range self-join (for each interval,
    count overlapping intervals) — O(n^2) per key and unusable at
    scale. The sweep line is O(n log n), and the running sum is
    computed in TWO phases so no single task ever sorts a key's full
    history: a windowed cumulative sum WITHIN (key, time-bucket)
    partitions, plus a per-bucket offset obtained by cumulating the
    tiny (key x bucket) total table. At 100 TB the heavy window is
    bounded by one bucket of one key; the offset table is
    keys x buckets rows and broadcast into the final join. Ties at
    identical timestamps are exact: deltas are summed per distinct
    timestamp BEFORE cumulating (ends cancel starts), so the maximum
    is order-independent and engine-portable.

    Returns (key, n_intervals, max_concurrent)."""
    starts = df.select(
        F.col(key_col).alias("k"),
        F.col(start_col).alias("t"),
        F.lit(1).alias("d"),
    )
    ends = df.select(
        F.col(key_col).alias("k"),
        F.col(end_col).alias("t"),
        F.lit(-1).alias("d"),
    )
    net = (
        starts.unionByName(ends)
        .groupBy("k", "t")
        .agg(
            F.sum("d").alias("net"),
            F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_starts"),
        )
        .withColumn("bucket", F.date_trunc(bucket, F.col("t")))
    )
    w_local = (
        W.partitionBy("k", "bucket")
        .orderBy("t")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = net.withColumn("local_run", F.sum("net").over(w_local))
    totals = net.groupBy("k", "bucket").agg(F.sum("net").alias("bucket_net"))
    w_prev = (
        W.partitionBy("k")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "k",
        "bucket",
        F.coalesce(F.sum("bucket_net").over(w_prev), F.lit(0)).alias("offset"),
    )
    return (
        local.join(
            bounded_broadcast(offsets, "k-row", "keys x time buckets"), ["k", "bucket"]
        )
        .groupBy(F.col("k").alias(key_col))
        .agg(
            F.sum("n_starts").cast("long").alias("n_intervals"),
            F.max(F.col("local_run") + F.col("offset"))
            .cast("long")
            .alias("max_concurrent"),
        )
    )
