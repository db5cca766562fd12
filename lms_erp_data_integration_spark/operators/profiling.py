"""Pre-flight cost profiling: price a shuffle/join/bucket-verify
BEFORE running it (SURVEY.md scale posture; unified per r4 verdict #7).

Three instances of one pattern live here behind one API — all
metadata-sized aggregations over key histograms, never the priced
operation itself:

- :func:`join_size_profile` — exact output size of a prospective
  equi-join from the two per-key count tables (|join| = Σ_k ca·cb).
- :func:`key_skew_profile` — the top heavy keys of a prospective
  shuffle key with exact ppm shares; decides plain shuffle vs AQE skew
  handling vs explicit salting.
- :func:`bucket_sizes` / :func:`bucket_size_histogram` — the
  per-bucket quadratic verify cost of a blocked/bucketed candidate
  generator (LSH bands, k-means clusters, blocking keys), per bucket
  or as a size histogram.

At 100 TB every one of these is the difference between an O(keys)
estimate pass and materializing a possibly-exploding join: the
profiles read only grouped counts (map-side partial aggregation keeps
shuffle traffic at key-count size), so they cost one aggregation
regardless of the priced operation's output size. The registered
queries ``rel_join_size_profile``, ``rel_key_skew_profile``,
``llm_lsh_bucket_histogram`` and ``llm_dedup_cluster_histogram`` are
oracle-paired exercises of these helpers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..hints import bounded_broadcast


def join_size_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Exact cardinality profile of ``left ⋈ right`` on an equi-key:
    one row with ``join_rows`` (Σ_k ca·cb), ``matching_keys``,
    ``max_key_rows`` (worst single-key contribution — the skew
    signal), ``left_keys`` and ``right_keys``.

    Never executes the join: only the two per-key COUNT tables are
    joined, each a map-side-partial aggregate of key-count size. The
    same shape with HLL sketches per bucket gives the approximate form
    when even key-count tables are too big."""
    a = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    b = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    j = a.join(b, "k").select((F.col("ca") * F.col("cb")).alias("kk"))
    stats = j.agg(
        F.sum("kk").alias("join_rows"),
        F.count(F.lit(1)).alias("matching_keys"),
        F.max("kk").alias("max_key_rows"),
    )
    left_keys = a.agg(F.count(F.lit(1)).alias("left_keys"))
    right_keys = b.agg(F.count(F.lit(1)).alias("right_keys"))
    return stats.crossJoin(
        bounded_broadcast(left_keys, "scalar-agg", "1-row key count")
    ).crossJoin(
        bounded_broadcast(right_keys, "scalar-agg", "1-row key count")
    )


def key_skew_profile(
    df: DataFrame, key: str, top_k: int = 10
) -> DataFrame:
    """Top-``top_k`` heaviest values of a prospective shuffle key with
    their exact parts-per-million share of the table:
    (key, n, share_ppm, n_distinct_keys), heaviest first (ties break
    to the lower key).

    One grouped count (map-side partials), a broadcast 1-row total,
    and a top-k sort over the key histogram — never more than the
    histogram is materialized."""
    k = df.groupBy(F.col(key).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = k.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_distinct_keys"),
    )
    return (
        k.crossJoin(bounded_broadcast(t, "scalar-agg", "1-row totals"))
        .select(
            "key",
            "n",
            F.expr("(n * 1000000) div total").alias("share_ppm"),
            "n_distinct_keys",
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(top_k)
    )


def _pairs(n: Column) -> Column:
    return (n * (n - F.lit(1)) / F.lit(2)).cast("long")


def bucket_sizes(df: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """Per-bucket verify cost of a blocked candidate generator: one
    row per bucket with ``bucket_size`` and ``candidate_pairs``
    (k·(k-1)/2 — the quadratic pair count a within-bucket verify would
    pay). Run BEFORE the pair join so a fat bucket (band parameters
    too loose, k too small, a degenerate mode) is a one-aggregation
    observation, not a task OOM inside the pair kernel."""
    n = F.count(F.lit(1))
    return df.groupBy(*bucket_cols).agg(
        n.alias("bucket_size"), _pairs(n).alias("candidate_pairs")
    )


def equi_width_histogram(
    df: DataFrame, col: str, buckets: int = 20
) -> DataFrame:
    """Equi-width value histogram of a numeric column: (bucket_id, n,
    share_ppm), bucket width = (max-min)/buckets computed from the
    data, top value clamped into the last bucket. The value-shape
    complement of :func:`key_skew_profile` — reads a distribution
    before choosing range-partition bounds, salting thresholds, or
    sort keys.

    Two passes over one column-pruned scan: a 1-row min/max aggregate
    (broadcast) and the bucketed count. Every arithmetic step is an
    exactly-rounded IEEE double op, so bucket assignment is
    deterministic across engines."""
    mm = df.agg(
        F.min(col).alias("_lo"),
        F.max(col).alias("_hi"),
        F.count(F.lit(1)).alias("_n"),
    )
    bucketed = df.select(F.col(col).alias("_x")).crossJoin(
        bounded_broadcast(mm, "scalar-agg", "1-row min/max")
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(buckets))
    bid = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(buckets - 1),
            F.floor((F.col("_x") - F.col("_lo")) / width).cast("int"),
        )
    )
    return (
        bucketed.groupBy(bid.alias("bucket_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("_n").alias("_total"),
        )
        .select(
            "bucket_id",
            "n",
            F.expr("(n * 1000000) div _total").alias("share_ppm"),
        )
    )


def bucket_size_histogram(
    df: DataFrame, bucket_cols: list[str]
) -> DataFrame:
    """Bucket-size histogram of a blocked candidate generator:
    (bucket_size, n_buckets, candidate_pairs) — the aggregate form of
    :func:`bucket_sizes` for wide fan-outs where even one row per
    bucket is too much to eyeball. Two aggregations, the second over
    at most as many rows as there are distinct sizes."""
    sizes = df.groupBy(*bucket_cols).agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return sizes.groupBy("bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(_pairs(F.col("bucket_size"))).alias("candidate_pairs"),
    )
