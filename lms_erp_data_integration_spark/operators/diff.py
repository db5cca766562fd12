"""Snapshot-diff operator family — the relational core of the engine.

The reference ships seven parameterized T-SQL diff queries executed
server-side (``src/jenzabar.py:50-80``); their common shape (SURVEY.md
section 2.4) is a *parameterized snapshot anti-join diff*: "rows of
truth-for-term not present in the mirror" plus, for enrollments, the
bidirectional add/drop variant (``DailyEnrollment.sql`` — README.md:4
"create and remove").

Scale posture: the diff joins carry no broadcast hint; AQE picks the
strategy. It promotes the build side to a broadcast anti-join at
runtime from its *observed* shuffle size whenever it fits
``autoBroadcastJoinThreshold``, so a genuinely bounded mirror (one
term's worth of rows) still gets the map-side no-shuffle plan, while an
sf-proportional mirror degrades gracefully to a sort-merge join with
skew splitting instead of hard-failing at Spark's 8 GB / 512M-row
broadcast limits. An explicit hint bypasses the size threshold, so it
is never applied to a side that grows with the corpus (``hints.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hints import bounded_broadcast


def missing_rows(
    truth: DataFrame,
    mirror: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Rows of ``truth`` whose key is absent from ``mirror``
    (left-anti on equi-keys) — the ``Missing*.sql`` family
    (``src/jenzabar.py:52-55``). Join strategy is AQE-selected (see
    module docstring)."""
    return truth.join(mirror, list(keys), "left_anti")


def present_rows(
    truth: DataFrame,
    mirror: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Left-semi companion ("already present" checks)."""
    return truth.join(mirror, list(keys), "left_semi")


def snapshot_diff(
    truth: DataFrame,
    mirror: DataFrame,
    keys: Sequence[str],
    status_col: str = "status",
    add_status: str = "active",
    drop_status: str = "deleted",
) -> DataFrame:
    """Bidirectional snapshot diff (``DailyEnrollment.sql`` semantics,
    SURVEY.md section 2.4 Q5):

    - adds:  in ``truth`` but not ``mirror``  -> status ``add_status``
    - drops: in ``mirror`` but not ``truth``  -> status ``drop_status``

    Output schema: key columns + ``status_col``. Callers that need
    payload columns join back to the source on the keys.
    """
    kl = list(keys)
    adds = (
        truth.select(*kl)
        .join(mirror.select(*kl), kl, "left_anti")
        .withColumn(status_col, F.lit(add_status))
    )
    drops = (
        mirror.select(*kl)
        .join(truth.select(*kl), kl, "left_anti")
        .withColumn(status_col, F.lit(drop_status))
    )
    return adds.unionByName(drops)


def bucket_checksums(
    df: DataFrame,
    checksum_col,
    bucket_col,
    n_buckets: int = 64,
) -> DataFrame:
    """Per-bucket row count + commutative integer checksum — one half
    of a Merkle-style reconciliation (see ``drift_buckets``).

    ``checksum_col`` must be a deterministic integer expression over
    the row (portable across engines — NOT ``hash()``, whose seed and
    algorithm differ between Spark and other systems); the per-bucket
    checksum is its SUM, which is order- and partition-independent.
    Output: (bucket, n_rows, checksum).
    """
    return (
        df.select(
            (bucket_col % n_buckets).cast("long").alias("bucket"),
            checksum_col.cast("long").alias("_ck"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_ck").alias("checksum"),
        )
    )


def drift_buckets(
    source: DataFrame,
    mirror: DataFrame,
    checksum_col,
    bucket_col,
    n_buckets: int = 64,
) -> DataFrame:
    """Merkle-style mirror-drift detection: compare per-bucket
    (count, checksum) summaries of source and mirror and return ONLY
    the buckets that disagree, with both sides' summaries.

    Scale: this is how a 100 TB mirror is verified WITHOUT a 100 TB
    join — each side is one aggregation pass producing ``n_buckets``
    rows, the compare is bucket-count-sized, and only differing
    buckets (usually none) need a row-level ``snapshot_diff`` scoped
    to ``bucket_col % n_buckets = b``. A full-table row diff as the
    first step would shuffle both tables; this never does.
    Output: (bucket, src_rows, src_checksum, mir_rows, mir_checksum).
    """
    src = bucket_checksums(source, checksum_col, bucket_col, n_buckets)
    mir = bucket_checksums(mirror, checksum_col, bucket_col, n_buckets)
    s = src.select(
        F.col("bucket"),
        F.col("n_rows").alias("src_rows"),
        F.col("checksum").alias("src_checksum"),
    )
    m = mir.select(
        F.col("bucket").alias("mbucket"),
        F.col("n_rows").alias("mir_rows"),
        F.col("checksum").alias("mir_checksum"),
    )
    return (
        s.join(m, F.col("bucket") == F.col("mbucket"), "full_outer")
        .select(
            F.coalesce(F.col("bucket"), F.col("mbucket")).alias("bucket"),
            F.coalesce(F.col("src_rows"), F.lit(0)).alias("src_rows"),
            F.coalesce(F.col("src_checksum"), F.lit(0)).alias("src_checksum"),
            F.coalesce(F.col("mir_rows"), F.lit(0)).alias("mir_rows"),
            F.coalesce(F.col("mir_checksum"), F.lit(0)).alias("mir_checksum"),
        )
        .where(
            (F.col("src_rows") != F.col("mir_rows"))
            | (F.col("src_checksum") != F.col("mir_checksum"))
        )
    )


def reconcile_mirror(
    source: DataFrame,
    mirror: DataFrame,
    keys: Sequence[str],
    checksum_col,
    bucket_col,
    n_buckets: int = 64,
    status_col: str = "status",
) -> DataFrame:
    """Two-phase mirror repair: find drifted buckets by checksum
    (``drift_buckets``), then run the row-level ``snapshot_diff`` ONLY
    inside those buckets — both sides are pre-filtered by a broadcast
    semi-join on the (bucket-count-sized) drifted-bucket set, never a
    driver collect.

    Because all drift lives in drifted buckets by construction, the
    scoped diff returns exactly the full-table diff — at the cost of
    two aggregation passes plus a diff over the drifted slice, instead
    of an all-table anti-join pair. At 100 TB with localized drift
    that is the difference between reading everything twice and
    reading a few buckets."""
    drifted = drift_buckets(
        source, mirror, checksum_col, bucket_col, n_buckets
    ).select("bucket")

    def scoped(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_b", (bucket_col % n_buckets).cast("long"))
            .join(
                bounded_broadcast(drifted, "k-row", "<= n_buckets bucket ids"),
                F.col("_b") == F.col("bucket"),
                "left_semi",
            )
            .drop("_b")
        )

    return snapshot_diff(
        scoped(source),
        scoped(mirror),
        keys,
        status_col=status_col,
        add_status="missing_in_mirror",
        drop_status="extra_in_mirror",
    )
