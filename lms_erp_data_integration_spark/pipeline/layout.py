"""Storage-layout management (100 TB posture, SURVEY.md section 4).

The reference's only layout decision is truncate-and-reload of four
mirror tables. At scale, layout IS performance: partition columns drive
pruning, file sizes drive scan parallelism, and bucketing pre-shuffles
recurring join keys. This module makes those choices explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import bounded_broadcast

TARGET_FILE_BYTES = 128 * 1024 * 1024  # match files.maxPartitionBytes


def write_layout(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    approx_row_bytes: int | None = None,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> None:
    """Write Parquet with explicit layout: optional hive partitioning
    plus per-partition file sizing (repartition so output files land
    near ``target_file_bytes`` instead of one tiny file per task —
    the small-files problem is the classic 100 TB failure mode)."""
    if approx_row_bytes:
        n = df.count()
        files = max(1, (n * approx_row_bytes) // target_file_bytes)
        df = (
            df.repartition(int(files), *partition_cols)
            if partition_cols
            else df.repartition(int(files))
        )
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def bucketed_table(
    df: DataFrame,
    spark: SparkSession,
    name: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> None:
    """Persist as a bucketed managed table: joins/aggregations on
    ``bucket_col`` against other tables bucketed the same way need NO
    shuffle (co-located partitioning survives across queries, unlike a
    transient repartition)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(name)
    )


def prune_report(spark: SparkSession, path: str, predicate: str) -> dict:
    """How much a partition predicate prunes: (files read with
    predicate) vs (total files) — the observable effect of a good
    partition layout."""
    df = spark.read.parquet(path)
    total = len(df.inputFiles())
    # inputFiles() ignores pruning; count the files actually READ
    read = (
        df.where(predicate)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    return {"total_files": total, "read_files": read}


def list_table_files(spark: SparkSession, path: str) -> DataFrame:
    """Inventory the data files under a table path as a DataFrame
    (file, bytes) via the Hadoop FileSystem API — works unchanged on
    local disk, HDFS, or an object store. Driver-side listing is
    metadata-sized (one row per file), never data-sized."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(jpath, True)
    rows = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if name.endswith(".parquet"):
            rows.append((name, int(st.getLen())))
    return spark.createDataFrame(rows, "file string, bytes long")


def compaction_plan(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    small_file_bytes: int | None = None,
) -> DataFrame:
    """Plan small-file compaction: files below ``small_file_bytes``
    (default: half the target) are binned greedily — in deterministic
    file-name order — into merge groups of ~``target_file_bytes``
    (cumulative-sum bucketing). Returns (group_id, file, bytes);
    right-sized files get no group (NULL) and are left untouched.

    Scale: compaction is THE recurring maintenance op for
    streaming/micro-batch sinks at 100 TB — thousands of tiny files
    per trigger destroy scan parallelism economics (one task per file,
    footer overhead per file). The plan itself is metadata-sized; the
    rewrite cost is proportional to the small files only, never a full
    table rewrite."""
    from pyspark.sql.window import Window

    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    files = list_table_files(spark, path)
    w = Window.orderBy("file").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # The running total counts SMALL-file bytes only: letting
    # right-sized files inflate it would split interleaved small files
    # into extra under-filled groups (and skip group ids).
    small = F.col("bytes") < small_file_bytes
    small_bytes = F.when(small, F.col("bytes")).otherwise(F.lit(0))
    return files.select(
        F.when(
            small,
            ((F.sum(small_bytes).over(w) - 1) / target_file_bytes).cast(
                "long"
            ),
        ).alias("group_id"),
        "file",
        "bytes",
    )


def compact_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> dict:
    """Execute a full-table compaction rewrite: read, repartition to
    ceil(total_bytes / target), write. Returns before/after file
    counts. (A production pipeline applies ``compaction_plan`` per
    partition and rewrites only the affected groups; this helper is
    the whole-table form for bounded tables.)"""
    files = list_table_files(spark, src_path)
    agg = files.agg(
        F.count(F.lit(1)).alias("n"), F.sum("bytes").alias("b")
    ).first()
    n_out = max(1, int((agg["b"] + target_file_bytes - 1)
                       // target_file_bytes))
    spark.read.parquet(src_path).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(dst_path)
    after = list_table_files(spark, dst_path).count()
    return {"files_before": int(agg["n"]), "files_after": int(after)}


def zorder_value(cols: list[str], bits: int = 16) -> "F.Column":
    """Morton (Z-order) key from 2+ numeric columns: each column is
    min-max scaled to ``bits`` buckets (requires window-free constants
    — see :func:`write_zorder`, which computes the bounds), then bit
    positions are interleaved. Entirely JVM-side shift/or expressions —
    whole-stage-codegen'd, no UDF.

    Input columns must already be integer bucket ids in [0, 2^bits).
    """
    z = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for c in cols:
            bit = F.shiftright(F.col(c).cast("long"), b).bitwiseAND(
                F.lit(1)
            )
            z = F.shiftleft(z, 1).bitwiseOR(bit)
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 10,
) -> None:
    """Z-order-clustered Parquet write: rows are range-partitioned and
    sorted by the Morton interleave of ``cols``, so each output file
    covers a compact hyper-rectangle of the key space — a predicate on
    ANY subset of the z-columns prunes files via their min/max
    statistics, where linear sort order only prunes on its leading
    column. THE layout technique for multi-dimension point/range
    lookups at 100 TB (Delta/Iceberg OPTIMIZE ZORDER is this exact
    idea); pruning effect is observable via :func:`prune_report`.

    Cost: one 1-row min/max aggregate + one range shuffle + local
    sort — the same shape as any clustered rewrite."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    mm = df.agg(*aggs)
    scaled = df.crossJoin(bounded_broadcast(mm, "scalar-agg", "1-row min/max"))
    bucket_cols = []
    top = (1 << bits) - 1
    for c in cols:
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        width = (hi - lo).cast("double") / F.lit(float(1 << bits))
        b = F.when(hi == lo, F.lit(0)).otherwise(
            F.least(
                F.lit(top),
                F.floor((F.col(c) - lo).cast("double") / width).cast(
                    "int"
                ),
            )
        )
        bucket_cols.append(b.alias(f"_zb_{c}"))
    scaled = scaled.select("*", *bucket_cols)
    z = zorder_value([f"_zb_{c}" for c in cols], bits)
    out = (
        scaled.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop(
            "_z",
            *[f"_zb_{c}" for c in cols],
            *[f"_lo_{c}" for c in cols],
            *[f"_hi_{c}" for c in cols],
        )
    )
    out.write.mode("overwrite").parquet(path)


def rowgroup_stats(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """Per-row-group min/max statistics for ``columns`` across every
    parquet file of a table — the observability half of data skipping:
    after a `write_zorder` (or any clustered write), THIS is how you
    verify the clustering actually produced narrow, mostly-disjoint
    value ranges (wide overlapping ranges = min/max pruning does
    nothing, whatever the layout job claimed).

    Distributed by construction: the driver only lists file paths
    (metadata-sized); each task reads ONLY the parquet FOOTER of its
    files via pyarrow (no data pages touched), so auditing a 100 TB
    table costs one footer read per file. Returns (file, row_group,
    column, n_rows, min_val, max_val) with values as strings (mixed
    column types in one frame)."""
    import os

    from pyspark.sql import functions as F  # noqa: F811
    from pyspark.sql import types as T

    names = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ] if os.path.isdir(path) else [path]
    files = spark.createDataFrame([(p,) for p in sorted(names)], "path string")

    schema = T.StructType(
        [
            T.StructField("file", T.StringType()),
            T.StructField("row_group", T.IntegerType()),
            T.StructField("column", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("min_val", T.StringType()),
            T.StructField("max_val", T.StringType()),
        ]
    )

    want = set(columns)

    def op(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                base = os.path.basename(p)
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        name = col.path_in_schema
                        if name not in want:
                            continue
                        st = col.statistics
                        rows.append(
                            {
                                "file": base,
                                "row_group": rg,
                                "column": name,
                                "n_rows": g.num_rows,
                                "min_val": str(st.min) if st and st.has_min_max else None,
                                "max_val": str(st.max) if st and st.has_min_max else None,
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file", "row_group", "column", "n_rows", "min_val",
                    "max_val",
                ],
            )

    return files.mapInPandas(op, schema)


def skipping_effectiveness(stats: DataFrame, column: str) -> DataFrame:
    """Summarize `rowgroup_stats` into the number a human checks: for
    one numeric column, the average fraction of OTHER row groups whose
    [min,max] range overlaps each group's — ~0 means point predicates
    prune almost everything (clustering worked), ~1 means every group
    must be read (clustering is cosmetic)."""
    from pyspark.sql import functions as F  # noqa: F811

    s = (
        stats.where(F.col("column") == column)
        .select(
            F.concat_ws("#", "file", "row_group").alias("gid"),
            F.col("min_val").cast("double").alias("lo"),
            F.col("max_val").cast("double").alias("hi"),
        )
    )
    a = s.select("gid", F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a"))
    b = s.select(
        F.col("gid").alias("gid_b"),
        F.col("lo").alias("lo_b"),
        F.col("hi").alias("hi_b"),
    )
    # row-group counts are metadata-sized; exclude self-pairs (a group
    # always overlaps itself and would inflate overlap_frac by >= 1/n)
    pairs = a.crossJoin(b).where(F.col("gid") != F.col("gid_b"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (
                (F.col("lo_a") <= F.col("hi_b"))
                & (F.col("lo_b") <= F.col("hi_a"))
            ).cast("long")
        ).alias("n_overlapping"),
    ).select(
        "n_pairs",
        "n_overlapping",
        # single-row-group stats yield n_pairs = 0 (self-pairs excluded);
        # define overlap_frac as 0.0 there rather than 0/0 -> NULL
        F.when(
            F.col("n_pairs") > 0, F.col("n_overlapping") / F.col("n_pairs")
        )
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
    )
