"""Mirror-table writes — the reference's truncate-and-append SQL sink
(``src/jenzabar.py:31-47``) re-expressed as partitioned Parquet
overwrite.

Parity kept: the entity allowlist raising ``NameError`` on unknown
names (``src/jenzabar.py:35-36,42-43``) and the derived table-name
convention (``src/jenzabar.py:40``). Upgrades: snapshot overwrite is
atomic per partition (dynamic partition overwrite) instead of
DELETE-then-INSERT, and mirrors are laid out ``partitionBy(yr_cde,
trm_cde)`` so the per-term diff queries get partition pruning — the
100 TB answer to the reference's ``WHERE yr_cde=? AND trm_cde=?``
parameterization.

A night reads its parquet inputs and mirrors through
:func:`read_declared_parquet`, with the schemas of ``sources.schemas``,
so no read runs a schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MIRROR_ENTITIES = ("users", "courses", "sections", "enrollments")
TERM_COLS = ("yr_cde", "trm_cde")


def _reads_as(file_type, declared) -> bool:
    """Whether Spark reads a parquet column of arrow type ``file_type``
    into a column of arrow type ``declared`` without loss: the same
    type, a narrower integer or float, or a large string as a string."""
    import pyarrow as pa

    if file_type == declared:
        return True
    if pa.types.is_integer(file_type) and pa.types.is_signed_integer(declared):
        # an unsigned integer needs one more bit as a signed one
        unsigned = pa.types.is_unsigned_integer(file_type)
        return file_type.bit_width + unsigned <= declared.bit_width
    if pa.types.is_floating(file_type) and pa.types.is_floating(declared):
        return file_type.bit_width <= declared.bit_width
    return pa.types.is_large_string(file_type) and pa.types.is_string(declared)


def read_declared_parquet(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read a parquet file or hive-partitioned directory with a declared
    schema, so no schema-inference job runs; columns the file has
    beyond ``schema`` are dropped.

    Every file's footer is checked first, on the driver and without a
    Spark job: a declared column that a file lacks, or whose type Spark
    cannot read into the declared one (``_reads_as``), raises
    ``ValueError`` naming the file and the columns. Without the check a
    missing column would read as NULLs, and a mismatched type would
    fail only in the first job that reads it. Partition columns are
    checked by name only: their values come from directory names, and
    Spark casts them to the declared type. The footers are read with
    pyarrow, so ``path`` must be local: pyarrow cannot open
    Hadoop-only URIs such as ``s3a://``."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_type

    found = ds.dataset(path, format="parquet", partitioning="hive")
    partition_cols = set(found.partitioning.schema.names)
    fragments = list(found.get_fragments())
    if not fragments:
        raise ValueError(f"{path} holds no parquet files")
    for fragment in fragments:
        file_types = {f.name: f.type for f in fragment.physical_schema}
        missing = [
            f.name
            for f in schema
            if f.name not in file_types and f.name not in partition_cols
        ]
        if missing:
            raise ValueError(f"{fragment.path} lacks declared columns {missing}")
        mistyped = [
            f"{f.name} is {file_types[f.name]},"
            f" declared {f.dataType.simpleString()}"
            for f in schema
            if f.name in file_types
            and not _reads_as(file_types[f.name], to_arrow_type(f.dataType))
        ]
        if mistyped:
            raise ValueError(
                f"{fragment.path} has columns of another type: {mistyped}"
            )
    return spark.read.schema(schema).parquet(path)


def mirror_table_name(entity: str) -> str:
    """``f'rpc_RE_Canvas_{name.capitalize()}'`` (``src/jenzabar.py:40``),
    lower-cased for metastore friendliness."""
    if entity not in MIRROR_ENTITIES:
        # exact reference behavior: unknown entity -> NameError
        # (src/jenzabar.py:42-43)
        raise NameError(f"{entity!r} is not a mirrored entity {MIRROR_ENTITIES}")
    return f"rpc_re_canvas_{entity}"


def mirror_table_path(base_path: str, entity: str) -> str:
    return f"{base_path.rstrip('/')}/{mirror_table_name(entity)}"


def write_mirror(df: DataFrame, entity: str, base_path: str) -> str:
    """Snapshot-overwrite one mirror table; returns its path."""
    path = mirror_table_path(base_path, entity)
    writer = df.write.mode("overwrite")
    if all(c in df.columns for c in TERM_COLS):
        # dynamic mode: only the (yr_cde, trm_cde) partitions present in
        # df are replaced — refreshing one term must not wipe the others.
        # Set per-writer so the semantics hold on any session.
        writer = writer.partitionBy(*TERM_COLS).option(
            "partitionOverwriteMode", "dynamic"
        )
    writer.parquet(path)
    return path


def read_mirror(spark: SparkSession, entity: str, base_path: str) -> DataFrame:
    return spark.read.parquet(mirror_table_path(base_path, entity))


def upsert_mirror(
    spark: SparkSession,
    updates: DataFrame,
    entity: str,
    base_path: str,
    key_cols: tuple[str, ...],
) -> str:
    """MERGE-style upsert: replace-or-insert ``updates`` rows by key,
    rewriting ONLY the (yr_cde, trm_cde) partitions the updates touch.

    The scalable alternative to snapshot overwrite when a day's delta
    is a sliver of the mirror: untouched term partitions are never
    read or written. Affected-partition discovery collects the
    DISTINCT term tuples of the delta — a handful of values by
    construction (terms, not rows), so the driver collect is bounded.

    Plain-parquet caveat (documented, inherent): without a table
    format there is no snapshot isolation across partitions; each
    partition swap is atomic, the set of swaps is not. A lakehouse
    deployment would land this same plan on Delta/Iceberg MERGE.
    """
    path = mirror_table_path(base_path, entity)
    missing = [c for c in (*TERM_COLS, *key_cols) if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing required columns {missing}")
    from pyspark.sql import functions as F

    terms = [tuple(r) for r in updates.select(*TERM_COLS).distinct().collect()]
    term_pred = None
    for yr, trm in terms:
        p = (F.col(TERM_COLS[0]) == yr) & (F.col(TERM_COLS[1]) == trm)
        term_pred = p if term_pred is None else (term_pred | p)
    existing = spark.read.parquet(path).where(term_pred)
    # partition-column type inference may read term cols back with a
    # narrower type than the delta carries — align to the delta schema
    # so the union below can't silently coerce
    existing = existing.withColumns(
        {c: F.col(c).cast(updates.schema[c].dataType) for c in TERM_COLS}
    )
    # keep existing rows whose key is NOT updated, then add the delta;
    # the anti-join runs only over the touched partitions
    merged = existing.join(
        updates.select(*key_cols).distinct(), list(key_cols), "left_anti"
    ).unionByName(updates)
    (
        merged.write.mode("overwrite")
        .partitionBy(*TERM_COLS)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    return path
