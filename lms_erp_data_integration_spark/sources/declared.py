"""How a sync night reads an input with a declared schema
(``sources.schemas``), as parquet or as headed CSV.

The reference loads every input with inferred dtypes
(``src/canvas.py:63``, ``src/jenzabar.py:39``); at scale inference costs
an extra job per read and silently drifts, so these readers run no
inference job and fail loudly on a file that does not match.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_declared_table(
    spark: SparkSession,
    directory: str,
    name: str,
    schema: T.StructType,
    missing_ok: bool = False,
) -> DataFrame | None:
    """Read ``directory/<name>.parquet`` (:func:`read_declared_parquet`)
    or, when there is none, ``directory/<name>.csv``
    (:func:`read_declared_csv`). With neither, raise
    ``FileNotFoundError``, or return None when ``missing_ok``."""
    pq = os.path.join(directory, f"{name}.parquet")
    csv_path = os.path.join(directory, f"{name}.csv")
    if os.path.exists(pq):
        return read_declared_parquet(spark, pq, schema)
    if os.path.exists(csv_path):
        return read_declared_csv(spark, csv_path, schema)
    if missing_ok:
        return None
    raise FileNotFoundError(f"no {name}.parquet or {name}.csv in {directory}")


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


def _csv_header(path: str) -> list[str]:
    """The header of the CSV file at ``path``, or of the first data
    file of the directory ``path`` (Spark skips names that start with
    ``_`` or ``.``, and so does this)."""
    if os.path.isdir(path):
        names = sorted(
            n for n in os.listdir(path) if not n.startswith(("_", "."))
        )
        if not names:
            raise ValueError(f"{path} holds no CSV files")
        path = os.path.join(path, names[0])
    with open(path, newline="", encoding="utf-8-sig") as f:
        return next(csv.reader(f), [])


def read_declared_csv(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read a headed CSV file or directory with a declared schema,
    matching columns by header name, without a schema-inference job.

    The header is read on the driver, so ``path`` must be local. A
    declared column the header lacks raises ``ValueError`` naming the
    path and the columns. Columns the file has beyond ``schema`` are
    read as strings and dropped, and the file's column order does not
    matter. A value that does not parse as its declared type fails the
    read (``FAILFAST``), and so does a file of a directory whose header
    differs from the first one's."""
    header = _csv_header(path)
    missing = [f.name for f in schema if f.name not in header]
    if missing:
        raise ValueError(f"{path} lacks declared columns {missing}")
    declared = {f.name: f.dataType for f in schema}
    in_file_order = T.StructType(
        [T.StructField(c, declared.get(c, T.StringType())) for c in header]
    )
    return (
        spark.read.schema(in_file_order)
        .option("header", True)
        .option("enforceSchema", False)
        .option("mode", "FAILFAST")
        .csv(path)
        .select(*declared)
    )
