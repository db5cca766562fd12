"""CSV source/sink (SURVEY.md S1/S2) with EXPLICIT schemas.

The reference loads every CSV with inferred dtypes
(``src/canvas.py:63``, ``src/jenzabar.py:39``); at scale inference costs
an extra pass and silently drifts, so the engine reads with the
declared schemas of ``sources.schemas`` and fails loudly on mismatch.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .schemas import ENTITY_CSV_SCHEMAS


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


def read_entity_csv(spark: SparkSession, path: str, entity: str) -> DataFrame:
    """Read a raw provisioning-report CSV with its declared schema
    (:func:`read_declared_csv`)."""
    if entity not in ENTITY_CSV_SCHEMAS:
        raise KeyError(f"no CSV schema for entity {entity!r}")
    return read_declared_csv(spark, path, ENTITY_CSV_SCHEMAS[entity])


def write_sis_csv(df: DataFrame, path: str) -> None:
    """Write a Canvas-SIS-import-shaped CSV (header, no index column —
    ``src/canvas.py:59``/``jenzabar.py:66`` file layout). Single file
    per update: SIS imports are one-POST-per-file."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
