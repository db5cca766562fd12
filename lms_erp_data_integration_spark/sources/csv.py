"""CSV source/sink (SURVEY.md S1/S2): raw provisioning reports read
with their declared schemas (``sources.declared``), and the
Canvas-SIS-import files the sync night writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .declared import read_declared_csv
from .schemas import ENTITY_CSV_SCHEMAS


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
