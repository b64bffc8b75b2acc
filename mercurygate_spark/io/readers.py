"""Sources (SURVEY.md §2a S6-S7).

The reference reads CSV with header+inference three times per file
(anti-pattern §2d-1: inference pass, count() pass, write pass). This
reader scans once: inference is optional (explicit schema preferred,
§7 risk 'CSV inferSchema'), and the bronze ingest counts the rows as
it writes them, not with a second CSV pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    infer: bool = False,
) -> DataFrame:
    """CSV scan with header (reference S6, mm_source_to_bronze.py:135-138).
    Explicit schema by default for determinism; ``infer=True`` keeps
    behavior-parity mode with the reference."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan across all partitions (reference S7,
    mm_bronze_silver.py:204)."""
    return spark.read.parquet(path)

