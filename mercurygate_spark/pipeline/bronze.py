"""Bronze ingest (SURVEY.md §3 EP1, re-designed pure).

Reference behavior reproduced: CSV → audit columns + year_month →
zero-row guard → hive-partitioned parquet under
``{base}/{table}/datePart={Historic|YYYY-MM-DD}/year_month=…``
(mm_source_to_bronze.py:119-167), with the §2d anti-patterns fixed:

- no count pass and no re-read: the row count is observed on the frame
  as it is written. With ``infer=True`` the CSV is still read by the
  header probe, the schema-inference pass and the write, plus the
  limit-1 zero-row probe;
- first-load routing is an explicit ``mode`` parameter, not a
  filesystem probe (§7 risk 'First-load-to-Historic routing');
- audit timestamp is a caller-supplied value, not a hidden
  ``datetime.today()`` call — runs are reproducible.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mercurygate_spark.catalog import AUDIT_COUNTRY, AUDIT_REGION, TableSpec
from mercurygate_spark.io.readers import read_csv
from mercurygate_spark.io.writers import write_parquet_partitioned


class ZeroRowError(RuntimeError):
    """Reference Q1 (mm_source_to_bronze.py:214-216): a zero-row
    extract fails the run — raised eagerly instead of the reference's
    dead post-run sweep."""


@dataclass
class BronzeResult:
    table: str
    database: str
    count: int
    path: str


def bronze_path(base: str, table: str, date_part: str) -> str:
    """Reference layout (mm_source_to_bronze.py:129-130)."""
    return f"{base}/{table}/datePart={date_part}"


def enrich_audit(
    df: DataFrame,
    database: str,
    updated_by: str,
    updated_on: datetime,
) -> DataFrame:
    """Reference P1+P2 (mm_source_to_bronze.py:148-153): constant
    lineage columns + month partition key, one withColumns call."""
    return df.withColumns(
        {
            "database": F.lit(database),
            "year_month": F.trunc("datecreated", "month"),
            "region": F.lit(AUDIT_REGION),
            "country": F.lit(AUDIT_COUNTRY),
            "updated_by": F.lit(updated_by),
            "updated_on": F.lit(updated_on),
        }
    )


def ingest_table(
    spark: SparkSession,
    csv_path: str,
    spec: TableSpec,
    base: str,
    database: str,
    updated_by: str,
    updated_on: datetime,
    mode: str,  # 'initial' → datePart=Historic; 'refresh' → datePart=<date>
    date_part: str | None = None,
    infer: bool = True,
) -> BronzeResult:
    """CSV extract → enriched, partitioned bronze parquet.

    Returns the written row count, observed on the frame during the
    write (an ``Observation`` metric) — no count pass over the CSV and
    no listing or re-read of the written partitions."""
    raw = read_csv(spark, csv_path, infer=infer)
    if raw.isEmpty():  # cheap limit-1 probe, not a full count (fixes §2d-1)
        raise ZeroRowError(f"{spec.name}: extract produced 0 rows")
    rows = Observation()
    enriched = enrich_audit(raw, database, updated_by, updated_on).observe(
        rows, F.count(F.lit(1)).alias("count")
    )
    dp = "Historic" if mode == "initial" else (date_part or updated_on.strftime("%Y-%m-%d"))
    path = bronze_path(base, spec.name, dp)
    write_parquet_partitioned(enriched, path, partition_by=["year_month"])
    return BronzeResult(table=spec.name, database=database, count=rows.get["count"], path=path)
