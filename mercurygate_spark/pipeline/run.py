"""End-to-end medallion run (SURVEY.md §3 'New-engine lifecycle'):
fetch (injected) → bronze → silver, per dataset (MM / Linehaul),
with a correctly-timed run ledger.

The reference runs this as four notebooks with duplicated code
(mm_* vs linehaul_* differ only in paths/download strategy); here
``refresh_table`` is the ONE bronze → silver step, shared by the
catalog loop ``refresh`` and the ``pipeline_medallion_e2e`` key.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mercurygate_spark.catalog import TABLES, TableSpec, derive_table_name
from mercurygate_spark.pipeline.bronze import BronzeResult, ZeroRowError, ingest_table
from mercurygate_spark.pipeline.ledger import RunLedger
from mercurygate_spark.pipeline.silver import conform, merge_upsert_scd


def refresh_table(
    spark: SparkSession,
    csv_path: str,
    spec: TableSpec,
    bronze_base: str,
    silver_base: str,
    database: str,
    updated_by: str,
    updated_on: datetime,
    mode: str,                   # 'initial' → datePart=Historic; 'refresh' → datePart=<date>
    date_part: str | None = None,
) -> tuple[BronzeResult, DataFrame]:
    """One extract → its bronze datePart → silver merge-upsert.

    Silver reads ONLY the datePart this call wrote (``basePath`` keeps
    ``datePart``/``year_month`` as columns): a claim missing from the
    extract is soft-deleted even though older dateParts still hold it,
    the listing does not grow with history, and each extract keeps its
    own inferred column types. ``datePart`` stays a string: read
    alone, ``datePart=2026-02-01`` would be inferred as a DATE.
    Returns the bronze result and the new current silver table."""
    res = ingest_table(
        spark, csv_path, spec, bronze_base, database, updated_by, updated_on,
        mode, date_part,
    )
    bronze = (
        spark.read.option("basePath", f"{bronze_base}/{spec.name}")
        .parquet(res.path)
        .withColumn("datePart", F.col("datePart").cast("string"))
    )
    current = merge_upsert_scd(spark, conform(bronze, spec), spec, f"{silver_base}/{spec.name}")
    return res, current


def refresh(
    spark: SparkSession,
    fetcher,                     # io.sftp.LocalFetcher | SftpFetcher
    staging_dir: str,
    bronze_base: str,
    silver_base: str,
    database: str,
    updated_by: str,
    updated_on: datetime,
    mode: str,
    tables: list[TableSpec] | None = None,
    ledger: RunLedger | None = None,
) -> dict[str, tuple[BronzeResult, DataFrame]]:
    """Fetch each extract that exists remotely (existence probe →
    skip, reference S4) and ``refresh_table`` it. The ledger count is
    the bronze row count (reference Q2), observed during the write."""
    ledger = ledger if ledger is not None else RunLedger()
    out: dict[str, tuple[BronzeResult, DataFrame]] = {}
    for spec in tables or TABLES.values():
        if not fetcher.exists(spec.source_file):
            continue
        with ledger.timed(spec.name, database) as entry:
            local = fetcher.fetch(spec.source_file, f"{staging_dir}/{database}/{spec.source_file}")
            assert derive_table_name(spec.source_file) == spec.name
            try:
                res, current = refresh_table(
                    spark, local, spec, bronze_base, silver_base, database,
                    updated_by, updated_on, mode,
                )
            except ZeroRowError:
                continue
            entry["count"] = res.count
            out[spec.name] = (res, current)
    return out
