"""End-to-end medallion run (SURVEY.md §3 'New-engine lifecycle'):
fetch (injected) → bronze → silver, per dataset (MM / Linehaul),
with a correctly-timed run ledger.

The reference runs this as four notebooks with duplicated code
(mm_* vs linehaul_* differ only in paths/download strategy); here it
is ONE parameterized function per layer.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from mercurygate_spark.catalog import TABLES, TableSpec, derive_table_name
from mercurygate_spark.io.fs import path_exists
from mercurygate_spark.pipeline.bronze import BronzeResult, ZeroRowError, ingest_table
from mercurygate_spark.pipeline.ledger import RunLedger
from mercurygate_spark.pipeline.silver import conform, merge_upsert_scd, publish_snapshot


def run_bronze(
    spark: SparkSession,
    fetcher,                     # io.sftp.LocalFetcher | SftpFetcher
    staging_dir: str,
    bronze_base: str,
    database: str,
    updated_by: str,
    updated_on: datetime,
    mode: str,
    tables: list[TableSpec] | None = None,
    ledger: RunLedger | None = None,
) -> list[BronzeResult]:
    """Fetch each extract that exists remotely (existence probe →
    skip, reference S4) and ingest it to bronze."""
    ledger = ledger if ledger is not None else RunLedger()
    results: list[BronzeResult] = []
    for spec in tables or TABLES.values():
        if not fetcher.exists(spec.source_file):
            continue
        with ledger.timed(spec.name, database) as entry:
            local = fetcher.fetch(spec.source_file, f"{staging_dir}/{database}/{spec.source_file}")
            assert derive_table_name(spec.source_file) == spec.name
            try:
                res = ingest_table(
                    spark, local, spec, bronze_base, database,
                    updated_by, updated_on, mode,
                )
            except ZeroRowError:
                continue
            entry["count"] = res.count
            results.append(res)
    return results


def run_silver(
    spark: SparkSession,
    bronze_base: str,
    silver_base: str,
    database: str,
    mode: str,                   # 'snapshot' (reference parity) | 'merge' (SCD upsert)
    tables: list[TableSpec] | None = None,
    ledger: RunLedger | None = None,
) -> dict[str, DataFrame]:
    """Bronze parquet (all dateParts) → conform → publish per table."""
    ledger = ledger if ledger is not None else RunLedger()
    out: dict[str, DataFrame] = {}
    for spec in tables or TABLES.values():
        src = f"{bronze_base}/{spec.name}"
        if not path_exists(spark, src):  # scheme-aware: os.path is False on URIs
            continue
        with ledger.timed(spec.name, database) as entry:
            bronze_df = spark.read.parquet(src)  # reads across datePart=* (reference S7)
            conformed = conform(bronze_df, spec)
            target = f"{silver_base}/{spec.name}"
            if mode == "merge":
                current = merge_upsert_scd(spark, conformed, spec, target)
            else:
                publish_snapshot(conformed, spec, target)
                current = spark.read.parquet(target)
            entry["count"] = current.count()
            out[spec.name] = current
    return out
