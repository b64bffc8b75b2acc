"""Bucketed tables for co-located joins (the 100 TB fact⋈fact
strategy: pre-shuffle once at write time, join shuffle-free forever).

Spark bucketing requires the table catalog (`saveAsTable`, hive-style
layout in the warehouse dir); plain `.parquet(path)` cannot carry
bucket metadata. The payoff: two tables bucketed by the same key into
the same bucket count sort-merge join with ZERO Exchange — asserted in
tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: str,
    n_buckets: int,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) catalog table.
    Sorting within buckets additionally removes the join-time Sort."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    w.format("parquet").saveAsTable(table_name)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def _restore_stranded(spark: SparkSession, table_name: str) -> None:
    """Move ``<table_name>__old`` back to the live name when a swap
    crashed between its renames and left nothing under it."""
    old = f"{table_name}__old"
    if not spark.catalog.tableExists(table_name) and spark.catalog.tableExists(old):
        spark.sql(f"ALTER TABLE {old} RENAME TO {table_name}")


def swap_bucketed(spark: SparkSession, table_name: str, staging: str) -> None:
    """Swap a fully-written staging table into the live name —
    write-new-then-rename, the reference's snapshot-replace doctrine
    (mm_bronze_silver.py:230 rewrites the whole table and repoints the
    name) applied to index maintenance: the new index is built and
    VALIDATED under ``staging`` while readers keep serving the old
    table; the swap itself is two catalog renames plus a drop, never a
    data copy, and it is the engine's only catalog-table swap (the
    path-based twin is io.writers.publish). The live table's data is
    never deleted before the replacement holds the live name. A crash
    between the renames leaves the live table only under ``__old``;
    like ``io.writers.published``, the next call moves it back to the
    live name before dropping any stale ``__old`` (``_restore_stranded``),
    so a replay swaps the staging table in and loses no rows.

    Reader safety is BOUNDED, not absolute (ADVICE r10): readers
    planned before the swap keep working only until the final DROP of
    the __old managed table, which deletes its data files immediately
    — an in-flight scan that outlives the swap fails on missing files.
    In this engine's usage the swap runs between probe batches of the
    same single job, so no reader can span it; a multi-reader
    production deployment needs a transactional catalog
    (Delta/Iceberg) or a deferred garbage-collect of __old instead of
    the inline DROP."""
    _restore_stranded(spark, table_name)
    old = f"{table_name}__old"
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE {old}")


def compact_bucketed(
    spark: SparkSession,
    table_name: str,
    bucket_by: str,
    n_buckets: int,
    sort_by: str | None = None,
) -> int:
    """Rewrite a bucketed table down to ONE file per bucket while
    preserving the bucket spec — the maintenance step a continuously
    APPENDED bucketed index needs (each append adds a file per
    (writer task, bucket): probes stay exchange-free, but scan I/O and
    open-file counts grow linearly with appends until a rewrite).

    The rewrite is ZERO-shuffle: with autoBucketedScan pinned on for
    the read, the scan materializes one partition per bucket (all of a
    bucket's accumulated files merge into its partition), each writer
    task holds exactly one bucket, and the bucketed write emits one
    file per bucket. An explicit `repartition(n, col)` would NOT work
    here — the planner sees the bucketed table already satisfies the
    clustering, elides the exchange, and may THEN disable the bucketed
    scan (autoBucketedScan), leaving arbitrary task↔bucket alignment —
    which is why the conf pin is the mechanism, not a hint.

    The rewrite is written under a staging name and swapped in with
    ``swap_bucketed`` (see its crash and reader-safety notes); a replay
    after a crash between the swap's renames first restores the live
    table, so it re-reads and rewrites the same rows.

    Returns the compacted file count (== n_buckets). Plan contract
    (pinned in tests/test_plans.py): a probe join against the
    compacted table still reads `Bucketed: true` with no index-side
    Exchange, and the file count is back to one per bucket.
    """
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf_key, None)
    staging = f"{table_name}__compact"
    _restore_stranded(spark, table_name)
    try:
        spark.conf.set(conf_key, "false")
        df = spark.table(table_name)
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_by)
        if sort_by:
            w = w.sortBy(sort_by)
        w.format("parquet").saveAsTable(staging)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    swap_bucketed(spark, table_name, staging)
    return len(spark.table(table_name).inputFiles())
