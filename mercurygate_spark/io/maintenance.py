"""Table maintenance: small-file compaction and sort clustering —
the OPTIMIZE/ZORDER-shaped operations (SURVEY.md §7 step 8) for plain
parquet layouts.

The reference sidesteps compaction by rewriting every table daily
(mm_bronze_silver.py:271); at 100 TB that's not an option — instead,
periodic compaction bounds file counts and clustering keeps row-group
min/max statistics selective so filter pushdown can skip row groups.

Both rewrite the table once and swap it in with io.writers.publish:
the rewritten frame reads the live table, so it goes to a staging
directory that is renamed into place — no second write of the bytes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from mercurygate_spark.io.writers import publish, read_delta_or_parquet


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet dir into ~target-sized files. Returns the new
    file count. Size estimate comes from the existing footprint via the
    Hadoop FileSystem API (one listing, scheme-aware — io.fs) — no data
    scan before the rewrite job itself."""
    from mercurygate_spark.io.fs import dir_size_bytes, path_exists

    total = dir_size_bytes(spark, path)
    # ContentSummary counts everything under the dir; exclude the Delta
    # transaction log (JSON commits + checkpoints), which is metadata,
    # not data — else Delta tables overshoot the target file count.
    log_dir = path.rstrip("/") + "/_delta_log"
    if path_exists(spark, log_dir):
        total = max(0, total - dir_size_bytes(spark, log_dir))
    n_files = max(1, round(total / target_file_bytes))
    publish(read_delta_or_parquet(spark, path).repartition(n_files), path)
    return n_files


def cluster_by(
    spark: SparkSession,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Rewrite with rows range-partitioned + sorted by ``sort_cols``
    (repartitionByRange + sortWithinPartitions): each output file owns
    a disjoint key range, so parquet row-group min/max stats make
    key-range filters skip whole files/row groups — the plain-parquet
    analogue of Delta ZORDER for one clustering dimension."""
    df = read_delta_or_parquet(spark, path)
    # file-count default from scan metadata, not df.rdd (which would
    # force a logical→RDD conversion and hide the plan from AQE)
    parts = n_files or max(1, len(df.inputFiles()))
    clustered = df.repartitionByRange(parts, *sort_cols).sortWithinPartitions(*sort_cols)
    publish(clustered, path)
