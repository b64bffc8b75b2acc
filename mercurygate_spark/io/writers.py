"""Sinks (SURVEY.md §2a K1-K3).

The reference writes Bronze as hive-partitioned parquet
(mm_source_to_bronze.py:164) and Silver as Delta with
``overwriteSchema=true`` (mm_bronze_silver.py:230,246,271). This engine
keeps both shapes, with a parquet fallback when delta-spark is not on
the classpath (SURVEY.md §7 risk "Delta availability").

Scale posture: a partitioned write clusters its rows by the partition
columns first, so each partition value lands in one task and one file
(see ``write_parquet_partitioned``); the reference's daily
full-overwrite never compacts, so the file count is fixed at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def delta_available(spark: SparkSession) -> bool:
    """True when the Delta Lake writer can be used in this session."""
    try:
        # py4j resolves missing classes to JavaPackage lazily, so probe
        # with Class.forName which genuinely throws when absent.
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")  # noqa: SLF001
        return True
    except Exception:
        return False


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet overwrite — reference K1
    (mm_source_to_bronze.py:164) as one idempotent call.

    With ``partition_by``, the frame is hash-repartitioned on those
    columns into ``defaultParallelism`` partitions before the write, so
    each partition value is written by exactly one task as exactly one
    file, and the files are spread across the cores. Without it every
    input split writes its own file per value it holds: (splits ×
    values) files, which for a ~90 GB daily claim extract is ~700 splits
    × 79 months ≈ 55k small files a day.

    The cost of a partitioned write is per file, not per byte. On a
    local filesystem without Hadoop's native IO, ``RawLocalFileSystem``
    forks a ``chmod`` for every file and directory it creates: ~530
    process spawns (~6–7 per month file) for one 79-month, 1.3 MB
    extract, against ~20 for the same rows unpartitioned (~0.35 s). One
    task pays those forks one after another (~2 s); four tasks pay them
    in parallel (~1.3 s, ``local[4]``). The partition count is explicit
    because AQE coalesces a count-less ``repartition`` or a ``REBALANCE``
    hint of a frame this small back into a single task.

    ``sortWithinPartitions(partition_by)`` after the shuffle bounds each
    task to ONE open parquet writer at a time (FileFormatWriter closes
    the current file when the sorted partition key changes): without it
    a task holds a column-buffering writer per partition value it sees
    — with ~80 year_month values that is the JVM-heap blowup the
    round-8 memory probe measured (OOM at a 1.4 GB heap, unreachable by
    execution-memory spilling because writer buffers live on the heap).
    The sort is per-task and spillable.

    Scale trade-off: one partition value of one write is one task and
    one file — a month of a ~90 GB daily snapshot is a ~1.1 GB file,
    and a hot month is not split across tasks."""
    if partition_by:
        n = df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(n, *partition_by).sortWithinPartitions(*partition_by)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_delta_or_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> str:
    """Reference K2 (mm_bronze_silver.py:230): Delta overwrite with
    overwriteSchema when Delta is on the classpath, else parquet.
    Returns the format actually used ('delta' | 'parquet')."""
    fmt = "delta" if delta_available(df.sparkSession) else "parquet"
    w = df.write.format(fmt).mode(mode)
    if fmt == "delta":
        w = w.option("overwriteSchema", "true")
    w.save(path)
    return fmt


def published(spark: SparkSession, path: str) -> bool:
    """Whether a table published by ``publish`` exists at ``path`` —
    the probe every first-load-vs-refresh routing decision uses.

    A publish interrupted between its two renames leaves the previous
    table under ``path__old`` and nothing at ``path``; this probe moves
    it back first, so a crash sends the next load down the refresh
    branch against the previous table instead of silently rebuilding
    it as a first load."""
    from mercurygate_spark.io.fs import path_exists, rename_path

    root = path.rstrip("/")
    if not path_exists(spark, root) and path_exists(spark, root + "__old"):
        rename_path(spark, root + "__old", root)
    return path_exists(spark, root)


def publish(df: DataFrame, path: str) -> str:
    """Replace the whole table at ``path`` with ``df`` — the reference's
    snapshot-replace (mm_bronze_silver.py:230) as the engine's single
    publish primitive. ``df`` may read ``path`` itself (a merge over the
    live table): it is written once to ``path__staging`` and the bytes
    are never rewritten. Steps:

    1. recover an interrupted publish (``published``), then drop the
       stale ``__old`` / ``__staging`` siblings it may have left;
    2. write ``path__staging`` (the only Spark job);
    3. rename the live table aside to ``path__old``;
    4. rename staging to ``path``;
    5. delete ``path__old``;
    6. ``refreshByPath``: the renames happened behind Spark's back, so
       cached listings of ``path`` are dropped.

    At every point either the previous table (at ``path`` or
    ``path__old``) or the new one (at ``path``) is intact, so a crash
    at any step followed by a replay of the same load converges to the
    table a clean run writes. Steps 3–5 are FileSystem metadata calls
    (io.fs): a directory move on local disk and HDFS, a server-side
    copy on object stores without atomic rename — no Spark job either
    way. On Delta the new table brings its own log, so time travel does
    not reach across a publish. Returns the format written."""
    from mercurygate_spark.io.fs import delete_path, path_exists, rename_path

    spark = df.sparkSession
    root = path.rstrip("/")
    staging, old = root + "__staging", root + "__old"
    published(spark, root)
    delete_path(spark, old)
    delete_path(spark, staging)
    fmt = write_delta_or_parquet(df, staging)
    if path_exists(spark, root):
        rename_path(spark, root, old)
    rename_path(spark, staging, root)
    delete_path(spark, old)
    spark.catalog.refreshByPath(root)
    return fmt


def read_delta_or_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read back whatever ``write_delta_or_parquet`` produced. The
    _delta_log probe uses the Hadoop FileSystem API (io.fs) so it works
    on object-store URIs, not just driver-local paths."""
    from mercurygate_spark.io.fs import path_exists

    fmt = "delta" if path_exists(spark, path.rstrip("/") + "/_delta_log") else "parquet"
    return spark.read.format(fmt).load(path)
