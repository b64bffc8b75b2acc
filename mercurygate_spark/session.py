"""SparkSession factory with deterministic, scale-aware defaults.

The reference creates its session implicitly (Databricks notebook
global ``spark``); this engine pins the conf explicitly so results are
reproducible and plans are scale-appropriate.

Key choices (and why they survive a 100 TB / 1000-executor scale-up):

- ``spark.sql.session.timeZone=UTC`` — parquet timestamps are
  instant-based; pinning the session TZ makes every date function
  (trunc, date_format, window) agree with UTC-naive engines (DuckDB
  oracle) and across clusters in different zones.
- AQE on (+ coalesce + skew join) — runtime re-planning picks the
  right post-shuffle partition count at any scale and splits skewed
  partitions; this is the main knob that makes one logical plan work
  at sf0.001 and at 100 TB.
- ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a
  real cluster AQE coalesces from a high initial number, so we only
  set the initial value when running local.
- ``spark.sql.sources.parallelPartitionDiscovery.parallelism`` = the
  core count: past 32 partition directories Spark lists them in a
  Spark job with, by default, one task per directory (up to 10000) —
  ~80 tiny tasks for each bronze ``datePart`` a silver read lists.
  Sized to the cores the listing is one wave of tasks.
- Arrow enabled — every pandas UDF / mapInPandas crossing is
  Arrow-batched, never row-at-a-time pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mercurygate_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long nanos and let
        # load_tables convert (truncating ns→µs, matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to a session we did not
    create (the driver hands us one in ``__spark_entry__.entry``)."""
    cores = str(spark.sparkContext.defaultParallelism)
    for k, v in {
        "spark.sql.sources.parallelPartitionDiscovery.parallelism": cores,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark
