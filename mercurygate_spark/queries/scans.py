"""Scans / sources / sinks (SURVEY.md §2c "Scans / sources / sinks").

Covers: scan_parquet (S7), scan_csv_infer (S6), sink_parquet_partitioned
(K1), sink_delta_overwrite (K2, parquet fallback), source_local_rows (S8).

Sinks are exercised as round-trips: write to a temp dir with the
engine's writer, read back, aggregate — the oracle aggregates the
original table, so a faithful sink is an identity round-trip.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mercurygate_spark.functions import month_bucket, r2
from mercurygate_spark.io.writers import (
    read_delta_or_parquet,
    write_delta_or_parquet,
    write_parquet_partitioned,
)
from mercurygate_spark.queries.registry import load_tables, query


def _tmp(name: str) -> str:
    # per-process dir: the driver may run correctness and bench
    # concurrently; a shared path would race on overwrite-then-read
    d = os.path.join(tempfile.gettempdir(), f"mercurygate_spark_sinks_{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


@query(
    "scan_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with projection + filter — Catalyst pushes both into
    the scan (ReadSchema pruned to 5 cols, PushedFilters on l_returnflag).
    Reference anchor: mm_bronze_silver.py:204."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "scan_csv_infer",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def scan_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with header + schema inference (reference S6,
    mm_source_to_bronze.py:135-138): round-trip lineitem through CSV,
    re-infer types, aggregate. Matching the parquet-based oracle proves
    header handling + inference recover the original ints/doubles/strings.
    """
    t = load_tables(spark, sf_dir, "lineitem")
    path = _tmp("csv_roundtrip")
    # Numeric + string subset: CSV cannot round-trip microsecond
    # timestamps through inference, doubles/longs/strings can.
    t["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    ).write.mode("overwrite").option("header", True).csv(path)
    df = spark.read.csv(path, header=True, inferSchema=True)
    return df.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        r2(F.sum("l_quantity")).alias("sum_qty"),
        r2(F.sum("l_extendedprice")).alias("sum_price"),
    )


@query(
    "scan_json_lines",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source round-trip: documents → JSONL → read back with
    an explicit schema → aggregate. Matching the parquet-based oracle
    proves the JSON codec round-trips values (schema given — JSON
    inference at 100 TB means a full extra pass; never default to it)."""
    t = load_tables(spark, sf_dir, "documents")
    path = _tmp("json_roundtrip")
    t["documents"].select("doc_id", "lang", "n_chars").write.mode("overwrite").json(path)
    df = spark.read.schema("doc_id long, lang string, n_chars long").json(path)
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/scan round-trip (the other columnar format Spark ships
    natively) — identity round-trip proven by aggregating the read-back
    against the parquet-based oracle."""
    t = load_tables(spark, sf_dir, "orders")
    path = _tmp("orc_roundtrip")
    t["orders"].write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"), r2(F.sum("o_totalprice")).alias("revenue")
    )


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS year_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    GROUP BY 1
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink round-trip (reference K1,
    mm_source_to_bronze.py:164): write orders partitioned by the derived
    year_month column, read back across partitions, aggregate per
    partition value. Proves the hive layout + partition-column recovery."""
    t = load_tables(spark, sf_dir, "orders")
    path = _tmp("parquet_partitioned")
    enriched = t["orders"].withColumn("year_month", month_bucket("o_orderdate"))
    write_parquet_partitioned(enriched, path, partition_by=["year_month"])
    back = spark.read.parquet(path)
    return back.groupBy("year_month").agg(
        F.count("*").alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("sum_total"),
    )


@query(
    "sink_delta_overwrite",
    oracle="""
    SELECT count(*) AS n_rows, count(DISTINCT c_custkey) AS n_keys,
           round(sum(c_acctbal), 2) AS sum_bal
    FROM customer
    """,
)
def sink_delta_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overwrite sink with schema-overwrite semantics (reference K2,
    mm_bronze_silver.py:230) — Delta when available, parquet fallback
    otherwise (this environment has no delta-spark). Write twice
    (overwrite must replace, not append), read back, aggregate."""
    t = load_tables(spark, sf_dir, "customer")
    path = _tmp("delta_overwrite")
    write_delta_or_parquet(t["customer"], path, mode="overwrite")
    write_delta_or_parquet(t["customer"], path, mode="overwrite")  # idempotent replace
    back = read_delta_or_parquet(spark, path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("c_custkey").alias("n_keys"),
        r2(F.sum("c_acctbal")).alias("sum_bal"),
    )


@query(
    "source_local_rows",
    oracle="""
    SELECT * FROM (VALUES
      ('NAM', 'USA', 'mm'),
      ('NAM', 'USA', 'linehaul'),
      ('EMEA', 'DEU', 'mm')
    ) AS t(region, country, database)
    """,
)
def source_local_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-collection source (reference S8, mm_source_to_bronze.py:208
    run-metadata pattern): createDataFrame from driver rows."""
    rows = [
        ("NAM", "USA", "mm"),
        ("NAM", "USA", "linehaul"),
        ("EMEA", "DEU", "mm"),
    ]
    return spark.createDataFrame(rows, schema="region string, country string, database string")


@query(
    "scan_text_lines",
    oracle="""
    SELECT count(*) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs_seen
    FROM documents
    """,
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source round-trip: one line per document → text sink
    → text source (each line back as `value`). Both fields are hex-
    wrapped on the line (hex digits contain neither tab nor newline;
    Spark's base64 is MIME-chunked with embedded CRLF, so it can NOT
    be used here), so the one-line-per-record invariant holds for
    ARBITRARY document content — a text containing '\\n' or a lang
    containing '\\t' round-trips exactly instead of silently splitting
    the line (ADVICE r3). At 100 TB the text source is the cheapest
    scan there is (no footer/stats) — the format raw corpus dumps
    arrive in."""
    t = load_tables(spark, sf_dir, "documents")
    path = _tmp("text_roundtrip")
    t["documents"].select(
        F.concat_ws(
            "\t", F.hex(F.col("lang").cast("binary")), F.hex(F.col("text").cast("binary"))
        ).alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    parsed = lines.select(
        F.unhex(F.substring_index("value", "\t", 1)).cast("string").alias("lang"),
        F.unhex(F.expr("substring(value, instr(value, '\t') + 1)")).cast("string").alias("text"),
    )
    return parsed.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs_seen"),
    )


@query(
    "sink_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source round-trip (native in Spark 4 — no external
    package): orders → row-tagged XML → read back with explicit schema
    → aggregate. Matching the parquet-based oracle proves the XML codec
    round-trips values. Schema is explicit: XML inference at scale is
    a full extra pass, same rule as scan_json_lines."""
    t = load_tables(spark, sf_dir, "orders")
    path = _tmp("xml_roundtrip")
    t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice").write.format(
        "xml"
    ).option("rowTag", "order").mode("overwrite").save(path)
    df = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .load(path)
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("sum_total"),
    )


@query(
    "sink_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ), updates AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 4 = 0 OR o_orderkey % 2 = 1
    )
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           round(coalesce(u.o_totalprice, b.o_totalprice), 2) AS o_totalprice
    FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert) semantics on plain parquet, Delta-free: a base
    table (even order keys) merged with an update set (multiples of 4
    doubled + odd keys inserted) through write → full-outer
    read-modify-write → read back. The oracle states the MERGE
    contract declaratively; matching it proves the round-tripped
    upsert is exactly whenMatchedUpdateAll + whenNotMatchedInsertAll —
    the same semantics pipeline/silver.py's merge_upsert_scd applies
    (with the Delta fast path when delta-spark is present)."""
    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"]
    base = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.where((F.col("o_orderkey") % 4 == 0) | (F.col("o_orderkey") % 2 == 1)).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    path = _tmp("merge_upsert")
    base.write.mode("overwrite").parquet(path)
    current = spark.read.parquet(path)
    merged = (
        current.alias("b")
        .join(updates.alias("u"), "o_orderkey", "full_outer")
        .select(
            "o_orderkey",
            F.coalesce(F.col("u.o_orderstatus"), F.col("b.o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias(
                "o_totalprice"
            ),
        )
    )
    out = path + "_v2"
    merged.write.mode("overwrite").parquet(out)
    final = spark.read.parquet(out)
    return final.select(
        "o_orderkey", "o_orderstatus", r2(F.col("o_totalprice")).alias("o_totalprice")
    )


@query(
    "scan_csv_malformed",
    oracle="""
    SELECT count(*) AS n_good,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders WHERE o_orderkey % 10 <> 0
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resilient CSV ingestion: a landing file where every 10th row has
    a corrupted numeric field, read with an explicit schema in
    DROPMALFORMED mode — bad rows are skipped, the job survives. The
    oracle counts exactly the clean rows, so the key pins BOTH that
    malformed rows are dropped AND that no good row is lost. (The
    PERMISSIVE/_corrupt_record alternative keeps bad rows for
    quarantine — dq_expectations is that path's audit.)"""
    t = load_tables(spark, sf_dir, "orders")
    path = _tmp("csv_malformed")
    line = F.when(
        F.col("o_orderkey") % 10 == 0,
        F.concat_ws(",", F.col("o_orderkey").cast("string"), F.lit("not_a_number")),
    ).otherwise(
        # double→string is Java shortest-round-trip, so the CSV parse
        # recovers the exact same double (sci notation parses fine too)
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_totalprice").cast("string"),
        )
    )
    t["orders"].select(line.alias("value")).write.mode("overwrite").text(path)
    df = spark.read.csv(
        path, schema="o_orderkey long, o_totalprice double", mode="DROPMALFORMED"
    )
    return df.agg(
        F.count("*").alias("n_good"), r2(F.sum("o_totalprice")).alias("sum_total")
    )


@query(
    "scan_binary_files",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.bin' AS file_name,
           octet_length(encode(text)) AS length,
           substr(hex(encode(text)), 1, 8) AS head_hex,
           substr(hex(encode(text)), octet_length(encode(text)) * 2 - 7, 8) AS tail_hex
    FROM documents
    WHERE doc_id < 20 AND octet_length(encode(text)) >= 8
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion via Spark's ``binaryFile`` source — the
    entry point for multimodal corpora (images/audio/video land as
    (path, length, content) rows; queries/multimodal.py parses from
    there). A bounded fixture set (20 docs' utf-8 bytes written as
    .bin files) is read back as blobs; head/tail hex proves content
    fidelity byte-for-byte at both ends of each file, and the oracle
    replays the same bytes straight from the documents view. At 100 TB
    each file is one task (binaryFile never splits a file), and
    Catalyst prunes the `content` column when downstream projects only
    metadata."""
    path = _tmp("binary_files")
    os.makedirs(path, exist_ok=True)
    fixtures = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .where(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()  # bounded by construction: < 20 rows at any SF
    )
    for r in fixtures:
        with open(os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    df = spark.read.format("binaryFile").load(path)
    return df.where(F.length("content") >= 8).select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length"),
        F.hex(F.substring("content", 1, 4)).alias("head_hex"),
        F.hex(F.expr("substring(content, -4, 4)")).alias("tail_hex"),
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
    FROM orders
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations under one root —
    v1 files lack the o_orderstatus column a later producer added —
    merged by ``mergeSchema=true`` (old rows surface NULL, exactly like
    the oracle's CASE). This is the long-lived-table reality at 100 TB:
    you can never rewrite history to add a column. Per-file footer
    merge happens at planning; pruning/pushdown still work on the
    merged schema."""
    t = load_tables(spark, sf_dir, "orders")
    path = _tmp("schema_evolution")
    t["orders"].where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{path}/v1")
    t["orders"].where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.mode("overwrite").parquet(f"{path}/v2")
    df = spark.read.option("mergeSchema", "true").parquet(f"{path}/v1", f"{path}/v2")
    return df.select(
        "o_orderkey", r2(F.col("o_totalprice")).alias("o_totalprice"), "o_orderstatus"
    )


@query(
    "scan_observe_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_total,
           round(min(o_totalprice), 2) AS min_total,
           round(max(o_totalprice), 2) AS max_total,
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive
    FROM orders
    """,
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the Observation API: data-quality
    counters (row count, sum/min/max, nonpositive-price violations)
    piggyback on the scan as observe() metrics — at 100 TB the DQ
    audit rides the job that was running anyway, instead of a second
    full pass. The observed values are returned as a 1-row frame and
    pinned to the oracle's independent aggregation."""
    from pyspark.sql import Observation

    t = load_tables(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = t["orders"].observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_totalprice").alias("sum_total"),
        F.min("o_totalprice").alias("min_total"),
        F.max("o_totalprice").alias("max_total"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("n_nonpositive"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" job
    m = obs.get
    row = [
        (
            m["n_rows"],
            float(m["sum_total"]),
            float(m["min_total"]),
            float(m["max_total"]),
            m["n_nonpositive"],
        )
    ]
    df = spark.createDataFrame(
        row,
        schema="n_rows long, sum_total double, min_total double, "
        "max_total double, n_nonpositive long",
    )
    return df.select(
        "n_rows",
        r2(F.col("sum_total")).alias("sum_total"),
        r2(F.col("min_total")).alias("min_total"),
        r2(F.col("max_total")).alias("max_total"),
        "n_nonpositive",
    )


@query(
    "source_python_datasource",
    oracle="""
    SELECT i % 7 AS sensor_id,
           count(*) AS n_readings,
           round(sum(((i * 37) % 1000) / 10.0), 2) AS sum_value,
           round(max(((i * 37) % 1000) / 10.0), 2) AS max_value
    FROM (SELECT unnest(generate_series(0, 4999)) AS i)
    GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via the Spark 4 Python DataSource API
    (io/python_source.py): schema + partition planning + per-partition
    generator all authored in Python, executed as one task per
    declared InputPartition (8 here — the source, not luck, decides
    parallelism). The oracle replays the deterministic generator
    arithmetic over generate_series, so the whole read path —
    registration, planning, Arrow hand-off, aggregation — is
    value-checked end to end."""
    from mercurygate_spark.io.python_source import register_sensor_source

    register_sensor_source(spark)
    df = spark.read.format("sensor").option("n", 5000).option("parts", 8).load()
    return df.groupBy("sensor_id").agg(
        F.count("*").alias("n_readings"),
        r2(F.sum("value")).alias("sum_value"),
        r2(F.max("value")).alias("max_value"),
    )


@query(
    "sink_clustered_range",
    oracle="""
    SELECT count(*) AS n_rows,
           epoch_us(min(l_shipdate)) AS min_ship_us,
           epoch_us(max(l_shipdate)) AS max_ship_us,
           CAST(8 AS BIGINT) AS n_files,
           true AS files_disjoint,
           true AS row_groups_ordered
    FROM lineitem
    """,
)
def sink_clustered_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered parquet sink (the Z-order-lite / liquid-
    clustering layout for single-key range predicates):
    repartitionByRange(8, l_shipdate) + sortWithinPartitions, so every
    output file owns one contiguous, non-overlapping shipdate range
    and row groups inside each file are date-ordered. That layout is
    what makes min/max pruning work at 100 TB: a shipdate range
    predicate hits the footer statistics and skips whole files, not
    just row groups — scan cost becomes O(selectivity), independent of
    table size.

    The clustering contract is VERIFIED from parquet footers alone
    (pyarrow metadata, no data read — the same O(#files) arithmetic a
    query planner does): `files_disjoint` pins pairwise-disjoint
    per-file [min,max] shipdate spans (RangePartitioner sends equal
    keys to one partition, so spans cannot even touch);
    `row_groups_ordered` pins rg[i].max <= rg[i+1].min within each
    file. Row fidelity comes from the Spark read-back aggregate; the
    oracle aggregates the original table plus literal TRUEs/8."""
    import glob

    import pyarrow.parquet as pq

    t = load_tables(spark, sf_dir, "lineitem")
    path = _tmp("clustered_range")
    # Spark's default parquet timestamp encoding is legacy INT96,
    # which carries NO min/max statistics — clustering would be
    # invisible to pruning. TIMESTAMP_MICROS (INT64) is the
    # stats-bearing encoding every lakehouse layout relies on. The
    # conf only needs to cover the write, so save/restore it — the
    # driver sweeps all keys in one shared session.
    _TS_CONF = "spark.sql.parquet.outputTimestampType"
    saved_ts = spark.conf.get(_TS_CONF, None)
    try:
        spark.conf.set(_TS_CONF, "TIMESTAMP_MICROS")
        (
            t["lineitem"]
            .select("l_orderkey", "l_shipdate", "l_extendedprice")
            .repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate", "l_orderkey")
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if saved_ts is None:
            spark.conf.unset(_TS_CONF)
        else:
            spark.conf.set(_TS_CONF, saved_ts)
    spans = []
    rg_ordered = True
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_shipdate"
        )
        stats = [
            md.row_group(rg).column(col_idx).statistics
            for rg in range(md.num_row_groups)
        ]
        for prev, nxt in zip(stats, stats[1:]):
            rg_ordered = rg_ordered and prev.max <= nxt.min
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    spans.sort()
    disjoint = all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.unix_micros(F.min("l_shipdate")).alias("min_ship_us"),
        F.unix_micros(F.max("l_shipdate")).alias("max_ship_us"),
    ).select(
        "*",
        F.lit(len(spans)).cast("long").alias("n_files"),
        F.lit(bool(disjoint)).alias("files_disjoint"),
        F.lit(bool(rg_ordered)).alias("row_groups_ordered"),
    )


@query(
    "sink_parquet_zstd",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total,
           true AS codec_is_zstd
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-codec sink: parquet written with compression=zstd —
    at 100 TB the codec choice IS a capacity decision (zstd typically
    cuts 25-40 % vs snappy at similar scan speed, and decompression
    parallelizes per column chunk). The codec actually in the file is
    verified from footer metadata (pyarrow column-chunk codec tag, not
    the writer conf — a silent fallback to snappy would still read
    fine and hide forever); row fidelity via the read-back aggregate
    against the oracle on the original table."""
    import glob

    import pyarrow.parquet as pq

    t = load_tables(spark, sf_dir, "orders")
    path = _tmp("zstd_sink")
    (
        t["orders"]
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(path)
    )
    codec_ok = all(
        pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "ZSTD"
        for f in glob.glob(os.path.join(path, "part-*"))
    )
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("sum_total"),
    ).select("*", F.lit(bool(codec_ok)).alias("codec_is_zstd"))


@query(
    "scan_jsonl_corrupt",
    oracle="""
    SELECT CAST(count_if(doc_id % 10 <> 0) AS BIGINT) AS n_good,
           CAST(count_if(doc_id % 10 = 0) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN n_chars END) AS BIGINT)
             AS good_chars
    FROM documents
    """,
)
def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record-tolerant JSON scan (PERMISSIVE +
    columnNameOfCorruptRecord): every 10th document is written as a
    truncated JSON line, the reader lands those rows in _corrupt_raw
    with all schema fields NULL, and the good rows parse normally —
    the 100 TB contract being that ONE malformed record quarantines
    itself instead of failing the stage (FAILFAST) or silently
    vanishing (DROPMALFORMED). The CSV twin is scan_csv_malformed;
    JSON needs its own key because its corrupt channel is a schema
    COLUMN, not a filter. Oracle replays the corruption rule
    analytically on the clean table."""
    t = load_tables(spark, sf_dir, "documents")
    path = _tmp("jsonl_corrupt")
    lines = t["documents"].select(
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(', "lang": "trunc')),
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang", "n_chars")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt_raw string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_raw")
        .json(path)
    )
    return back.agg(
        F.count_if(F.col("_corrupt_raw").isNull()).alias("n_good"),
        F.count_if(F.col("_corrupt_raw").isNotNull()).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_raw").isNull(), F.col("n_chars"))).alias(
            "good_chars"
        ),
    )


@query(
    "sink_zorder_morton",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(l_partkey % 1024) AS BIGINT) AS sum_x,
           CAST(sum(l_suppkey % 1024) AS BIGINT) AS sum_y,
           true AS x_spans_bounded,
           true AS y_spans_bounded
    FROM lineitem
    """,
)
def sink_zorder_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered sink (Morton space-filling curve): interleave
    the bits of two cluster keys (x = partkey%1024, y = suppkey%1024)
    into one 20-bit Morton code, then range-partition + sort on it —
    so every output file covers a compact RECTANGLE of (x, y) space
    and predicates on EITHER dimension prune files. That is the
    property 1-D clustering (sink_clustered_range) cannot give: sort
    by x alone and each file spans ALL of y. The Morton interleave is
    pure integer arithmetic (shiftright/&/shiftleft — stays in
    whole-stage codegen, works identically in any engine).

    The contract is verified from parquet FOOTERS: partitioning on
    the TOP 4 MORTON BITS (z div 2¹⁶ — a hive partition per quadtree
    cell, deterministic, no sampled range cuts: a sampled cut that
    straddles a high-bit boundary spans two quadrants and breaks the
    bound, which the sf0.1 sweep demonstrated) makes every file a
    quadtree cell spanning exactly ≤¼ of each axis — the key pins
    every file's x-span AND y-span ≤ ⅓ of the global span. Row
    fidelity via the read-back aggregate."""
    import glob

    import pyarrow.parquet as pq

    t = load_tables(spark, sf_dir, "lineitem")
    x = F.col("l_partkey") % 1024
    y = F.col("l_suppkey") % 1024
    morton = sum(
        (
            F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
        )
        for i in range(10)
    )
    path = _tmp("zorder_morton")
    (
        t["lineitem"]
        .select(
            "l_orderkey",
            x.alias("x"),
            y.alias("y"),
            morton.alias("z"),
            (morton / 65536).cast("int").alias("zbucket"),
        )
        .repartition("zbucket")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(path)
    )

    def spans(col_name):
        out = []
        for f in sorted(glob.glob(os.path.join(path, "zbucket=*", "part-*"))):
            md = pq.ParquetFile(f).metadata
            idx = next(
                i
                for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col_name
            )
            st = [
                md.row_group(rg).column(idx).statistics
                for rg in range(md.num_row_groups)
            ]
            out.append(
                max(s.max for s in st) - min(s.min for s in st)
            )
        return out

    x_ok = all(s <= 1024 // 3 for s in spans("x"))
    y_ok = all(s <= 1024 // 3 for s in spans("y"))
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
    ).select(
        "*",
        F.lit(bool(x_ok)).alias("x_spans_bounded"),
        F.lit(bool(y_ok)).alias("y_spans_bounded"),
    )


@query(
    "scan_fixed_width",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_total,
           min(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
           max(strftime(o_orderdate, '%Y-%m-%d')) AS last_date
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width record source — the mainframe/EDI interchange
    format Spark has no reader for: parse it as a text scan + substr
    projections (byte offsets ARE the schema), which stays entirely
    in whole-stage codegen — no UDF, no regex. Round-trip: orders
    rendered to 38-byte records (%012d key · 1-char status ·
    %015.2f amount · ISO date), read back as text, sliced by
    position, casts re-typed. The read-back aggregate matching the
    parquet-based oracle proves offset arithmetic and numeric
    re-parse are lossless (amounts are 2-decimal, so %.2f text is
    exact)."""
    t = load_tables(spark, sf_dir, "orders")
    path = _tmp("fixed_width")
    lines = t["orders"].select(
        F.concat(
            F.format_string("%012d", F.col("o_orderkey")),
            F.col("o_orderstatus"),
            F.format_string("%015.2f", F.col("o_totalprice")),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.substring("value", 1, 12).cast("long").alias("o_orderkey"),
        F.substring("value", 13, 1).alias("o_orderstatus"),
        F.substring("value", 14, 15).cast("double").alias("o_totalprice"),
        F.substring("value", 29, 10).alias("order_date"),
    )
    return parsed.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("sum_total"),
        F.min("order_date").alias("first_date"),
        F.max("order_date").alias("last_date"),
    )


@query(
    "pipeline_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price,
             0 AS seq, 'I' AS op
      FROM orders WHERE o_orderkey % 4 <> 3
    ), log AS (
      SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice + 1000 AS price,
             1 AS seq, 'U' AS op
      FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 2, 'D'
      FROM orders WHERE o_orderkey % 4 = 2
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'I'
      FROM orders WHERE o_orderkey % 4 = 3
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice + 5000, 4, 'U'
      FROM orders WHERE o_orderkey % 8 = 2
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM log
    ), latest AS (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM unioned
    )
    SELECT st AS o_orderstatus,
           count(*) AS n_rows,
           round(sum(price), 2) AS sum_price
    FROM latest WHERE rn = 1 AND op <> 'D'
    GROUP BY st
    """,
)
def pipeline_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application (the Debezium-style apply step): a base
    snapshot plus an ordered change log of upserts (I/U) and deletes
    (D) reduce to the final table state — per key, the HIGHEST
    sequence number wins; a trailing D erases, a U after a D
    resurrects (exercised here: keys ≡2 mod 8 are deleted at seq 2
    and re-upserted at seq 4). This generalizes sink_merge_upsert
    (one batch of upserts) to the multi-op, delete-bearing log every
    lakehouse ingestion pipeline replays. The reduction is
    window_dedupe_latest's shape — one shuffle keyed on the business
    key, log order as the tiebreak — so applying a log at 100 TB
    costs exactly one co-partitioned pass, not one MERGE per
    operation batch. Log rows derive from orders arithmetic so the
    oracle replays the identical reduction."""
    t = load_tables(spark, sf_dir, "orders")
    o = t["orders"]

    def frame(where, price, seq, op):
        return o.where(where).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("st"),
            price.alias("price"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    p = F.col("o_totalprice")
    unioned = (
        frame(F.col("o_orderkey") % 4 != 3, p, 0, "I")
        .unionByName(frame(F.col("o_orderkey") % 4 == 1, p + 1000, 1, "U"))
        .unionByName(frame(F.col("o_orderkey") % 4 == 2, p, 2, "D"))
        .unionByName(frame(F.col("o_orderkey") % 4 == 3, p, 3, "I"))
        .unionByName(frame(F.col("o_orderkey") % 8 == 2, p + 5000, 4, "U"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    latest = unioned.withColumn("rn", F.row_number().over(w))
    return (
        latest.where((F.col("rn") == 1) & (F.col("op") != "D"))
        .groupBy(F.col("st").alias("o_orderstatus"))
        .agg(
            F.count("*").alias("n_rows"),
            r2(F.sum("price")).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 history sink (VERDICT r11 next #5): pipeline/silver.py's
# merge_upsert_scd2 driven through three successive snapshot
# generations, with the oracle stating the full valid_from/valid_to
# history DECLARATIVELY (gap-aware version segmentation over the same
# three generation definitions) — the multi-generation twin of
# sink_merge_upsert's single-merge contract.
# ---------------------------------------------------------------------------

_SCD2_TS = {1: "2024-01-01", 2: "2024-02-01", 3: "2024-03-01"}


def scd2_generation(cust: DataFrame, g: int) -> DataFrame:
    """Snapshot generation g of the SCD2 torture schedule: keys
    ≡ -g (mod 7) absent, keys ≡ 0 (mod 5) change balance each
    generation. Shared by sink_scd2_history and stream_scd2_upsert so
    the batch and streaming keys replay the SAME upstream."""
    return cust.where((F.col("c_custkey") + g) % 7 != 0).select(
        "c_custkey",
        (
            r2(F.col("c_acctbal"))
            + F.when(F.col("c_custkey") % 5 == 0, F.lit(float(g))).otherwise(
                F.lit(0.0)
            )
        ).alias("bal"),
    )


def _scd2_oracle() -> str:
    from mercurygate_spark.functions import sql_r2

    bal = (
        f"{sql_r2('c_acctbal')} + CASE WHEN c_custkey % 5 = 0 THEN g ELSE 0 END"
    )
    ts_case = " ".join(
        f"WHEN {g} THEN '{ts}'" for g, ts in _SCD2_TS.items()
    )
    return f"""
    WITH gens AS MATERIALIZED (
      SELECT g, c_custkey, {bal} AS bal
      FROM customer, (VALUES (1), (2), (3)) AS G(g)
      WHERE (c_custkey + g) % 7 <> 0
    ), w AS (
      SELECT *,
             lag(g) OVER (PARTITION BY c_custkey ORDER BY g) AS prev_g,
             lag(bal) OVER (PARTITION BY c_custkey ORDER BY g) AS prev_bal
      FROM gens
    ), vers AS (
      SELECT *, SUM(CASE WHEN prev_g IS NULL OR prev_g <> g - 1
                              OR prev_bal IS DISTINCT FROM bal
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY c_custkey ORDER BY g) AS ver
      FROM w
    ), spans AS (
      SELECT c_custkey, ver, min(bal) AS bal,
             min(g) AS g_from, max(g) AS g_to
      FROM vers GROUP BY 1, 2
    )
    SELECT c_custkey, bal,
           CASE g_from {ts_case} END AS valid_from,
           CASE WHEN g_to = 3 THEN NULL
                ELSE CASE g_to + 1 {ts_case} END END AS valid_to,
           (g_to = 3) AS is_current
    FROM spans
    """


@query("sink_scd2_history", oracle=_scd2_oracle())
def sink_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history through three snapshot generations: customer
    balances where keys ≡ -g (mod 7) are absent from generation g
    (vanish/reappear churn) and keys ≡ 0 (mod 5) change balance every
    generation. Each generation flows through
    pipeline/silver.py:merge_upsert_scd2 — a real parquet
    read-merge-write per load, NOT a batch recomputation — and the
    final table carries every version with its [valid_from, valid_to)
    span and is_current flag.

    The oracle never sees the merge: it segments the same three
    generation frames into maximal constant-value runs (gap-aware —
    a key absent in g2 but back in g3 gets TWO versions) and derives
    each span's timestamps declaratively. Hash-matching it proves the
    incremental merge path equals the declarative history — the same
    doctrine as sink_merge_upsert, extended over time.

    Scale shape: per load, ONE pk-shuffle full-outer join between the
    open rows and the incoming snapshot plus a closed-partition union
    — closed history is never rewritten (each load publishes its
    closed versions as their own ``closed/load_ts=<ts>`` directory)."""
    import shutil as _shutil

    from mercurygate_spark.pipeline.silver import merge_upsert_scd2

    t = load_tables(spark, sf_dir, "customer")
    cust = t["customer"]

    def gen(g: int) -> DataFrame:
        return scd2_generation(cust, g)

    path = _tmp("scd2_history")
    # every publish sibling (open__staging, open__old, closed/*__staging)
    # lives under path, so one delete clears a crashed earlier run
    _shutil.rmtree(path, ignore_errors=True)
    hist = None
    for g in sorted(_SCD2_TS):
        hist = merge_upsert_scd2(
            spark, gen(g), ["c_custkey"], ["bal"], path, _SCD2_TS[g]
        )
    return hist.select("c_custkey", "bal", "valid_from", "valid_to", "is_current")
