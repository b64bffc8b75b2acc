"""Streaming queries (SURVEY.md §2c "Streaming") — each runs a real
Structured Streaming job (readStream → window agg → availableNow →
memory sink) whose result is checked against a batch SQL oracle,
because the streaming ops are defined to have batch-equivalent
semantics on a bounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mercurygate_spark.queries.registry import load_tables, query
from mercurygate_spark.streaming.windows import (
    distinct_pairs_stream,
    interval_join_streams,
    read_events_stream,
    run_to_memory,
    session_windows,
    sliding_counts,
    stateful_user_counts,
    tumbling_counts,
)


@query(
    "stream_tumbling_count",
    oracle="""
    SELECT epoch_us(to_timestamp(floor(epoch(ts) / 600) * 600)) AS window_start_us,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event_type via a real streaming
    run (watermark + window + availableNow). Oracle: epoch-bucket
    arithmetic. sum_value rounded to 2 dp on both sides — streaming
    partial-agg accumulation order differs from the oracle's scan
    order, so raw doubles can differ in the last ulp."""
    from mercurygate_spark.functions import r2

    out = run_to_memory(tumbling_counts(read_events_stream(spark, sf_dir)))
    from pyspark.sql import functions as F

    return out.select(
        "window_start_us", "event_type", "n_events", r2(F.col("sum_value")).alias("sum_value")
    )


@query(
    "stream_sliding_count",
    oracle="""
    WITH slid AS (
      SELECT epoch_us(to_timestamp((floor(epoch(ts) / 300) - k) * 300)) AS window_start_us
      FROM events, (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start_us, count(*) AS n_events
    FROM slid GROUP BY 1
    """,
)
def stream_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min windows sliding every 5: each event belongs to 2 windows.
    Oracle: explicit 2-window expansion via unnest."""
    return run_to_memory(sliding_counts(read_events_stream(spark, sf_dir)))


@query(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM ordered
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via streaming
    session_window. Oracle: classic gaps-and-islands — lag to flag
    session starts, running sum to number them, group to sessions."""
    return run_to_memory(session_windows(read_events_stream(spark, sf_dir)))


@query(
    "stream_stateful_count",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running counters in explicit GroupState. On the bounded
    availableNow input the final state equals the batch aggregate —
    the oracle. sum rounded: the state accumulates in pandas batch
    order, the oracle in scan order."""
    from pyspark.sql import functions as F

    out = run_to_memory(
        stateful_user_counts(read_events_stream(spark, sf_dir)), output_mode="update"
    )
    # update-mode memory sink may hold one row per state update; the
    # final state per user is the max-count row
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = out.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1)
    return final.select(
        "user_id",
        "n_events",
        (F.floor(F.col("sum_value") * 100 + F.lit(0.5)) / 100).alias("sum_value"),
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT a.event_id AS click_id,
           b.event_id AS purchase_id,
           a.user_id,
           epoch_us(a.ts) AS click_ts_us,
           epoch_us(b.ts) AS purchase_ts_us,
           b.value AS purchase_value
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     -- range compared in microseconds: Spark sees ns→µs-truncated
     -- timestamps, so the oracle must compare at the same precision
     AND epoch_us(b.ts) >= epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within
    10 minutes, per user): two event streams joined in append mode
    with watermarks bounding both sides' join state. On the bounded
    availableNow input the emitted set equals the batch theta join —
    the oracle."""
    clicks = read_events_stream(spark, sf_dir).where("event_type = 'click'")
    purchases = read_events_stream(spark, sf_dir).where("event_type = 'purchase'")
    return run_to_memory(
        interval_join_streams(clicks, purchases), output_mode="append"
    )


@query(
    "stream_dedupe_distinct",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedupe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedupe: streaming dropDuplicates on the key columns
    (append mode). The deterministic contract is the distinct key set."""
    return run_to_memory(
        distinct_pairs_stream(read_events_stream(spark, sf_dir)), output_mode="append"
    )


@query(
    "stream_dedupe_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedupe_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedupe with BOUNDED state (SURVEY.md §2c streaming
    extension list names this op): dropDuplicatesWithinWatermark keeps
    a key's dedupe state only while the watermark can still admit a
    duplicate, then evicts it — the 100 TB-correct variant of
    stream_dedupe_distinct, whose plain dropDuplicates state grows
    with the number of distinct keys forever. The DISTINCT oracle is
    exact here because the single-file source drains as ONE microbatch
    and the watermark only advances between microbatches, so no state
    is evicted while duplicates can still arrive; on a multi-batch
    landing directory the op trades exactness past the horizon for
    bounded state — which is its production contract."""
    ev = read_events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


@query(
    "stream_foreachbatch_sink",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink pattern: the stream drains via availableNow
    and every microbatch is appended to a parquet table by custom sink
    code — the canonical shape for sinks streaming can't express
    natively (MERGE, multi-table writes; pipeline/streaming_silver.py
    uses it for SCD merges). The key then reads the LANDED table back
    and aggregates; matching the batch oracle proves exactly-once
    landing of the whole backlog. Fresh checkpoint per run keeps the
    query deterministic."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from mercurygate_spark.functions import r2
    from mercurygate_spark.streaming.windows import read_events_stream

    run = uuid.uuid4().hex[:12]
    base = os.path.join(tempfile.gettempdir(), f"mercurygate_febatch_{os.getpid()}_{run}")
    out_dir, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = spark.read.parquet(out_dir)
    return landed.groupBy("event_type").agg(
        F.count("*").alias("n_events"), r2(F.sum("value")).alias("sum_value")
    )


@query(
    "stream_interval_join_left_outer",
    oracle="""
    WITH mx AS (
      -- the join's global watermark is the MIN over both sides'
      -- watermarks: min(max click_ts, max purchase_ts) - delay
      SELECT least(
        (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'click'),
        (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
      ) AS m
    ),
    clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), matched AS (
      SELECT c.event_id AS click_id,
             p.event_id AS purchase_id,
             c.user_id,
             epoch_us(c.ts) AS click_ts_us,
             epoch_us(p.ts) AS purchase_ts_us,
             p.value AS purchase_value
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND epoch_us(p.ts) >= epoch_us(c.ts)
       AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
    )
    SELECT * FROM matched
    UNION ALL
    SELECT c.event_id AS click_id,
           CAST(NULL AS BIGINT) AS purchase_id,
           c.user_id,
           epoch_us(c.ts) AS click_ts_us,
           CAST(NULL AS BIGINT) AS purchase_ts_us,
           CAST(NULL AS DOUBLE) AS purchase_value
    FROM clicks c, mx
    WHERE NOT EXISTS (
            SELECT 1 FROM purchases p
            WHERE p.user_id = c.user_id
              AND epoch_us(p.ts) >= epoch_us(c.ts)
              AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
          )
      -- the final no-data cleanup trigger flushes outer rows whose
      -- join-window end (click + 10 min) the final watermark
      -- (max event ts − 1 h delay) has passed; later clicks never emit
      AND epoch_us(c.ts) + 600000000 <= mx.m - 3600000000
    """,
)
def stream_interval_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: matched click→purchase
    pairs emit eagerly; unmatched clicks emit null-padded rows only
    when the watermark passes their join window — including Spark's
    final no-data cleanup trigger under availableNow, whose exact
    flush boundary — window_end ≤ global watermark, where the global
    watermark of a stream-stream join is min(max click_ts, max
    purchase_ts) − delay across BOTH sides — the oracle replays
    arithmetically (no event sits on the boundary at any test
    SF — verified, so < vs ≤ cannot flip the result). The semantics
    themselves are pinned batch-by-batch in
    tests/test_streaming_semantics.py."""
    clicks = read_events_stream(spark, sf_dir).where("event_type = 'click'")
    purchases = read_events_stream(spark, sf_dir).where("event_type = 'purchase'")
    return run_to_memory(
        interval_join_streams(clicks, purchases, how="leftOuter"),
        output_mode="append",
    )


@query(
    "stream_interval_join_full_outer",
    oracle="""
    WITH mx AS (
      SELECT least(
        (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'click'),
        (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
      ) AS m
    ), clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ), matched AS (
      SELECT c.event_id AS click_id,
             p.event_id AS purchase_id,
             c.user_id,
             epoch_us(c.ts) AS click_ts_us,
             epoch_us(p.ts) AS purchase_ts_us,
             p.value AS purchase_value
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND epoch_us(p.ts) >= epoch_us(c.ts)
       AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
    )
    SELECT * FROM matched
    UNION ALL
    SELECT c.event_id, CAST(NULL AS BIGINT), c.user_id,
           epoch_us(c.ts), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM clicks c, mx
    WHERE NOT EXISTS (
            SELECT 1 FROM purchases p
            WHERE p.user_id = c.user_id
              AND epoch_us(p.ts) >= epoch_us(c.ts)
              AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
          )
      AND epoch_us(c.ts) + 600000000 <= mx.m - 3600000000
    UNION ALL
    SELECT CAST(NULL AS BIGINT), p.event_id,
           p.user_id,
           CAST(NULL AS BIGINT), epoch_us(p.ts), p.value
    FROM purchases p, mx
    WHERE NOT EXISTS (
            SELECT 1 FROM clicks c
            WHERE c.user_id = p.user_id
              AND epoch_us(p.ts) >= epoch_us(c.ts)
              AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
          )
      -- a right row's last matchable left event time is p_ts itself,
      -- so it flushes once the global watermark passes p_ts
      AND epoch_us(p.ts) <= mx.m - 3600000000
    """,
)
def stream_interval_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both unmatched sides
    emit null-padded rows when the global watermark (min over both
    sides − delay) passes their state-eviction point: click+10min for
    the left side, the purchase's own timestamp for the right (its
    latest matchable click time). Matched pairs emit eagerly. Exact
    oracle (boundary-collision-free at every test SF, verified);
    batch-level mechanics pinned by the left-outer semantics test."""
    clicks = read_events_stream(spark, sf_dir).where("event_type = 'click'")
    purchases = read_events_stream(spark, sf_dir).where("event_type = 'purchase'")
    return run_to_memory(
        interval_join_streams(clicks, purchases, how="fullOuter"),
        output_mode="append",
    )


@query(
    "stream_python_datasource",
    oracle="""
    SELECT i % 5 AS bucket,
           count(*) AS n_ticks,
           round(sum(i * 1.0), 2) AS sum_value
    FROM (SELECT unnest(generate_series(0, 199)) AS i)
    GROUP BY 1
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING source via the Spark 4 Python DataSource API
    (io/python_source.TickStreamSource): offsets, micro-batch reads
    and replay (readBetweenOffsets — exactly-once on restart) all
    authored in Python. The bounded tick feed (200 rows in 4
    micro-batches) drains with processAllAvailable, then the landed
    rows aggregate to the oracle's generate_series replay — so offset
    tracking across batches is what's being value-checked: a skipped
    or doubled batch changes every count."""
    from pyspark.sql import functions as F

    from mercurygate_spark.functions import r2
    from mercurygate_spark.io.python_source import register_tick_stream_source

    register_tick_stream_source(spark)
    name = f"ticks_out_{abs(hash(sf_dir)) % 10**8}"
    q = (
        spark.readStream.format("ticks")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_ticks"),
            r2(F.sum("value")).alias("sum_value"),
        )
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           e.event_type,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to a
    BATCH dimension (customer) — the canonical streaming-ETL shape
    (click enrichment, device lookup, feature join). The static side
    needs no watermark and holds no join state: each micro-batch
    plans a fresh batch join against it (so a dimension UPDATE is
    picked up at the next batch — slowly-changing enrichment for
    free), and Spark broadcasts it exactly as in the batch plan. On
    the bounded availableNow input the enriched aggregate equals the
    batch join — the oracle. sum rounded: micro-batch accumulation
    order differs from scan order."""
    from pyspark.sql import functions as F

    from mercurygate_spark.functions import r2

    events = read_events_stream(spark, sf_dir)
    customers = load_tables(spark, sf_dir, "customer")["customer"].select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = events.join(
        customers, events["user_id"] == customers["c_custkey"]
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "c_mktsegment",
        "event_type",
        "n_events",
        r2(F.col("sum_value")).alias("sum_value"),
    )


from mercurygate_spark.operators.ohlc import OHLC_ORACLE_SQL as _OHLC_ORACLE


@query("stream_ohlc_bars", oracle=_OHLC_ORACLE)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ts_ohlc_bars' streaming twin: identical bars computed
    incrementally from the event stream (tumbling event-time windows,
    min_by/max_by mergeable state — the property that makes OHLC
    streamable at all). One operator definition, two execution modes,
    one oracle: the strongest form of batch/stream parity the engine
    claims."""
    from mercurygate_spark.streaming.windows import ohlc_bars_stream

    return run_to_memory(
        ohlc_bars_stream(read_events_stream(spark, sf_dir)), output_mode="complete"
    )


def _quality_gate_oracle() -> str:
    from mercurygate_spark.queries.text import _DUCK_GOPHER_PASS_CTES

    return f"""
    WITH {_DUCK_GOPHER_PASS_CTES}
    SELECT g.lang, (p.doc_id IS NOT NULL) AS gopher_pass,
           count(*) AS n_docs
    FROM grules g LEFT JOIN gpass p USING (doc_id)
    GROUP BY 1, 2
    """


@query("stream_quality_gate", oracle=_quality_gate_oracle())
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus quality gate as a CONTINUOUS ingest job: documents
    arrive as a file stream (the crawl landing directory), each batch
    flows through the same stateless Gopher rule projection the batch
    key pins (queries.text.gopher_frame — zero per-record state, so
    the operator needs no watermark and scales as a pure map), and the
    running per-(lang, verdict) admission counts aggregate in complete
    mode. Oracle: the batch replay of the identical rule chain —
    bounded-input batch/stream equivalence, like every streaming key
    here.

    Scale shape: the only stateful operator is the final 10-row
    (lang × verdict) count — constant state regardless of corpus rate;
    everything upstream is stateless codegen over Arrow file batches."""
    from pyspark.sql import functions as F

    from mercurygate_spark.queries.text import gopher_frame
    from mercurygate_spark.streaming.windows import (
        read_documents_stream,
        run_to_memory,
    )

    docs = read_documents_stream(spark, sf_dir)
    gated = gopher_frame(docs).groupBy("lang", "gopher_pass").agg(
        F.count("*").alias("n_docs")
    )
    return run_to_memory(gated)


# ---------------------------------------------------------------------------
# Streaming filter funnel (VERDICT r11 next #6): pipeline_filter_funnel's
# stage-1/2 gates (Gopher rules + repetition battery) as a CONTINUOUS
# ingest job. The rules are per-document, so batch boundaries can't
# change any verdict; the only cross-batch state is the 3-row
# attrition accumulator (count + order-independent XOR signature per
# stage — both associative/commutative, so micro-batch merge order is
# irrelevant). Oracle: the batch replay over the union of all
# micro-batches — the funnel key's own stage-0..2 prefix.
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = ["raw", "gopher_rules", "gopher_repetition"]
_LAST_FUNNEL_BATCHES = 0  # test evidence: how many micro-batches last run saw


def _stream_funnel_oracle() -> str:
    from mercurygate_spark.queries.text import (
        _DUCK_GOPHER_PASS_CTES,
        _duck_repetition_ctes,
    )

    sig = (
        "coalesce(bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
        "::BIGINT), 0)"
    )
    return f"""
    WITH {_DUCK_GOPHER_PASS_CTES},
    rsrc AS (
      SELECT d.doc_id, d.text FROM documents d JOIN gpass USING (doc_id)
    ),
    {_duck_repetition_ctes("rsrc", "r_")},
    rpass AS (SELECT doc_id FROM r_sum WHERE repetition_pass)
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs, {sig} AS sig
      FROM documents
      UNION ALL
      SELECT 1, 'gopher_rules', count(*), {sig} FROM gpass
      UNION ALL
      SELECT 2, 'gopher_repetition', count(*), {sig} FROM rpass
    ) ORDER BY stage_idx
    """


@query("stream_filter_funnel", oracle=_stream_funnel_oracle())
def stream_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus admission: documents land as a file stream
    (split into 4 part files, maxFilesPerTrigger=1 — a real multi-
    micro-batch run, not a single-batch formality) and each micro-
    batch flows through the SAME stage-1/2 gate frames the batch
    funnel pins (gopher_frame, repetition_frame — the repetition
    battery needs per-doc grouping, which foreachBatch provides as
    plain batch ops on each arriving slice). Per batch, exactly ≤3
    stage rows (count + XOR content signature) leave the executors;
    the driver merges them into a constant-size accumulator
    (n += n, sig ^= sig — both merges associative+commutative, so
    arrival order can't change the result).

    Scale shape: per-batch work is the batch funnel's stage-1/2 shape
    (scan-only Gopher projection, per-doc repetition aggregation —
    partitioned by doc, never global); cross-batch state is 3 longs +
    3 counters REGARDLESS of stream length. That's the FineWeb-style
    admission monitor a crawl pipeline runs: verdicts stream out,
    the attrition table stays O(1)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mercurygate_spark.functions import md5_long
    from mercurygate_spark.queries.text import gopher_frame, repetition_frame

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    base = os.path.join(
        tempfile.gettempdir(),
        f"mercurygate_stream_funnel_{os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    src_dir, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    docs.repartition(4).write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )

    acc = {i: [0, 0] for i in range(len(_FUNNEL_STAGES))}  # idx -> [n, sig]
    n_batches = [0]

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        n_batches[0] += 1
        d = batch_df
        s1 = gopher_frame(d).where(F.col("gopher_pass")).select("doc_id")
        s2 = (
            repetition_frame(d.join(s1, "doc_id"))
            .where(F.col("repetition_pass"))
            .select("doc_id")
        )
        staged = (
            d.select("doc_id").withColumn("stage_idx", F.lit(0))
            .unionByName(s1.withColumn("stage_idx", F.lit(1)))
            .unionByName(s2.withColumn("stage_idx", F.lit(2)))
        )
        rows = (
            staged.withColumn("h", md5_long(F.col("doc_id").cast("string")))
            .groupBy("stage_idx")
            .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("sig"))
            .collect()  # bounded by construction: ≤3 rows/batch
        )
        for r in rows:
            acc[r["stage_idx"]][0] += r["n"]
            acc[r["stage_idx"]][1] ^= r["sig"]

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    global _LAST_FUNNEL_BATCHES
    _LAST_FUNNEL_BATCHES = n_batches[0]
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [
            (i, _FUNNEL_STAGES[i], acc[i][0], acc[i][1])
            for i in range(len(_FUNNEL_STAGES))
        ],
        schema="stage_idx int, stage string, n_docs long, sig long",
    )


# ---------------------------------------------------------------------------
# Streamed SCD2 (round 12 frontier, composing the round's two new
# pieces): the CDC-to-warehouse shape — snapshot generations ARRIVE as
# a file stream (Debezium/ingest landing dir) and each micro-batch
# merges into the type-2 history table via merge_upsert_scd2. Oracle:
# sink_scd2_history's declarative gap-aware segmentation — the batch
# and streaming paths must produce the IDENTICAL history (the
# stream_ohlc_bars one-operator-two-modes doctrine applied to the
# merge sink).
# ---------------------------------------------------------------------------


def _stream_scd2_oracle() -> str:
    from mercurygate_spark.queries.scans import _scd2_oracle

    return _scd2_oracle()


# test knob: explicit arrival permutation for the SCD2 generations
# (None = schedule order); tests/test_streaming_scd2_ordering.py sets
# it to a reversed/shuffled order to pin arrival-order independence
_SCD2_ARRIVAL_ORDER: list | None = None


@query("stream_scd2_upsert", oracle=_stream_scd2_oracle())
def stream_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous SCD2 ingest: the three snapshot generations land as
    separate files (one per generation, mtime-ordered,
    maxFilesPerTrigger=1 → one micro-batch each) carrying a `g`
    column; foreachBatch STAGES each arriving generation to its own
    parquet dir (a distributed write — no rows cross the driver) and
    then drains merges in EXPLICIT ascending-g schedule order: a
    generation merges only once every earlier generation in the known
    schedule has arrived and merged (ADVICE r12 — cross-batch
    ordering must not hang off file mtimes, which a source may list
    tied or at truncated granularity; mtime here only shapes the
    micro-batching, never correctness). Out-of-order or coalesced
    arrival therefore produces the identical history, pinned by
    tests/test_streaming_scd2_ordering.py. The returned history must
    hash-match the same declarative oracle as sink_scd2_history:
    streaming arrival cannot change the history a snapshot schedule
    produces.

    Scale shape: per batch, the SCD2 merge's pinned shape (one
    pk-shuffle full-outer against the open rows, closed partition
    untouched); stream state is the checkpoint's file log only —
    the merge state lives in the table, as it must for a restartable
    ingest job."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from mercurygate_spark.pipeline.silver import merge_upsert_scd2
    from mercurygate_spark.queries.scans import _SCD2_TS, scd2_generation

    cust = load_tables(spark, sf_dir, "customer")["customer"]
    base = os.path.join(
        tempfile.gettempdir(),
        f"mercurygate_stream_scd2_{os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    src_dir, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    table = os.path.join(base, "history")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src_dir)
    now = time.time()
    # arrival permutation: schedule order by default; tests override
    # the module knob to pin that OUT-OF-ORDER arrival yields the
    # identical history (ordering is drained explicitly below, never
    # inferred from mtime)
    arrival = _SCD2_ARRIVAL_ORDER or sorted(_SCD2_TS)
    for pos, g in enumerate(arrival):
        gen_dir = os.path.join(base, f"gen{g}")
        scd2_generation(cust, g).withColumn("g", F.lit(g)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(gen_dir)
        part = next(
            p for p in sorted(os.listdir(gen_dir)) if p.endswith(".parquet")
        )
        dst = os.path.join(src_dir, f"gen{g}.parquet")
        shutil.copy(os.path.join(gen_dir, part), dst)
        # mtime shapes micro-batching only (arrival realism); merge
        # order is drained from the explicit schedule regardless
        os.utime(dst, (now + pos, now + pos))
        shutil.rmtree(gen_dir, ignore_errors=True)

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )

    schedule = sorted(_SCD2_TS)  # the known snapshot schedule, ascending
    staged: set = set()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        arrived = sorted(
            r["g"] for r in batch_df.select("g").distinct().collect()
        )  # bounded: ≤3 generation tags
        for g in arrived:
            batch_df.where(F.col("g") == g).select(
                "c_custkey", "bal"
            ).write.mode("overwrite").parquet(
                os.path.join(base, f"staged_g{g}")
            )
            staged.add(g)
        # drain: merge every schedule-prefix generation that has arrived
        while schedule and schedule[0] in staged:
            g = schedule.pop(0)
            inc = spark.read.parquet(os.path.join(base, f"staged_g{g}"))
            merge_upsert_scd2(
                spark, inc, ["c_custkey"], ["bal"], table, _SCD2_TS[g]
            )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if schedule:
        # correctness-critical drain invariant: bare assert would be
        # stripped under python -O and silently return partial history
        raise RuntimeError(f"generations never arrived: {schedule}")
    from mercurygate_spark.pipeline.silver import read_scd2_history

    hist = read_scd2_history(spark, table).select(
        "c_custkey", "bal", "valid_from", "valid_to", "is_current"
    )
    out = hist.localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Streaming decontamination gate (round 12 frontier): the
# dedup_decontaminate rule as a continuous-ingest admission check —
# the shape a crawl pipeline actually needs, since benchmark overlap
# must be enforced on every arriving shard, not in a one-shot batch.
# The eval gram set is a STATIC frame (benchmark suites are fixed and
# tiny) joined into every micro-batch; cross-batch state is one
# (count, count, xor) triple.
# ---------------------------------------------------------------------------


def _stream_decon_oracle() -> str:
    from mercurygate_spark.queries.text import DECON_K, DECON_MOD, _DUCK_TK

    sig = (
        "coalesce(bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
        "::BIGINT), 0)"
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, {_DUCK_TK} AS tk, len({_DUCK_TK}) AS n,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % {DECON_MOD} = 0) AS is_eval
      FROM documents
    ), g AS (
      SELECT doc_id, is_eval,
             md5(array_to_string(list_slice(tk, pos + 1, pos + {DECON_K}), ' ')) AS h
      FROM (
        SELECT doc_id, is_eval, tk, unnest(range(0, n - {DECON_K} + 1)) AS pos
        FROM tk WHERE n >= {DECON_K}
      )
    ), eh AS (
      SELECT DISTINCT h FROM g WHERE is_eval
    ), tr AS (
      SELECT g.doc_id, count(eh.h) > 0 AS contaminated
      FROM g LEFT JOIN eh ON g.h = eh.h
      WHERE NOT g.is_eval GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(count_if(contaminated) AS BIGINT) AS n_contaminated,
           (SELECT {sig} FROM tr WHERE contaminated) AS contam_sig
    FROM tr
    """


@query("stream_decontaminate", oracle=_stream_decon_oracle())
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-overlap decontamination as a continuous admission gate:
    the eval slice's DISTINCT gram hashes are computed once batch-side
    (the benchmark suite — static and tiny) and broadcast into every
    arriving micro-batch (4 part files, maxFilesPerTrigger=1); each
    batch's train docs gram-hash and LEFT-join the set exactly as the
    batch key pins, and the only cross-batch state is
    (docs seen, docs flagged, XOR signature of flagged ids) — three
    scalars, associative+commutative merges, constant regardless of
    stream length. Oracle: the batch replay over the union of
    micro-batches (per-doc verdicts can't see batch boundaries).

    Scale shape per batch: map-side gram hashing (48-byte hashes,
    never text), a broadcast membership join, one ≤2-row reduce to
    the driver."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mercurygate_spark.functions import md5_long, tokens
    from mercurygate_spark.queries.text import DECON_K, DECON_MOD

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    base = os.path.join(
        tempfile.gettempdir(),
        f"mercurygate_stream_decon_{os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    src_dir, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    docs.repartition(4).write.mode("overwrite").parquet(src_dir)

    def gram_frame(d: DataFrame, eval_side: bool) -> DataFrame:
        # the eval/train split happens BEFORE the gram explode (it only
        # needs doc_id), so the eval-set build hashes grams for the 3%
        # slice instead of exploding the whole corpus and filtering after
        base_f = (
            d.select("doc_id", tokens("text").alias("tk"))
            .withColumn("n", F.size("tk"))
            .where(F.col("n") >= DECON_K)
            .withColumn(
                "is_eval",
                md5_long(F.col("doc_id").cast("string")) % DECON_MOD == 0,
            )
            .where(F.col("is_eval") if eval_side else ~F.col("is_eval"))
        )
        return base_f.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - DECON_K),
                    lambda i: F.md5(F.array_join(F.slice("tk", i + 1, DECON_K), " ")),
                )
            ).alias("h"),
        )

    eh = (
        gram_frame(docs, eval_side=True)
        .select("h")
        .distinct()
        .withColumn("__hit", F.lit(1))
        .localCheckpoint(eager=True)  # the static benchmark gram set
    )

    acc = {"n": 0, "bad": 0, "sig": 0}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        g = gram_frame(batch_df, eval_side=False)
        per = (
            g.join(F.broadcast(eh), "h", "left")
            .groupBy("doc_id")
            .agg((F.count("__hit") > 0).alias("contaminated"))
            .withColumn("hh", md5_long(F.col("doc_id").cast("string")))
            .groupBy("contaminated")
            .agg(F.count("*").alias("n"), F.expr("bit_xor(hh)").alias("sig"))
            .collect()  # bounded by construction: ≤2 rows/batch
        )
        for r in per:
            acc["n"] += r["n"]
            if r["contaminated"]:
                acc["bad"] += r["n"]
                acc["sig"] ^= r["sig"]

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [(acc["n"], acc["bad"], acc["sig"])],
        schema="n_train_docs long, n_contaminated long, contam_sig long",
    )


# ---------------------------------------------------------------------------
# Streaming quality-classifier admission gate (round 13): the
# pipeline_quality_classifier model applied the way production serves
# it — TRAIN + CALIBRATE offline (weights and the tie-inclusive score
# threshold are batch artifacts), then score every ARRIVING document
# with the weights as literals and flag admission per micro-batch. No
# cross-batch state at all: the gate is a pure per-doc map, which is
# exactly why it can front the funnel's global stages at any arrival
# rate. Oracle: the same training + scoring + threshold chain replayed
# over the whole corpus — streaming arrival cannot change a per-doc
# decision made with fixed (w, s*).
# ---------------------------------------------------------------------------


def _stream_qc_oracle() -> str:
    from mercurygate_spark.queries.corpus import qc_gate_oracle

    return qc_gate_oracle()


@query("stream_classifier_gate", oracle=_stream_qc_oracle())
def stream_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous quality gating: documents land as a 3-file stream
    (maxFilesPerTrigger=1 → 3 micro-batches); each batch computes the
    hashed+structural feature vector and applies the OFFLINE-trained
    classifier (literal weights — broadcast-free inference) plus the
    offline-calibrated threshold s* (qc_score_threshold over the
    training population — a stream cannot rank globally, so the cut is
    a fixed artifact, the production calibration pattern). Emits
    (doc_id, score, kept) per arriving doc; the union across batches
    must hash-match the batch oracle exactly.

    Scale shape: per batch one Arrow-free codegen pass — explode →
    hash → per-doc aggregate → literal-weight projection; zero
    streaming state (no watermark, no store) because the decision is
    per-doc; training cost is paid once, offline, never per batch."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from mercurygate_spark.queries.corpus import (
        _qc_feature_frame,
        qc_score_threshold,
        qc_trained_scorer,
    )

    d_full = load_tables(spark, sf_dir, "documents")["documents"]
    d = d_full.select("doc_id", "text")  # the arriving payload columns
    # offline: train (labels need lang for the gopher frame) + calibrate
    _, score_col = qc_trained_scorer(d_full)
    # checkpoint: the bracketing threshold derivation issues several
    # bounded jobs over this frame; don't re-derive the feature
    # explode per job
    scored_all = _qc_feature_frame(d).select(
        "doc_id", score_col()
    ).localCheckpoint(eager=True)
    s_star = qc_score_threshold(scored_all)

    base = os.path.join(
        tempfile.gettempdir(),
        f"mercurygate_stream_clf_{os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    src_dir, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src_dir)
    # land the corpus as 3 part files (arrival shards)
    stage = os.path.join(base, "stage")
    d.repartition(3).write.mode("overwrite").parquet(stage)
    now = time.time()
    parts = sorted(p for p in os.listdir(stage) if p.endswith(".parquet"))
    for i, p in enumerate(parts):
        dst = os.path.join(src_dir, f"shard{i}.parquet")
        shutil.copy(os.path.join(stage, p), dst)
        os.utime(dst, (now + i, now + i))
    shutil.rmtree(stage, ignore_errors=True)

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        feats = _qc_feature_frame(batch_df)
        gated = feats.select("doc_id", score_col()).select(
            "doc_id",
            "score",
            (
                F.when(F.col("score") >= F.lit(s_star), 1).otherwise(0)
                if s_star is not None
                else F.lit(0)
            ).alias("kept"),
        )
        gated.write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Drift-recalibrating classifier gate (VERDICT r13 next #5):
# stream_classifier_gate's s* is calibrated once, offline, forever —
# production gates recalibrate on a cadence. This key composes the
# gate with qc_score_threshold on a drift trigger: each arriving shard
# is admitted with the threshold IN FORCE on arrival; if the shard's
# observed keep rate drifts more than QC_DRIFT_PCT points from the
# calibration target, s* is re-derived from that shard's score
# distribution and applies to every LATER shard (decisions are never
# retro-gated). Arrival shards are a deterministic function of the
# data (char-length bands — length is a classifier feature, so band
# keep rates genuinely drift), and cross-shard ORDER is drained from
# an explicit ascending schedule (the stream_scd2_upsert doctrine) —
# so the oracle can replay the whole recalibration schedule.
# ---------------------------------------------------------------------------

QC_DRIFT_PCT = 15    # |keep% − 50%| > 15 points fires recalibration
QC_RECAL_BAND = 200  # arrival shard = least(2, char_len // BAND)


def drift_fires(kept: int, n: int) -> bool:
    """The exact integer drift rule shared by the Spark drain and the
    oracle CTEs: |100·kept − 50·n| > QC_DRIFT_PCT·n (no float keep-rate
    comparison, so the two engines can never disagree at the bound).
    n=0 (an empty band) never fires."""
    return abs(100 * kept - 50 * n) > QC_DRIFT_PCT * n


def _stream_qc_recal_oracle() -> str:
    from mercurygate_spark.queries.corpus import QC_KEEP, qc_gate_chain_ctes

    parts = [
        f"""bsh AS MATERIALIZED (
      SELECT q.doc_id, q.score,
             CAST(least(2, length(d.text) // {QC_RECAL_BAND}) AS INT) AS batch_id
      FROM qscored q JOIN documents d USING (doc_id)
    ),
    thr0 AS MATERIALIZED (SELECT s_star AS s FROM qthr)"""
    ]
    for b in range(3):
        # integer drift test: |100·kept − 50·n| > {QC_DRIFT_PCT}·n —
        # exact on both engines (no float keep-rate comparison)
        parts.append(f"""st{b} AS MATERIALIZED (
      SELECT count(*) AS n,
             coalesce(sum(CASE WHEN score >= (SELECT s FROM thr{b})
                               THEN 1 ELSE 0 END), 0) AS k
      FROM bsh WHERE batch_id = {b}
    ),
    f{b} AS MATERIALIZED (
      SELECT abs(100 * k - 50 * n) > {QC_DRIFT_PCT} * n AS fire FROM st{b}
    ),
    rt{b}_d AS MATERIALIZED (
      SELECT score, count(*) AS cnt FROM bsh WHERE batch_id = {b} GROUP BY score
    ),
    rt{b} AS MATERIALIZED (
      SELECT score AS s FROM (
        SELECT score, sum(cnt) OVER (
                 ORDER BY score DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM rt{b}_d)
      WHERE cum >= greatest(1, CAST(floor((SELECT n FROM st{b}) * {QC_KEEP}) AS BIGINT))
      ORDER BY score DESC LIMIT 1
    ),
    thr{b + 1} AS MATERIALIZED (
      SELECT CASE WHEN (SELECT fire FROM f{b}) THEN (SELECT s FROM rt{b})
                  ELSE (SELECT s FROM thr{b}) END AS s
    )""")
    thr_case = (
        "CASE b.batch_id WHEN 0 THEN (SELECT s FROM thr0) "
        "WHEN 1 THEN (SELECT s FROM thr1) ELSE (SELECT s FROM thr2) END"
    )
    fire_case = (
        "CASE b.batch_id WHEN 0 THEN (SELECT fire FROM f0) "
        "WHEN 1 THEN (SELECT fire FROM f1) ELSE (SELECT fire FROM f2) END"
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {qc_gate_chain_ctes()},
    {body}
    SELECT b.doc_id, b.score, b.batch_id,
           {thr_case} AS thr,
           CASE WHEN b.score >= {thr_case} THEN 1 ELSE 0 END AS kept,
           {fire_case} AS recal_fired
    FROM bsh b
    """


@query("stream_classifier_gate_recal", oracle=_stream_qc_recal_oracle())
def stream_classifier_gate_recal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous quality gating WITH drift recalibration: documents
    arrive as 3 char-length-band shards (length is a classifier
    feature, so band keep rates genuinely drift from the offline
    calibration); each drained shard is gated with the threshold in
    force on arrival, its keep rate is tested against the calibration
    target by the exact integer rule |100·kept − 50·n| >
    {QC_DRIFT_PCT}·n, and a firing shard re-derives s* from its own
    score distribution (qc_score_threshold — the same tie-inclusive
    cut as offline calibration) for every later shard. Emits
    (doc_id, score, batch_id, thr, kept, recal_fired) per arriving
    doc; thr is the threshold each doc was actually gated with.

    Cross-shard order is drained from the explicit ascending band
    schedule (stage + drain, the stream_scd2_upsert doctrine) — mtime
    only shapes micro-batching, never correctness — so the oracle
    replays the full recalibration schedule deterministically
    (unrolled per-band threshold CTEs).

    Scale shape: per shard, the gate's zero-state codegen scoring pass
    plus TWO bounded driver scalars (n, kept) for the drift test and
    the bracketed threshold derivation when it fires; no watermark, no
    store — the recalibration state is one double."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from mercurygate_spark.queries.corpus import (
        _qc_feature_frame,
        qc_score_threshold,
        qc_trained_scorer,
    )

    d_full = load_tables(spark, sf_dir, "documents")["documents"]
    d = d_full.select("doc_id", "text")
    # offline: train + calibrate on the training population
    _, score_col = qc_trained_scorer(d_full)
    scored_all = _qc_feature_frame(d).select(
        "doc_id", score_col()
    ).localCheckpoint(eager=True)
    thr0 = qc_score_threshold(scored_all)

    base = os.path.join(
        tempfile.gettempdir(),
        f"mercurygate_stream_recal_{os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    src_dir, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src_dir)
    shard_expr = F.expr(f"least(2, length(text) div {QC_RECAL_BAND})").cast("int")
    now = time.time()
    schedule: list[int] = []
    for i in range(3):
        shard_dir = os.path.join(base, f"stage{i}")
        sdf = d.where(shard_expr == i).withColumn("shard", F.lit(i))
        sdf.coalesce(1).write.mode("overwrite").parquet(shard_dir)
        parts = [p for p in sorted(os.listdir(shard_dir)) if p.endswith(".parquet")]
        if parts and spark.read.parquet(shard_dir).limit(1).count() > 0:
            dst = os.path.join(src_dir, f"shard{i}.parquet")
            shutil.copy(os.path.join(shard_dir, parts[0]), dst)
            os.utime(dst, (now + i, now + i))
            schedule.append(i)
        # an empty band never arrives; the oracle's per-band CTEs pass
        # the threshold through unchanged for it (n=0 → fire false)
        shutil.rmtree(shard_dir, ignore_errors=True)

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
    )

    staged: set = set()
    state = {"thr": thr0}

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        arrived = sorted(
            r["shard"] for r in batch_df.select("shard").distinct().collect()
        )  # bounded: ≤3 band tags
        for s in arrived:
            batch_df.where(F.col("shard") == s).select("doc_id", "text").write.mode(
                "overwrite"
            ).parquet(os.path.join(base, f"staged_s{s}"))
            staged.add(s)
        while schedule and schedule[0] in staged:
            s = schedule.pop(0)
            docs = spark.read.parquet(os.path.join(base, f"staged_s{s}"))
            scored = _qc_feature_frame(docs).select(
                "doc_id", score_col()
            ).localCheckpoint(eager=True)
            cur = state["thr"]
            n = scored.count()
            k = (
                scored.where(F.col("score") >= F.lit(cur)).count()
                if cur is not None
                else 0
            )
            fire = drift_fires(k, n)
            scored.select(
                "doc_id",
                "score",
                F.lit(s).cast("int").alias("batch_id"),
                F.lit(cur).cast("double").alias("thr"),
                (
                    F.when(F.col("score") >= F.lit(cur), 1).otherwise(0)
                    if cur is not None
                    else F.lit(0)
                ).alias("kept"),
                F.lit(fire).alias("recal_fired"),
            ).write.mode("append").parquet(out_dir)
            if fire:
                state["thr"] = qc_score_threshold(scored)

    q = (
        stream.writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if schedule:
        # correctness-critical drain invariant: bare assert would be
        # stripped under python -O and silently return partial results
        raise RuntimeError(f"arrival shards never drained: {schedule}")
    out = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return out
