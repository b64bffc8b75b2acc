"""End-to-end medallion lifecycle under the oracle gate.

The reference's ACTUAL use case (SURVEY.md §3: EP1 source→bronze,
EP2 bronze→silver, promised Gold — mm_source_to_bronze.py +
mm_bronze_silver.py:204-271) composed into ONE driver-hashable key:
CSV extract → bronze ingest (audit columns, year_month partition,
zero-row guard) → silver conform (rename/typing/active flag) →
incremental merge-upsert with SCD soft delete across TWO extract
generations → gold monthly KPIs. Each run is one
``pipeline.run.refresh_table`` call — the same bronze → silver step the
catalog loop ``pipeline.run.refresh`` uses. Each stage is individually
pytest-pinned (tests/test_pipeline.py, test_gold_claims.py); this key
puts the whole chain under the driver's value-hash gate.

The claim feed is derived DETERMINISTICALLY from the orders table so
the DuckDB oracle can replay the entire lifecycle from the same
parquet: snapshot 1 is every order as an open claim; snapshot 2 (the
refresh extract) drops every 13th claim (vanished upstream → SCD flip
to active='N') and closes every 7th (status→'F', amount bump,
close date) — the reference's first-load-vs-refresh routing
(mm_source_to_bronze.py:156-167) exercised end to end.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mercurygate_spark.queries.registry import load_tables, query

RUN1_TS = datetime(2026, 1, 15, 8, 0, 0)
RUN2_TS = datetime(2026, 2, 1, 8, 0, 0)

_MEDALLION_ORACLE = """
    WITH snap1 AS (
      SELECT 'CLM-' || CAST(o_orderkey AS VARCHAR) AS claim_number,
             o_orderstatus AS status_code,
             floor(o_totalprice) + 0.25 AS total_amount,
             floor(o_totalprice) * 0.25 AS payment_amount,
             CAST(o_orderdate AS TIMESTAMP) AS date_created,
             CASE WHEN o_orderstatus = 'F'
                  THEN CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP)
             END AS date_closed
      FROM orders
    ), snap2 AS (
      SELECT 'CLM-' || CAST(o_orderkey AS VARCHAR) AS claim_number,
             CASE WHEN o_orderkey % 7 = 0 THEN 'F'
                  ELSE o_orderstatus END AS status_code,
             floor(o_totalprice) + 0.25
               + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END
               AS total_amount,
             (floor(o_totalprice)
               + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END) * 0.25
               AS payment_amount,
             CAST(o_orderdate AS TIMESTAMP) AS date_created,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(o_orderdate + INTERVAL 60 DAY AS TIMESTAMP)
                  WHEN o_orderstatus = 'F'
                  THEN CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP)
             END AS date_closed
      FROM orders WHERE o_orderkey % 13 <> 0
    ), merged AS (
      -- refresh rows win (they carry the later audit updated_on);
      -- claims absent from the refresh survive with active='N'
      SELECT s1.claim_number,
             CASE WHEN s2.claim_number IS NOT NULL
                  THEN s2.status_code ELSE s1.status_code END AS status_code,
             CASE WHEN s2.claim_number IS NOT NULL
                  THEN s2.total_amount ELSE s1.total_amount END AS total_amount,
             CASE WHEN s2.claim_number IS NOT NULL
                  THEN s2.payment_amount ELSE s1.payment_amount END AS payment_amount,
             s1.date_created AS date_created,
             CASE WHEN s2.claim_number IS NOT NULL
                  THEN s2.date_closed ELSE s1.date_closed END AS date_closed,
             CASE WHEN s2.claim_number IS NULL THEN 'N' ELSE 'Y' END AS active
      FROM snap1 s1 LEFT JOIN snap2 s2 ON s1.claim_number = s2.claim_number
    )
    SELECT strftime(date_trunc('month', date_created), '%Y-%m') AS year_month,
           count(*) AS n_claims,
           round(sum(total_amount), 2) AS claimed,
           round(sum(payment_amount), 2) AS paid,
           count(date_closed) AS n_closed,
           round(avg(date_diff('day', date_created, date_closed)), 2)
             AS avg_days_to_close,
           CAST(sum(CASE WHEN active = 'Y' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active
    FROM merged GROUP BY 1
    """


def _feed_snapshots(orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two raw extract generations, in RAW (pre-conform) column
    names exactly as the source system would export them."""
    fmt = "yyyy-MM-dd HH:mm:ss"
    closed_30 = F.when(
        F.col("o_orderstatus") == "F",
        F.date_format(F.date_add("o_orderdate", 30), fmt),
    )
    # floor(price) and 0.25 multiples are binary-exact doubles: every
    # downstream sum is exact in ANY accumulation order, so the gold
    # money totals hash identically across engines (a half-cent feed
    # would sit exactly on the r2 rounding boundary instead)
    base = F.floor("o_totalprice").cast("double")
    snap1 = orders.select(
        F.concat(F.lit("CLM-"), F.col("o_orderkey").cast("string")).alias(
            "claimnumber"
        ),
        F.col("o_orderstatus").alias("statuscode"),
        (base + 0.25).alias("totalamount"),
        (base * 0.25).alias("paymentamount"),
        F.date_format("o_orderdate", fmt).alias("datecreated"),
        closed_30.alias("dateclosed"),
    )
    bump = F.when(F.col("o_orderkey") % 7 == 0, F.lit(100.0)).otherwise(F.lit(0.0))
    snap2 = orders.where(F.col("o_orderkey") % 13 != 0).select(
        F.concat(F.lit("CLM-"), F.col("o_orderkey").cast("string")).alias(
            "claimnumber"
        ),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("F"))
        .otherwise(F.col("o_orderstatus"))
        .alias("statuscode"),
        (base + 0.25 + bump).alias("totalamount"),
        ((base + bump) * 0.25).alias("paymentamount"),
        F.date_format("o_orderdate", fmt).alias("datecreated"),
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.date_format(F.date_add("o_orderdate", 60), fmt),
        )
        .otherwise(closed_30)
        .alias("dateclosed"),
    )
    return snap1, snap2


@query("pipeline_medallion_e2e", oracle=_MEDALLION_ORACLE)
def pipeline_medallion_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full medallion lifecycle, hashed end to end:

    run 1 (first load): extract CSV → bronze ``datePart=Historic``
    (ingest_table: header+infer read, audit columns, year_month
    hive partition) → silver first publish (conform + dedupe-latest);
    run 2 (refresh): second extract → bronze ``datePart=2026-02-01``
    → silver merge-upsert (refresh rows win on the audit updated_on,
    claims missing from the refresh flip to active='N'). Both runs are
    ``refresh_table`` calls, which read ONLY the datePart just written
    (the incremental read a 100 TB refresh depends on: no listing of
    older dateParts); gold: monthly claim KPIs + active-claim count
    per intake month.

    Scale posture: every stage is the already-proven operator (bronze
    single-scan ingest, one-projection conform, single-shuffle
    pk-latest merge, partial-agg gold); composing them adds no new
    shuffle beyond the merge's pk shuffle and the gold groupBy."""
    import shutil
    import tempfile as _tf

    from mercurygate_spark.catalog import TABLES
    from mercurygate_spark.functions import month_bucket
    from mercurygate_spark.pipeline.run import refresh_table
    from mercurygate_spark.queries.gold_claims import monthly_claim_kpis

    t = load_tables(spark, sf_dir, "orders")
    snap1, snap2 = _feed_snapshots(t["orders"])

    root = _tf.mkdtemp(prefix="mg_medallion_")
    try:
        spec = TABLES["claim"]
        bronze_base, silver_base = f"{root}/bronze", f"{root}/silver"

        # run 2's refresh EXTRACT is independent of the whole run-1
        # chain (distinct output dir, derived only from the source
        # frame): write it concurrently so the extract pass back-fills
        # run 1's ingest/publish stragglers (guide §2.6). Run 2's
        # INGEST still waits — its first-load routing probes the claim
        # dir run 1 creates.
        from mercurygate_spark.concurrency import run_in_background

        csv2 = f"{root}/extract2"
        _x2_job = run_in_background(
            lambda: snap2.write.mode("overwrite").option("header", True).csv(csv2),
            "refresh-extract",
        )

        # ---- run 1: first load → datePart=Historic → silver create
        try:
            csv1 = f"{root}/extract1"
            snap1.write.mode("overwrite").option("header", True).csv(csv1)
            refresh_table(
                spark, csv1, spec, bronze_base, silver_base, "mm",
                "medallion_e2e", RUN1_TS, mode="initial",
            )
        except BaseException:
            # wait for the extract thread before the outer finally's
            # rmtree — deleting root under an in-flight Spark write
            # would bury the real error in secondary task failures
            _x2_job.wait_quietly()
            raise

        # ---- run 2: refresh extract → datePart=2026-02-01 → merge
        _x2_job.result()
        _, current = refresh_table(
            spark, csv2, spec, bronze_base, silver_base, "mm",
            "medallion_e2e", RUN2_TS, mode="refresh", date_part="2026-02-01",
        )

        # ---- gold: monthly KPIs + SCD-pinning active count
        gold = monthly_claim_kpis(current)
        act = current.groupBy(
            month_bucket("date_created").alias("year_month")
        ).agg(
            F.sum((F.col("active") == "Y").cast("long")).alias("n_active")
        )
        # localCheckpoint: materialize before the temp dirs are removed
        return gold.join(act, "year_month").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
