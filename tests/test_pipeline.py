"""Medallion pipeline golden tests (SURVEY.md §5.3-5.4): synthetic
claim-family CSVs → bronze → silver; assert schema conformance, typed
dates on every path, dedupe/SCD semantics, partition layout, ledger.
"""

from __future__ import annotations

import os

import pytest
from datetime import datetime

from mercurygate_spark.catalog import TABLES, assert_no_conflicting_renames, derive_table_name
from mercurygate_spark.io.sftp import LocalFetcher
from mercurygate_spark.pipeline.bronze import ZeroRowError, ingest_table
from mercurygate_spark.pipeline.ledger import RunLedger
from mercurygate_spark.pipeline.run import refresh
from mercurygate_spark.pipeline.silver import conform, merge_upsert_scd

RUN_TS = datetime(2026, 1, 15, 8, 30, 0)

CLAIM_CSV = """claimid,claimnumber,claimtype,statuscode,claimant,transmittalamount,totalamount,deliverydate,datecreated,dateclosed
1,CLM-001,DAMAGE,OPEN,Acme Corp,1200.50,1500.00,2025-11-02 10:00:00,2025-11-01 09:00:00,
2,CLM-002,LOSS,CLOSED,Beta LLC,-50.25,0.00,2025-11-15 12:30:00,2025-11-10 14:00:00,2025-12-01 16:00:00
3,CLM-003,DAMAGE,OPEN,Gamma Inc,,300.00,not-a-date,2025-12-05 11:00:00,
"""

PAYMENT_CSV = """rowid,claimnumber,payee,paymentamount,paymentdate,datecreated
10,CLM-001,Acme Corp,500.00,2025-11-20 10:00:00,2025-11-01 09:00:00
11,CLM-002,Beta LLC,0.00,2025-12-02 10:00:00,2025-11-10 14:00:00
12,CLM-999,Orphan Co,10.00,2025-12-03 10:00:00,2025-11-12 10:00:00
13,CLM-001,Acme Corp,250.00,2025-11-25 10:00:00,2025-11-01 09:00:00
14,CLM-001,Acme Corp,125.00,2025-11-30 10:00:00,2025-11-01 09:00:00
"""

DIARY_CSV = """rowid,claimnumber,dateof,lastupdatedname,category,comments,datecreated
20,CLM-001,2025-11-03 08:00:00,jdoe,note,first contact,2025-11-01 09:00:00
"""


@pytest.fixture(scope="module")
def staged(tmp_path_factory):
    src = tmp_path_factory.mktemp("sftp_src")
    (src / "claim.txt").write_text(CLAIM_CSV)
    (src / "claimpayment.txt").write_text(PAYMENT_CSV)
    (src / "claimdiary.txt").write_text(DIARY_CSV)
    return str(src)


def test_catalog_invariants():
    assert_no_conflicting_renames()
    assert derive_table_name("claim.txt") == "claim"
    assert derive_table_name("claimactivity.txt") == "claim_activity"
    assert derive_table_name("claimpayment.txt") == "claim_payment"
    assert set(TABLES) == {
        "claim", "claim_activity", "claim_additionalcharge", "claim_additionalinfo",
        "claim_diary", "claim_document", "claim_payment", "claim_product",
    }
    # the claim_diary quirk: datecreated intentionally unmapped (SURVEY.md §1.3)
    assert "datecreated" not in TABLES["claim_diary"].rename


def test_bronze_to_silver_end_to_end(spark, staged, tmp_path):
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ledger = RunLedger()
    fetcher = LocalFetcher(staged)

    tables = refresh(
        spark, fetcher, str(tmp_path / "staging"), bronze, silver, "mm",
        "pytest", RUN_TS, mode="initial", ledger=ledger,
    )
    # only the 3 staged files ingest; missing extracts are skipped (S4)
    assert sorted(tables) == ["claim", "claim_diary", "claim_payment"]
    assert all(res.table == name and res.count > 0 for name, (res, _) in tables.items())

    # bronze layout: datePart=Historic / year_month=... hive dirs
    claim_dir = os.path.join(bronze, "claim", "datePart=Historic")
    assert os.path.isdir(claim_dir)
    assert any(d.startswith("year_month=") for d in os.listdir(claim_dir))

    claim = tables["claim"][1]
    cols = set(claim.columns)
    # conformed names + audit + flag
    assert {"claim_number", "claim_type", "status_code", "transmittal_amount",
            "delivery_date", "date_created", "active", "updated_on", "year_month"} <= cols
    assert "claimnumber" not in cols
    # typed dates on the first-load path (reference only typed deliverydate,
    # first load only — engine types ALL declared ts cols, every path)
    dtypes = dict(claim.dtypes)
    assert dtypes["delivery_date"] == "timestamp"
    assert dtypes["date_created"] == "timestamp"
    assert dtypes["date_closed"] == "timestamp"
    rows = {r["claim_number"]: r for r in claim.collect()}
    assert rows["CLM-003"]["delivery_date"] is None  # malformed → NULL, not error
    assert rows["CLM-001"]["active"] == "Y"
    # claim_diary quirk: raw datecreated survives unmapped
    diary = tables["claim_diary"][1]
    assert "datecreated" in diary.columns and "date_of" in diary.columns
    # child-table pk is (claim_number, row_id): a claim with 3 payments
    # publishes ALL 3 to silver — deduping children on claim_number
    # alone would keep one arbitrary payment and corrupt payment KPIs
    payments = tables["claim_payment"][1]
    clm1 = payments.filter(payments.claim_number == "CLM-001").collect()
    assert len(clm1) == 3
    assert sorted(r["payment_amount"] for r in clm1) == [125.0, 250.0, 500.0]
    # ledger timings are real (reference's linehaul timer bug fixed);
    # each entry counts its table's bronze rows
    assert all(e["execution_time"] >= 0 for e in ledger.entries)
    assert {e["table"]: e["count"] for e in ledger.entries} == {
        name: res.count for name, (res, _) in tables.items()
    }
    assert ledger.to_df(spark).columns == ["table", "database", "count", "execution_time"]


def test_zero_row_guard(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("claimid,claimnumber,datecreated\n")
    with pytest.raises(ZeroRowError):
        ingest_table(
            spark, str(p), TABLES["claim"], str(tmp_path / "b"), "mm",
            "pytest", RUN_TS, mode="initial",
        )


def _monthly_claims_csv(path, months: int, per_month: int) -> int:
    """A claim extract spread over ``months`` distinct months — past
    Spark's 32-directory threshold for a parallel listing job."""
    lines = ["claimid,claimnumber,statuscode,totalamount,datecreated"]
    for m in range(months):
        for i in range(per_month):
            n = m * per_month + i
            lines.append(f"{n},CLM-{n:05d},OPEN,{n}.25,{2020 + m // 12}-{m % 12 + 1:02d}-03 10:00:00")
    path.write_text("\n".join(lines) + "\n")
    return months * per_month


def test_bronze_count_comes_from_the_write(spark, tmp_path):
    """BronzeResult.count is the extract's row count, observed as the
    partitioned write runs: the ingest is the CSV header probe, the
    schema inference, the zero-row probe, the shuffle map that clusters
    rows by year_month and the write — at most 5 jobs, none of them a
    listing or re-read of the 40 written partitions."""
    csv = tmp_path / "claim.txt"
    n = _monthly_claims_csv(csv, months=40, per_month=3)
    sc = spark.sparkContext
    group = "test-bronze-ingest-jobs"
    sc.setJobGroup(group, "bronze ingest job count")
    try:
        res = ingest_table(
            spark, str(csv), TABLES["claim"], str(tmp_path / "b"), "mm",
            "pytest", RUN_TS, mode="initial",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.count == n
    assert spark.read.parquet(res.path).count() == n
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, jobs


def test_bronze_writes_one_file_per_month_in_parallel(spark, tmp_path):
    """The partitioned write clusters rows by year_month first: a
    40-month extract is 40 parquet files under its datePart, one per
    month, written by more than one task — the extract is a single CSV
    split, so without the repartition one task would create them all."""
    csv = tmp_path / "claim.txt"
    _monthly_claims_csv(csv, months=40, per_month=3)
    sc = spark.sparkContext
    group = "test-bronze-write-tasks"
    sc.setJobGroup(group, "bronze write task count")
    try:
        res = ingest_table(
            spark, str(csv), TABLES["claim"], str(tmp_path / "b"), "mm",
            "pytest", RUN_TS, mode="initial",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    files = {
        os.path.basename(d): [f for f in fs if f.endswith(".parquet")]
        for d, _, fs in os.walk(res.path)
        if os.path.basename(d).startswith("year_month=")
    }
    assert len(files) == 40
    assert all(len(fs) == 1 for fs in files.values()), files
    tracker = sc.statusTracker()
    write_job = max(tracker.getJobIdsForGroup(group))
    write_stage = max(tracker.getJobInfo(write_job).stageIds)
    assert tracker.getStageInfo(write_stage).numCompletedTasks > 1


def test_refresh_on_file_uri(spark, staged, tmp_path):
    """refresh works on scheme-qualified bases (file://, and by the same
    API s3a://, abfss://): bronze is written and read back, and silver
    routed and published, through Hadoop paths — an os.path probe is
    False on every URI and would silently skip all tables."""
    tables = refresh(
        spark, LocalFetcher(staged), str(tmp_path / "staging"),
        f"file://{tmp_path}/bronze", f"file://{tmp_path}/silver", "mm",
        "pytest", RUN_TS, mode="initial",
    )
    assert sorted(tables) == ["claim", "claim_diary", "claim_payment"]
    assert tables["claim"][1].count() == 3
    assert os.path.isdir(tmp_path / "bronze" / "claim" / "datePart=Historic")
    assert os.path.isdir(tmp_path / "silver" / "claim")


CLAIM_CSV_DAY2 = """claimid,claimnumber,claimtype,statuscode,claimant,transmittalamount,totalamount,deliverydate,datecreated,dateclosed
1,CLM-001,DAMAGE,CLOSED,Acme Corp,1200.50,1500.00,2025-11-02 10:00:00,2025-11-01 09:00:00,2026-01-20 10:00:00
3,CLM-003,DAMAGE,OPEN,Gamma Inc,,300.00,2025-12-06 11:00:00,2025-12-05 11:00:00,
"""

RUN2_TS = datetime(2026, 1, 21, 8, 30, 0)


def _two_claim_refreshes(spark, tmp_path):
    """refresh a 3-claim extract whose ``dateclosed`` is all empty
    (inferred string), then a 2-claim extract that has close dates
    (inferred timestamp) and no CLM-002. Returns the second run."""
    src = tmp_path / "src"
    src.mkdir()
    args = (str(tmp_path / "staging"), str(tmp_path / "bronze"), str(tmp_path / "silver"),
            "mm", "pytest")
    day1 = "\n".join(
        line if i == 0 else line.rsplit(",", 1)[0] + ","
        for i, line in enumerate(CLAIM_CSV.strip().splitlines())
    )
    (src / "claim.txt").write_text(day1 + "\n")
    refresh(spark, LocalFetcher(str(src)), *args, RUN_TS, mode="initial")
    (src / "claim.txt").write_text(CLAIM_CSV_DAY2)
    return refresh(spark, LocalFetcher(str(src)), *args, RUN2_TS, mode="refresh")


def test_refresh_soft_deletes_a_vanished_claim(spark, tmp_path):
    """The second refresh merges only its own extract: CLM-002, absent
    from it, flips to active='N' although datePart=Historic still holds
    it, and the extracts' differing ``dateclosed`` types never meet in
    one bronze read. Silver keeps ``datePart`` a string."""
    res, claim = _two_claim_refreshes(spark, tmp_path)["claim"]
    assert res.count == 2 and res.path.endswith("datePart=2026-01-21")
    rows = {r["claim_number"]: r for r in claim.collect()}
    assert {k: r["active"] for k, r in rows.items()} == {
        "CLM-001": "Y", "CLM-002": "N", "CLM-003": "Y",
    }
    assert rows["CLM-001"]["status_code"] == "CLOSED"
    assert rows["CLM-001"]["date_closed"] == datetime(2026, 1, 20, 10, 0, 0)
    assert rows["CLM-002"]["datePart"] == "Historic"
    assert rows["CLM-001"]["datePart"] == "2026-01-21"
    dtypes = dict(claim.dtypes)
    assert dtypes["datePart"] == "string"
    assert dtypes["date_closed"] == "timestamp"


def test_refresh_reads_only_its_own_datepart(spark, tmp_path, monkeypatch):
    """The silver step's bronze input is the datePart the refresh just
    wrote — no file of an earlier datePart is listed or read."""
    from mercurygate_spark.pipeline import run

    inputs = []

    def spy(df, spec):
        inputs.append(df.inputFiles())
        return conform(df, spec)

    monkeypatch.setattr(run, "conform", spy)
    _two_claim_refreshes(spark, tmp_path)
    first, second = inputs
    assert first and all("/datePart=Historic/" in f for f in first)
    assert second and all("/datePart=2026-01-21/" in f for f in second)


def test_merge_upsert_scd(spark, tmp_path):
    """Declared-but-unimplemented reference intent (SURVEY.md §2b):
    latest-per-pk wins; vanished keys soft-deleted with active='N'."""
    target = str(tmp_path / "silver_claim")
    spec = TABLES["claim"]

    def mk(rows):
        df = spark.createDataFrame(
            rows, schema="claim_number string, status_code string, updated_on timestamp"
        )
        return df.withColumn("active", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("Y"))

    day1 = mk([
        ("CLM-001", "OPEN", datetime(2026, 1, 1)),
        ("CLM-001", "FILED", datetime(2026, 1, 2)),   # later — must win
        ("CLM-002", "OPEN", datetime(2026, 1, 1)),
    ])
    cur = merge_upsert_scd(spark, day1, spec, target)
    got = {r["claim_number"]: r for r in cur.collect()}
    assert len(got) == 2 and got["CLM-001"]["status_code"] == "FILED"

    day2 = mk([
        ("CLM-001", "CLOSED", datetime(2026, 1, 3)),  # update
        ("CLM-003", "OPEN", datetime(2026, 1, 3)),    # insert
        # CLM-002 vanished → soft delete
    ])
    cur = merge_upsert_scd(spark, day2, spec, target)
    got = {r["claim_number"]: r for r in cur.collect()}
    assert got["CLM-001"]["status_code"] == "CLOSED" and got["CLM-001"]["active"] == "Y"
    assert got["CLM-003"]["active"] == "Y"
    assert got["CLM-002"]["active"] == "N" and got["CLM-002"]["status_code"] == "OPEN"


def test_child_table_dedupe_keeps_all_rows_per_claim(spark, tmp_path):
    """Child pk is (claim_number, row_id): distinct child rows of one
    claim all survive merge; a re-delivered row_id dedupes to latest."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "silver_payment")
    spec = TABLES["claim_payment"]

    def mk(rows):
        return spark.createDataFrame(
            rows,
            schema="claim_number string, row_id long, payment_amount double, updated_on timestamp",
        ).withColumn("active", F.lit("Y"))

    day1 = mk([
        ("CLM-1", 10, 500.0, datetime(2026, 1, 1)),
        ("CLM-1", 11, 250.0, datetime(2026, 1, 1)),
        ("CLM-1", 12, 125.0, datetime(2026, 1, 1)),
    ])
    cur = merge_upsert_scd(spark, day1, spec, target, soft_delete_missing=False)
    assert cur.count() == 3  # all three payments of CLM-1 kept

    day2 = mk([("CLM-1", 11, 275.0, datetime(2026, 1, 2))])  # corrected amount
    cur = merge_upsert_scd(spark, day2, spec, target, soft_delete_missing=False)
    got = {r["row_id"]: r for r in cur.collect()}
    assert len(got) == 3
    assert got[11]["payment_amount"] == 275.0  # latest version of row 11 wins
    assert got[10]["payment_amount"] == 500.0  # siblings untouched


def test_conform_is_idempotent_on_conformed_names(spark):
    """Applying the rename map to already-conformed data is a no-op
    (reference behavior: withColumnRenamed on absent cols no-ops)."""
    spec = TABLES["claim_payment"]
    df = spark.createDataFrame(
        [("CLM-1", 5.0, "2026-01-01 00:00:00")],
        schema="claim_number string, payment_amount double, payment_date string",
    )
    out = conform(df, spec)
    assert set(out.columns) == {"claim_number", "payment_amount", "payment_date", "active"}
    assert dict(out.dtypes)["payment_date"] == "timestamp"


def test_incremental_silver_streaming(spark, tmp_path):
    """Streaming bronze→silver (foreachBatch + merge, delta semantics):
    two incremental file drops; the second run only processes the new
    file (checkpointed) and merges updates/inserts; keys absent from a
    delta microbatch are unchanged — NOT soft-deleted."""
    import glob
    import shutil
    import tempfile

    from mercurygate_spark.pipeline.streaming_silver import incremental_silver

    bronze = tmp_path / "bronze_stream"
    bronze.mkdir()
    silver = str(tmp_path / "silver_claim")
    ckpt = str(tmp_path / "ckpt")
    spec = TABLES["claim"]
    schema = "claimnumber string, statuscode string, updated_on timestamp"

    def drop_file(rows, name):
        df = spark.createDataFrame(rows, schema=schema)
        staging = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        shutil.move(glob.glob(f"{staging}/part-*.parquet")[0], str(bronze / name))

    drop_file([("CLM-1", "OPEN", datetime(2026, 1, 1)),
               ("CLM-2", "OPEN", datetime(2026, 1, 1))], "d1.parquet")
    incremental_silver(spark, str(bronze), schema, spec, silver, ckpt)
    got = {r["claim_number"]: r for r in spark.read.parquet(silver).collect()}
    assert set(got) == {"CLM-1", "CLM-2"}
    assert got["CLM-1"]["status_code"] == "OPEN"  # conformed names + typed

    drop_file([("CLM-1", "CLOSED", datetime(2026, 1, 2)),   # update
               ("CLM-3", "OPEN", datetime(2026, 1, 2))], "d2.parquet")  # insert
    incremental_silver(spark, str(bronze), schema, spec, silver, ckpt)
    got = {r["claim_number"]: r for r in spark.read.parquet(silver).collect()}
    assert got["CLM-1"]["status_code"] == "CLOSED" and got["CLM-1"]["active"] == "Y"
    assert got["CLM-3"]["status_code"] == "OPEN"
    # CLM-2 absent from the delta → unchanged, still active
    assert got["CLM-2"]["active"] == "Y" and got["CLM-2"]["status_code"] == "OPEN"


def test_merge_upsert_late_arriving_older_row_does_not_regress(spark, tmp_path):
    """A late-delivered batch containing an OLDER version of a key must
    not overwrite the newer silver row (order_by recency decides, not
    batch arrival order)."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "silver_late")
    spec = TABLES["claim"]

    def mk(rows):
        return spark.createDataFrame(
            rows, schema="claim_number string, status_code string, updated_on timestamp"
        ).withColumn("active", F.lit("Y"))

    merge_upsert_scd(spark, mk([("CLM-1", "CLOSED", datetime(2026, 1, 5))]), spec, target,
                     soft_delete_missing=False)
    cur = merge_upsert_scd(spark, mk([("CLM-1", "OPEN", datetime(2026, 1, 1))]), spec, target,
                           soft_delete_missing=False)
    got = {r["claim_number"]: r for r in cur.collect()}
    assert got["CLM-1"]["status_code"] == "CLOSED"  # newer row survives


def test_hadoop_fs_helpers(spark, tmp_path):
    """io.fs routes probes/deletes/sizing through Hadoop FileSystem —
    verified here on file:// (the API contract is scheme-independent)."""
    from mercurygate_spark.io.fs import delete_path, dir_size_bytes, path_exists

    d = tmp_path / "t"
    d.mkdir()
    (d / "a.bin").write_bytes(b"x" * 1000)
    (d / "b.bin").write_bytes(b"y" * 500)
    p = str(d)
    assert path_exists(spark, p)
    assert not path_exists(spark, p + "_missing")
    assert dir_size_bytes(spark, p) == 1500
    assert delete_path(spark, p)
    assert not path_exists(spark, p)
    assert delete_path(spark, p) is False  # already gone


def test_skew_isolated_join_rejects_outer_variants(spark):
    """right/full outer joins would duplicate unmatched hot dim rows
    across the hot/cold branches — rejected, not silently wrong."""
    import pytest as _pytest

    from mercurygate_spark.operators.skew import skew_isolated_join

    fact = spark.createDataFrame([(1, 1)], "k long, v long")
    dim = spark.createDataFrame([(1, "d")], "k long, name string")
    for how in ("right", "full", "full_outer", "right_outer", "outer"):
        with _pytest.raises(ValueError, match="skew_isolated_join supports"):
            skew_isolated_join(fact, dim, "k", hot_key_threshold=1, how=how)


def test_delta_merge_branch_when_available(spark, tmp_path):
    """Exercises the REAL Delta write path (overwriteSchema + merge on
    a Delta table) when delta-spark is on the classpath; skipped (and
    honestly reported) in environments without it. The probe itself is
    asserted either way — Class.forName, not py4j's lazy fake."""
    from mercurygate_spark.io.writers import delta_available, write_delta_or_parquet

    available = delta_available(spark)
    assert available in (True, False)  # probe never raises
    if not available:
        pytest.skip("delta-spark not on classpath — parquet fallback covered elsewhere")

    from pyspark.sql import functions as F

    spec = TABLES["claim"]
    target = str(tmp_path / "delta_claim")
    day1 = spark.createDataFrame(
        [("CLM-1", "OPEN", datetime(2026, 1, 1))],
        schema="claim_number string, status_code string, updated_on timestamp",
    ).withColumn("active", F.lit("Y"))
    fmt = write_delta_or_parquet(day1, target, mode="overwrite")
    assert fmt == "delta"
    # overwriteSchema: widen with a new column and overwrite
    day2 = day1.withColumn("new_col", F.lit(1))
    assert write_delta_or_parquet(day2, target, mode="overwrite") == "delta"
    cur = merge_upsert_scd(
        spark,
        day2.withColumn("status_code", F.lit("CLOSED"))
            .withColumn("updated_on", F.lit(datetime(2026, 1, 2))),
        spec,
        target,
    )
    got = {r["claim_number"]: r for r in cur.collect()}
    assert got["CLM-1"]["status_code"] == "CLOSED"


def test_incremental_silver_kill_between_merge_and_checkpoint(spark, tmp_path):
    """Restart torture for the streaming merge sink (VERDICT r8 #3):
    kill the query in the WORST crash window — after the batch's merge
    has durably written silver, before Structured Streaming commits
    the batch to the checkpoint — restart, and prove no loss and no
    duplication vs the batch-path oracle.

    Why this must hold: foreachBatch is at-least-once for the side
    effect (offset commit happens after the user function returns), so
    the crashed batch REPLAYS on restart against a silver table that
    already contains its merge. The idempotency key making the replay
    safe is pk + order_by latest-wins: merging rows that are already
    the current versions changes nothing. A sink keyed any other way
    (append, count-accumulating, etc.) would double-apply here — which
    is exactly what the final equality check would catch."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql.streaming import StreamingQueryException

    from mercurygate_spark.pipeline.silver import merge_upsert_scd as batch_merge
    from mercurygate_spark.pipeline.streaming_silver import incremental_silver

    bronze = tmp_path / "bronze_torture"
    bronze.mkdir()
    silver = str(tmp_path / "silver_torture")
    ckpt = str(tmp_path / "ckpt_torture")
    spec = TABLES["claim"]
    schema = "claimnumber string, statuscode string, updated_on timestamp"

    def drop_file(rows, name):
        df = spark.createDataFrame(rows, schema=schema)
        staging = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        shutil.move(glob.glob(f"{staging}/part-*.parquet")[0], str(bronze / name))

    gen1 = [("CLM-1", "OPEN", datetime(2026, 1, 1)),
            ("CLM-2", "OPEN", datetime(2026, 1, 1))]
    gen2 = [("CLM-1", "CLOSED", datetime(2026, 1, 2)),
            ("CLM-3", "OPEN", datetime(2026, 1, 2))]
    drop_file(gen1, "g1.parquet")

    class Boom(RuntimeError):
        pass

    def kill_after_merge(batch_id):
        raise Boom(f"injected crash after merge of batch {batch_id}")

    with pytest.raises(StreamingQueryException):
        incremental_silver(spark, str(bronze), schema, spec, silver, ckpt,
                           after_merge=kill_after_merge)

    # the crash window is real: merge landed, checkpoint did NOT commit
    assert {r["claim_number"] for r in spark.read.parquet(silver).collect()} == {
        "CLM-1", "CLM-2"
    }
    assert not glob.glob(f"{ckpt}/commits/*"), "batch must not be committed"

    # restart: the same batch replays against already-merged silver
    incremental_silver(spark, str(bronze), schema, spec, silver, ckpt)
    assert glob.glob(f"{ckpt}/commits/*"), "replayed batch must commit"

    # continue the pipeline normally with a second generation
    drop_file(gen2, "g2.parquet")
    incremental_silver(spark, str(bronze), schema, spec, silver, ckpt)
    streamed = spark.read.parquet(silver)

    # batch-path oracle: same two generations, no streaming, no crash
    oracle_path = str(tmp_path / "silver_oracle")
    from mercurygate_spark.pipeline.silver import conform as conform_fn
    for rows in (gen1, gen2):
        batch_merge(
            spark,
            conform_fn(spark.createDataFrame(rows, schema=schema), spec),
            spec,
            oracle_path,
            soft_delete_missing=False,
        )
    expected = spark.read.parquet(oracle_path)

    cols = sorted(streamed.columns)
    assert cols == sorted(expected.columns)
    got = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    want = sorted(tuple(r[c] for c in cols) for r in expected.collect())
    assert got == want, "crash+replay diverged from the batch oracle"
    # and no key appears twice (the duplication half of exactly-once)
    keys = [r["claim_number"] for r in streamed.collect()]
    assert len(keys) == len(set(keys))
