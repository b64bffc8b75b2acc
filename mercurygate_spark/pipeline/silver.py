"""Silver layer (SURVEY.md §3 EP2 + §2b realizations).

Reference behavior: read bronze across all dateParts, rename ~140
columns, flag active='Y', overwrite Delta (mm_bronze_silver.py:
204-275). Here silver reads only the datePart a refresh just wrote
(pipeline.run.refresh_table) and adds what the reference only
declares:

- consistent typing of ALL timestamp columns on EVERY path
  (fixes §2d-4 — the reference types one column, first load only);
- pk-latest dedupe using the catalog's primary_key/order_by
  (config.py:36-72 intent, never implemented there);
- merge-upsert + SCD soft delete: existing keys updated, new keys
  inserted, vanished keys kept with active='N' (the reference writes
  active='Y' forever and never flips it — mm_bronze_silver.py:222).

Merge is implemented Delta-free as union + one pk-ranked window +
io.writers.publish (Delta format when the classpath has it — io.writers
probes). At scale the union shuffles once on the pk; AQE handles
skew.
"""

from __future__ import annotations

from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mercurygate_spark.catalog import TableSpec
from mercurygate_spark.io.writers import publish, published, read_delta_or_parquet
from mercurygate_spark.pipeline.conform import (
    add_soft_delete_flag,
    dedupe_latest,
    rename_conform,
    row_md5,
    type_timestamps,
)


def conform(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Bronze → silver shape: single-projection rename, type ALL
    declared timestamp columns, soft-delete flag. Pure; applied
    identically on initial and refresh paths."""
    out = rename_conform(df, spec.rename, keep_unmapped=True)
    out = type_timestamps(out, spec.ts_columns)
    return add_soft_delete_flag(out)


def _merge_frame(
    existing: DataFrame,
    incoming: DataFrame,
    spec: TableSpec,
    soft_delete_missing: bool,
) -> DataFrame:
    """The new current table for ``merge_upsert_scd``, as one pass over
    ``existing ∪ incoming`` with a single pk shuffle.

    Each pk's rows are ranked by ``order_by`` DESC, then source
    (incoming beats existing on an exact ``order_by`` tie), then the
    md5 of the incoming row's own columns — among incoming rows the
    order ``dedupe_latest`` uses, so the winner is the newer of the
    existing row and ``dedupe_latest(incoming)``. Presence in the
    extract is ``max(__src)`` over the same window, so the soft-delete
    flag needs no key join. Both window columns share one partitioning
    and one sort: one Exchange, one Window."""
    pk = spec.primary_key
    rows = existing.withColumn("__src", F.lit(0)).unionByName(
        incoming.withColumns({"__h": row_md5(incoming), "__src": F.lit(1)}),
        allowMissingColumns=True,
    )
    w = Window.partitionBy(*pk).orderBy(
        *[F.col(c).desc_nulls_last() for c in spec.order_by],
        F.col("__src").desc(),
        F.col("__h").desc_nulls_last(),
    )
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = rows.withColumns(
        {"__rn": F.row_number().over(w), "__present": F.max("__src").over(whole)}
    ).where(F.col("__rn") == 1)
    if soft_delete_missing:
        ranked = ranked.withColumn(
            "active",
            F.when(F.col("__present") == 0, F.lit("N")).otherwise(F.col("active")),
        )
    return ranked.drop("__src", "__h", "__rn", "__present")


def merge_upsert_scd(
    spark: SparkSession,
    incoming: DataFrame,
    spec: TableSpec,
    path: str,
    soft_delete_missing: bool = True,
) -> DataFrame:
    """Incremental publish realizing the declared registry intent
    (SURVEY.md §2b): latest-per-pk incoming rows win over existing.
    Keys absent from the extract are retained; with
    ``soft_delete_missing`` (SNAPSHOT extracts — absence means the row
    is gone upstream) they're flagged active='N', without it (DELTA
    extracts — absence just means unchanged) they keep their flag.
    Returns the new current table (also written).

    Plan (``_merge_frame``): one pk-ranked pass over existing ∪
    incoming — order_by decides between existing and incoming (a
    late-arriving OLDER row can never regress the table; incoming wins
    exact ties) — with presence taken from the same window. One
    shuffle on the pk; no rows are collected to Python.

    Both branches write through ``io.writers.publish`` and route on
    ``published``, which probes through the Hadoop FileSystem API (so
    the routing works on s3a://, abfss://, hdfs:// — the reference's
    os.path.exists bug, SURVEY.md §2d-3) and restores a table stranded
    by a crashed publish, so a replay after a crash at any step
    converges to the table a clean run writes."""
    if not published(spark, path):
        incoming_latest = dedupe_latest(incoming, spec.primary_key, spec.order_by)
        publish(incoming_latest, path)
        return incoming_latest
    existing = read_delta_or_parquet(spark, path)
    publish(_merge_frame(existing, incoming, spec, soft_delete_missing), path)
    return read_delta_or_parquet(spark, path)


def _scd2_dirs(path: str) -> tuple[str, str]:
    """The SCD2 table's two physical partitions: ``open/`` (the live
    version per key — replaced per load by ``publish``) and ``closed/``
    (finished versions, one ``load_ts=<ts>`` subdirectory per load —
    published once, never read by the merge and never rewritten)."""
    root = path.rstrip("/")
    return root + "/open", root + "/closed"


def read_scd2_history(spark: SparkSession, path: str) -> DataFrame:
    """Full SCD2 history = open ∪ closed. The ONLY reader of the
    closed partition — the merge itself never scans it. ``closed/`` is
    read as one recursive file listing, so the per-load subdirectories
    add no inferred partition column (and a Delta load's ``_delta_log``
    is skipped as a hidden directory: each load dir is written once)."""
    from mercurygate_spark.io.fs import path_exists

    o_dir, c_dir = _scd2_dirs(path)
    out = read_delta_or_parquet(spark, o_dir)
    if path_exists(spark, c_dir):
        closed = spark.read.option("recursiveFileLookup", "true").parquet(c_dir)
        out = out.unionByName(closed)
    return out


def merge_upsert_scd2(
    spark: SparkSession,
    incoming: DataFrame,
    pk: list[str],
    tracked: list[str],
    path: str,
    load_ts: str,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Full type-2 slowly-changing-dimension merge — the reference's
    active='Y' intent (mm_bronze_silver.py:222) taken to its
    production conclusion (VERDICT r11 next #5): instead of one
    current row per key with a flag, the table keeps EVERY version as
    a row spanning [valid_from, valid_to), with valid_to NULL (open)
    and is_current=true on the live version.

    Per load (snapshot semantics — absence means gone upstream):
    - NEW key            → insert (valid_from=load_ts, open);
    - CHANGED tracked    → close the open row (valid_to=load_ts) and
      insert the new version (open);
    - UNCHANGED          → untouched (idempotent: replaying the same
      snapshot is a no-op — pinned by test_merge_semantics);
    - VANISHED key       → close the open row, no successor.
    Closed history rows are never rewritten — PHYSICALLY: the table
    is two partitions (``path/open`` and ``path/closed``, see
    _scd2_dirs); the merge reads ONLY the open rows, publishes the
    newly closed versions as this load's own ``closed/load_ts=<ts>``
    subdirectory, then publishes the new open set over ``open/``.
    Per load the scan volume is O(live keys) and the write volume is
    O(live keys + changes) — not O(full history) for both, which is
    what the previous single-dir layout paid (at 100 TB, every load
    re-read and re-wrote years of closed versions just to carry them
    across the overwrite). ``closed/`` accumulates one subdirectory per
    load; at scale that is the date-partitioned history every lakehouse
    compacts on its own schedule.

    Crash safety: a load is idempotent at every step. Its closed rows
    are published only if ``closed/load_ts=<ts>`` is not published yet
    — a retry after the closed publish (whether or not ``open/`` was
    replaced) finds them and writes nothing twice; a retry before it
    recomputes the identical rows from the unchanged ``open/``. Both
    publishes recover an interrupted swap first (io.writers.publish).

    Plan: reduce incoming to ONE row per pk first (order_by DESC when
    supplied, else a deterministic md5 pick — same contract as
    merge_upsert_scd; a duplicate-pk incoming would otherwise fan out
    the full-outer join and insert multiple open rows per key,
    breaking the ≤1-open-row invariant), then ONE full-outer join
    between the open rows and that latest-per-pk incoming on the pk
    (both sides shuffle once; AQE handles skew), a null-safe struct
    comparison over the tracked columns (null-safe so a NULL→value
    transition counts as a change). Timestamps are caller-supplied
    strings so replay/backfill is deterministic — no wall-clock reads
    inside the merge."""
    incoming = dedupe_latest(incoming, pk, order_by or []).select(*pk, *tracked)
    o_dir, c_dir = _scd2_dirs(path)

    def open_row(df: DataFrame) -> DataFrame:
        return df.select(
            *pk,
            *tracked,
            F.lit(load_ts).alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    if not published(spark, o_dir):
        publish(open_row(incoming), o_dir)
        return read_scd2_history(spark, path)

    # the merge scans ONLY the live rows; closed history stays on disk
    cur = read_delta_or_parquet(spark, o_dir).where(F.col("is_current"))

    inc = incoming.select(*pk, *tracked)
    tracked_struct = lambda side: F.struct(  # noqa: E731
        *[F.col(f"{side}.{c}") for c in tracked]
    )
    # presence of the incoming side can't key off a tracked column
    # (it may legitimately be NULL) — use a sentinel presence flag
    j = cur.alias("c").join(
        inc.withColumn("__in", F.lit(1)).alias("i"), pk, "full_outer"
    )
    in_cur = F.col("c.valid_from").isNotNull()
    in_inc = F.col("i.__in").isNotNull()
    same = tracked_struct("c").eqNullSafe(tracked_struct("i"))

    unchanged = j.where(in_cur & in_inc & same).select("c.*")
    to_close = j.where(in_cur & (~in_inc | ~same)).select("c.*").withColumn(
        "valid_to", F.lit(load_ts)
    ).withColumn("is_current", F.lit(False))
    to_insert = open_row(
        j.where(in_inc & (~in_cur | ~same)).select(
            *pk, *[F.col(f"i.{c}").alias(c) for c in tracked]
        )
    )
    # this load's closed versions land in their own subdirectory (the
    # load_ts is percent-quoted into a safe, injective directory name),
    # BEFORE open/ is replaced: to_close reads open/ through the join
    # above, so it must materialize while its input is still the
    # pre-load open set.
    c_load = f"{c_dir}/load_ts={quote(load_ts, safe='')}"
    if not published(spark, c_load):
        publish(to_close, c_load)
    publish(unchanged.unionByName(to_insert), o_dir)
    return read_scd2_history(spark, path)
