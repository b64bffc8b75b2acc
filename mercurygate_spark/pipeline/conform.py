"""Silver-layer conform transforms (SURVEY.md §2a P3-P5, §2b).

The reference conforms with ~140 chained ``withColumnRenamed`` calls
per table ×3 call sites (mm_bronze_silver.py:225-227,239-241,257-259 —
anti-pattern §2d-2) and types exactly one column, only on the first
load (§2d-4). This engine conforms with ONE select projection and
types consistently on every path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mercurygate_spark.functions import REFERENCE_TS_FMT


def rename_conform(
    df: DataFrame, mapping: dict[str, str], keep_unmapped: bool = True
) -> DataFrame:
    """Bulk rename via a single projection (reference P4 done right).

    ``mapping`` is raw→conformed; raw names absent from ``df`` are
    ignored (the reference's per-column no-op behavior). With
    ``keep_unmapped`` the other columns pass through unchanged — this
    reproduces the reference's claim_diary quirk where an unmapped
    ``datecreated`` survives under its raw name (SURVEY.md §1.3).
    """
    cols: list[Column] = []
    for c in df.columns:
        cols.append(F.col(c).alias(mapping[c]) if c in mapping else F.col(c))
        if c not in mapping and not keep_unmapped:
            cols.pop()
    return df.select(*cols)


def type_timestamps(
    df: DataFrame, ts_columns: list[str], fmt: str = REFERENCE_TS_FMT
) -> DataFrame:
    """String→timestamp for every listed column present (reference P3,
    mm_bronze_silver.py:214-217, extended to ALL date columns on ALL
    load paths — fixes §2d-4). Malformed values become NULL; callers
    can count them via ``parse_failures``."""
    present = [c for c in ts_columns if c in df.columns]
    if not present:
        return df
    # try_to_timestamp: NULL on malformed (the reference's pre-ANSI
    # semantics; Spark 4 ANSI to_timestamp would throw instead)
    return df.withColumns({c: F.try_to_timestamp(F.col(c), F.lit(fmt)) for c in present})


def parse_failures(raw: DataFrame, ts_columns: list[str]) -> DataFrame:
    """Count silent to_timestamp NULLs per column (SURVEY.md §7 risk
    'Timestamp parsing'): rows whose raw value is non-null but fails to
    parse. One aggregate pass; feeds the run ledger."""
    present = [c for c in ts_columns if c in raw.columns]
    aggs = [
        F.sum(
            (F.col(c).isNotNull() & F.try_to_timestamp(F.col(c), F.lit(REFERENCE_TS_FMT)).isNull()).cast(
                "long"
            )
        ).alias(c)
        for c in present
    ]
    return raw.agg(*aggs)


def add_soft_delete_flag(df: DataFrame, value: str = "Y") -> DataFrame:
    """Reference P5 (mm_bronze_silver.py:222): current-row flag; the
    SCD path in pipeline.silver flips it to 'N' for vanished keys."""
    return df.withColumn("active", F.lit(value))


def row_md5(df: DataFrame) -> Column:
    """md5 over every column of ``df`` — the final tiebreak of
    ``dedupe_latest``. Evaluate it on the frame whose rows are being
    ranked: computed after a union, it would also cover the union's
    bookkeeping and null-filled columns and pick different winners."""
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in df.columns])))


def dedupe_latest(
    df: DataFrame, primary_key: list[str], order_by: list[str], tiebreakers: list[str] | None = None
) -> DataFrame:
    """Keep the latest row per primary key — realizes the reference's
    declared-but-never-implemented table registry intent
    (config.py:36-72, mm_bronze_silver.py:171-182; SURVEY.md §2b).

    Total order is pinned: order_by DESC, then tiebreakers DESC, then
    an md5 over the whole row as the final tiebreak — so ties on
    ``updated_on`` are deterministic even without a caller-supplied
    unique column (SURVEY.md §7 risk 'SCD/merge semantics'). Rows that
    tie all the way through the md5 are full duplicates, where either
    choice is the same row. Callers with a known unique column should
    pass it as a tiebreaker to skip the md5 serialization cost.

    Scale: one shuffle on the pk; with AQE skew-join/partition
    coalescing this is the canonical 100 TB dedupe plan. For
    pre-bucketed tables the shuffle is avoided entirely.
    """
    order_cols = [F.col(c).desc_nulls_last() for c in order_by]
    for tb in tiebreakers or []:
        order_cols.append(F.col(tb).desc_nulls_last())
    if not tiebreakers:
        order_cols.append(row_md5(df).desc())
    w = Window.partitionBy(*primary_key).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
