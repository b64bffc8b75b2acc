"""Skew mitigation (SURVEY.md §7 step 8 'salting helper for skewed
claim keys').

AQE's skew-join splitting (on in session.py) handles most cases at
runtime; explicit salting remains necessary for skewed AGGREGATION
keys and for joins whose skew AQE can't see (e.g. post-filter skew).

Pattern: two-phase aggregate — salt the hot key into S subkeys,
partial-aggregate on (key, salt), then final-aggregate on key. The
first shuffle spreads the hot key over S reducers; the second moves
only S rows per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Hot-key driver-collect cap (the _uni_bounded_collect doctrine,
# queries/text.py): keys above a COUNT threshold are few by definition
# — a fact with N rows has at most N/threshold hot keys — but a
# pathological threshold (e.g. 0 on a high-cardinality key) would turn
# the collect unbounded. 10k hot keys is already far past the point
# where hot/cold isolation is the wrong tool (that's not skew, that's
# uniform volume); raise rather than flood the driver.
HOT_KEY_CAP = 10_000


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Deterministic salt in [0, n_salts): hash of the whole row's
    monotonically increasing id is NOT reproducible across runs, so use
    a stable per-row expression — spark_partition_id is stable within a
    plan but not across repartitions; the robust choice is hashing
    existing columns. Callers pass the natural fine-grained column(s)
    via salted_agg; this helper hashes all columns."""
    return df.withColumn(salt_col, F.abs(F.hash(*df.columns)) % n_salts)


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, tuple[Column, Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output name → (partial_agg_expr, final_agg_expr over
    the partial column). Example:
        salted_agg(df, ["k"], {"total": (F.sum("v"), F.sum("total"))})

    Equivalent to df.groupBy(group_cols).agg(...) for decomposable
    aggregates (sum/count/min/max); asserted in tests.
    """
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*group_cols, "__salt").agg(
        *[expr.alias(name) for name, (expr, _) in aggs.items()]
    )
    return partial.groupBy(*group_cols).agg(
        *[final.alias(name) for name, (_, final) in aggs.items()]
    )


def skew_isolated_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    hot_key_threshold: int,
    how: str = "inner",
) -> DataFrame:
    """Hot/cold isolated join: detect keys above ``hot_key_threshold``
    in the fact, join hot rows against a BROADCAST of the dim's hot
    slice (no shuffle can skew a broadcast), sort-merge join the cold
    remainder normally, union the results.

    Use when AQE skew splitting isn't available/enough (e.g. the skew
    appears after a filter AQE can't see through, or the dim side of
    a shuffle join is what skews). The hot-key set is collected to the
    driver — by construction it is tiny (keys above a count threshold).

    Only inner/left/left_semi/left_anti are supported: the plan splits
    the FACT side disjointly but joins BOTH branches against dim rows
    for hot keys (broadcast slice + full dim), so for right/full outer
    joins an unmatched hot dim row would surface from both branches —
    duplicated or spuriously unmatched output. Rejected explicitly
    rather than silently wrong.
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "semi", "anti"}
    if how.lower().replace(" ", "") not in allowed:
        raise ValueError(
            f"skew_isolated_join supports {sorted(allowed)}, got how={how!r}: "
            "right/full outer joins would duplicate unmatched hot dim rows "
            "across the hot and cold branches"
        )
    hot_keys_df = (
        fact.groupBy(on).agg(F.count("*").alias("__n")).where(F.col("__n") > hot_key_threshold)
    ).select(on)
    # bounded collect: limit(CAP + 1) so the driver never materializes
    # more than CAP + 1 keys even on a pathological threshold; the
    # raise fires on the bounded frame, not after an unbounded collect
    rows = hot_keys_df.limit(HOT_KEY_CAP + 1).collect()
    if len(rows) > HOT_KEY_CAP:
        raise RuntimeError(
            f"skew_isolated_join found >{HOT_KEY_CAP} keys above "
            f"hot_key_threshold={hot_key_threshold}: that is not skew, "
            "it is uniform volume — raise the threshold (hot keys must "
            "be few for broadcast isolation to make sense) or rely on "
            "AQE skew-join splitting instead."
        )
    hot_keys = [r[on] for r in rows]
    if not hot_keys:
        return fact.join(dim, on, how)
    fact_hot = fact.where(F.col(on).isin(hot_keys))
    # NULL keys: isin(NULL) yields NULL so both branches would drop the
    # row; route NULLs to the cold branch (outer joins must keep them)
    fact_cold = fact.where(~F.col(on).isin(hot_keys) | F.col(on).isNull())
    dim_hot = dim.where(F.col(on).isin(hot_keys))
    joined_hot = fact_hot.join(F.broadcast(dim_hot), on, how)
    joined_cold = fact_cold.join(dim, on, how)
    return joined_hot.unionByName(joined_cold)
