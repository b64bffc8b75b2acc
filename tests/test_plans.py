"""Physical-plan regression tests (the 100 TB posture, SURVEY.md §4):
the optimizations the engine relies on must be visible in the plan —
pushdown reaching the scan, dims broadcast, no redundant shuffles,
top-k never globally sorting. A refactor that silently loses one of
these would still pass the value checks; these tests pin the plan.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from mercurygate_spark.queries import all_queries
from tests.registry_sample import registry_sample

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    s = _plan(spark, "scan_parquet")
    assert "EqualTo(l_returnflag,R)" in s  # PushedFilters, not post-scan Filter
    assert "Exchange" not in s             # pure scan+project: zero shuffles


def test_flagship_agg_has_single_shuffle(spark):
    s = _plan(spark, "agg_group_sum_avg_minmax")
    assert s.count("Exchange") == 1        # partial agg -> one shuffle -> final agg
    assert "LessThanOrEqual(l_shipdate" in s  # date filter pushed to parquet


def test_star_join_broadcasts_all_dims(spark):
    s = _plan(spark, "join_broadcast_dim")
    assert s.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in s        # fact side never shuffles for the join


def test_topk_uses_take_ordered(spark):
    s = _plan(spark, "sort_limit_topk")
    assert "TakeOrderedAndProject" in s    # per-partition top-k, no global sort
    assert "Exchange" not in s


def test_rank_topn_pushes_window_group_limit(spark):
    s = _plan(spark, "window_rank_topn_per_group")
    assert "WindowGroupLimit" in s         # rank<=5 limits before full window eval


def test_column_pruning(spark):
    s = _plan(spark, "scan_parquet")
    # 11-column lineitem pruned to exactly the 5 referenced columns
    assert "ReadSchema" in s
    read_schema = s.split("ReadSchema:")[1].splitlines()[0]
    for col in ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"]:
        assert col in read_schema
    for col in ["l_tax", "l_shipdate", "l_partkey", "l_suppkey"]:
        assert col not in read_schema


# Keys whose plans contain a BroadcastNestedLoopJoin ON PURPOSE, with a
# broadcast side bounded by construction (safe at any corpus size):
# - sim_cosine_topk: the documented brute-force baseline — the ≤
#   N_QUERIES query vectors are broadcast and crossed with the corpus
#   (one corpus pass, no corpus shuffle).
# - text_unigram_logprob: per-token logprob normalizes by the corpus
#   total token count — a 1-row scalar broadcast-crossed into freq.
# - project_dense_grid: DELIBERATE densification cross of two bounded
#   dimension domains (5 regions × 5 priorities) — never fact-sized.
_BOUNDED_BNLJ_OK = {
    "sim_cosine_topk",
    # broadcast(n_queries rows) × decoded-code scan — the same
    # deliberate brute-force shape as sim_cosine_topk, reading 64 B
    # codes instead of 256 B floats
    "sim_sq8_topk",
    "text_unigram_logprob",
    "project_dense_grid",
    # 1-row corpus-size frame broadcast onto the tf×df join
    "text_tfidf_topk",
    # 1-row (N, avgdl) frame broadcast into the BM25 denominator
    "text_bm25_score",
    # 1-row corpus-total frame broadcast into the KL normalizer
    "text_kl_divergence",
    # 1-row max-day frame broadcast to clamp the WAU fanout edge
    "window_rolling_active_users",
    # three 1-row count frames crossed into the final metrics row
    "pipeline_minhash_eval",
    # 1-row summary × 1-row entropy frame — the dataset-card join
    "pipeline_dataset_card",
    # 1-row (mu, sd) frame broadcast onto the events scan
    "window_cusum_drift",
    # 1-row n_langs frame broadcast onto the anchors
    "sample_negative_sampling",
    # four (n_rows × n_unmatched) 1-row count frames crossed per relation
    "dq_referential_integrity",
    # 1-row unigram-total × 1-row pair-total frames crossed into PMI
    "text_collocation_pmi",
    # 1-row before-stats × 1-row after-stats frames crossed into the
    # single tokenizer-application summary row
    "text_bpe_apply",
    # same 1-row before-agg × 1-row after-agg cross as text_bpe_apply
    "text_wordpiece_apply",
    # 1-row summary × 1-row distinct-piece-count frame — the unigram
    # tokenizer-application summary row
    "text_unigram_apply",
    # per feature, a 1-row (n_ref, n_cur, nb) totals frame broadcast
    # onto the <=B-row bin-count frame
    "dq_psi_drift",
    # 5-row class/prior frames and a 1-row vocab-size frame crossed
    # onto the vocab grid and the test docs
    "ml_naive_bayes",
    # 1-row reference-domain vocab total crossed into the smoothed
    # bigram logprob (both LM keys share the estimator)
    "text_ngram_lm_train",
    "text_perplexity_filter",
    # 1-row (n_raw, n_target) totals frame crossed into the 128-row
    # hashed-bucket log-ratio table
    "sample_dsir",
    # inherits text_perplexity_filter's 1-row vocab cross for its
    # perplexity stage
    "pipeline_filter_funnel",
    # broadcast(5 query rows) × corpus pass for the truncated-dim
    # coarse stage — the sim_cosine_topk brute-force shape
    "sim_truncated_topk",
    # broadcast(≤K selected rows) × corpus pass per greedy round —
    # bounded by the coreset size by construction
    "sample_kcenter_coreset",
    # three 1-row u-probability frames crossed into the pair scorer
    "er_fellegi_sunter",
    # deliberate broadcast cross of the EVAL-SLICE vectors (a benchmark
    # suite — tiny by contract, the dedup_decontaminate posture): the
    # exact small-side screen is the decontamination production shape
    "dedup_decontaminate_semantic",
    # inherits pipeline_filter_funnel's 1-row vocab cross through
    # funnel_stage_ids (the survivor frame it scores)
    "pipeline_quality_classifier",
}

# Keys whose BUILDER performs an eager side effect (sink write or a
# full streaming drain) before returning a trivial read-back aggregate:
# sweeping their plans would re-run the whole round-trip per test for a
# frame with no join surface. Their correctness is gated by
# test_oracle_parity; nothing cartesian can hide in a groupBy-over-scan.
_EAGER_ROUNDTRIP_KEYS = {
    name
    for name in all_queries()
    if name.startswith(("sink_", "stream_")) or name in {
        "scan_csv_infer", "scan_json_lines", "scan_text_lines",
        "scan_csv_malformed", "scan_binary_files", "scan_schema_evolution",
        "scan_observe_metrics", "scan_jsonl_corrupt", "scan_fixed_width",
        "join_dynamic_partition_pruning",
    }
}


@pytest.mark.parametrize(
    "name", registry_sample(set(all_queries()) - _EAGER_ROUNDTRIP_KEYS)
)
def test_no_cartesian_anywhere(spark, name):
    """Every registered key's physical plan must be free of cartesian
    products and nested-loop joins — the two shapes that are silently
    fine at sf0.001 and fatal at 100 TB. Sweeps the WHOLE registry so
    a new key can't ship with an accidental cross join; the only
    exemptions are nested loops whose broadcast side is bounded by
    construction (_BOUNDED_BNLJ_OK)."""
    s = _plan(spark, name)
    if name not in _BOUNDED_BNLJ_OK:
        assert "CartesianProduct" not in s
        assert "BroadcastNestedLoopJoin" not in s


def test_unigram_logprob_never_hints_vocabulary_broadcast(spark):
    """The corpus vocabulary (freq frame) is unbounded at web scale —
    it must NOT carry a broadcast hint on the per-token join (a hint
    forces the OOM at real vocab sizes; the planner is still free to
    broadcast adaptively when runtime stats say it fits, which is why
    we pin the optimized logical plan, not the executed one). The only
    permitted hint is on the 1-row grand-total crossJoin."""
    df = all_queries()["text_unigram_logprob"](spark, SF)
    o = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in o.splitlines() if "Join" in ln]
    token_joins = [ln for ln in joins if "Join Inner" in ln]
    assert token_joins and all("broadcast" not in ln for ln in token_joins)
    # exactly one broadcast hint total: the single-row total frame
    assert o.count("strategy=broadcast") == 1


def test_contamination_broadcasts_benchmark_not_corpus(spark):
    """The benchmark shingle set (tiny by construction) is broadcast;
    the corpus side of the join must NOT be exchanged — at 100 TB the
    corpus shingles are unbounded while eval suites stay small."""
    s = _plan(spark, "dedup_contamination_ngram")
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_ngram_topk_pushes_window_group_limit(spark):
    s = _plan(spark, "text_ngram_topk")
    assert "WindowGroupLimit" in s  # top-10 limits before full window eval


def test_pii_scrub_is_scan_only(spark):
    """PII redaction is a linear projection — any Exchange in its plan
    means someone added an accidental shuffle to a map-only job."""
    s = _plan(spark, "text_pii_scrub")
    assert "Exchange" not in s


def test_minhash_pairs_no_global_cache_interleaving(spark):
    """Two interleaved minhash_candidate_pairs calls must not disturb
    each other's materialized bands frame (regression: a module-global
    persist cache used to unpersist call 1's frame when call 2 ran)."""
    from mercurygate_spark.operators.dedup import minhash_candidate_pairs
    from mercurygate_spark.queries.registry import load_tables

    docs = load_tables(spark, SF, "documents")["documents"]
    p1 = minhash_candidate_pairs(docs.limit(40), "doc_id")
    p2 = minhash_candidate_pairs(docs.limit(80), "doc_id")  # would evict p1's cache
    c2 = p2.count()
    c1 = p1.count()  # collected AFTER p2 was built and run
    assert c1 == minhash_candidate_pairs(docs.limit(40), "doc_id").count()
    assert c2 == minhash_candidate_pairs(docs.limit(80), "doc_id").count()


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    """The engine's year_month bronze layout must prune: a filter on
    the partition column shows up as PartitionFilters and only the
    matching directory is scanned (reference's manual path pruning,
    SURVEY.md §4, done by Catalyst instead)."""
    from mercurygate_spark.functions import month_bucket
    from mercurygate_spark.io.writers import write_parquet_partitioned

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    path = str(tmp_path / "orders_part")
    write_parquet_partitioned(
        orders.withColumn("year_month", month_bucket("o_orderdate")),
        path,
        partition_by=["year_month"],
    )
    df = spark.read.parquet(path).where(F.col("year_month") == "1997-03")
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s and "1997-03" in s
    full = spark.read.parquet(path)
    expected = full.where(F.col("year_month") == "1997-03").count()
    assert df.count() == expected and expected > 0


def _last_execution_plan(spark) -> list[str]:
    """Node descriptions of the final (post-AQE) physical plan of the
    session's most recent SQL execution — how a write's plan is seen,
    since ``DataFrameWriter`` returns no DataFrame to explain."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    nodes = store.planGraph(execs.apply(execs.size() - 1).executionId()).allNodes()
    return [nodes.apply(i).desc() for i in range(nodes.size())]


def test_partitioned_write_clusters_by_partition_column(spark, tmp_path):
    """A partitioned write hash-partitions on the partition column into
    defaultParallelism partitions — its only shuffle — and sorts
    within them: each year_month is one task's one file, the files are
    spread over the cores, and a task holds one open writer at a time."""
    from mercurygate_spark.functions import month_bucket
    from mercurygate_spark.io.writers import write_parquet_partitioned

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    write_parquet_partitioned(
        orders.withColumn("year_month", month_bucket("o_orderdate")),
        str(tmp_path / "orders_part"),
        partition_by=["year_month"],
    )
    plan = _last_execution_plan(spark)
    assert any(d.startswith("Execute InsertIntoHadoopFsRelationCommand") for d in plan)
    exchanges = [d for d in plan if d.startswith("Exchange")]
    n = spark.sparkContext.defaultParallelism
    assert len(exchanges) == 1, exchanges
    assert re.match(rf"Exchange hashpartitioning\(year_month#\d+, {n}\)", exchanges[0])
    assert any(re.match(r"Sort \[year_month#\d+ ASC", d) for d in plan), plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located fact⋈fact: both sides bucketed by the join key into
    the same bucket count → SortMergeJoin with ZERO Exchange. This is
    the write-once-shuffle-never plan for repeated 100 TB joins."""
    from mercurygate_spark.io.bucketing import read_table, write_bucketed

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    write_bucketed(orders, "orders_b", "o_orderkey", 4, sort_by="o_orderkey")
    write_bucketed(lineitem, "lineitem_b", "l_orderkey", 4, sort_by="l_orderkey")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would broadcast; disable so the plan shows
        # the bucketed SMJ path a real fact⋈fact would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_table(spark, "orders_b").join(
            read_table(spark, "lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        s = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in s
        assert "Exchange" not in s  # the whole point of bucketing
        # and the result is still correct
        assert j.count() == lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_incremental_dedup_index_side_never_shuffles(spark):
    """dedup_incremental_index's 100 TB contract: the persisted band
    index is bucketed on the join key, so probing a new batch never
    re-shuffles (or re-scans more than) the corpus index. With
    broadcast disabled (forcing the SMJ path a 100 TB batch would
    take), the ONLY bk-keyed Exchange in the plan must be the probe
    side; the index side reads its bucketed layout directly."""
    import os

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = _plan(spark, "dedup_incremental_index")
        assert "Bucketed: true" in s and "SelectedBucketsCount: 8 out of 8" in s
        assert "SortMergeJoin" in s
        # exactly one shuffle on the join key — the probe batch; a
        # second would mean the index's bucketing went unused
        assert s.count("Exchange hashpartitioning(bk") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS mg_dedup_band_index_{os.getpid()}")


def test_incremental_append_keeps_bucketed_layout(spark):
    """dedup_incremental_append's index-maintenance contract: AFTER
    the batch-1 bands are appended, the grown index must still read
    as a bucketed table (Bucketed: true) and the only bk-keyed
    Exchange under the forced-SMJ probe must be the probe side —
    an append that silently dropped the bucket spec would turn every
    future probe into a full corpus shuffle."""
    import os

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = _plan(spark, "dedup_incremental_append")
        assert "Bucketed: true" in s and "SelectedBucketsCount: 8 out of 8" in s
        assert s.count("Exchange hashpartitioning(bk") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(
            f"DROP TABLE IF EXISTS mg_dedup_band_index_append_{os.getpid()}"
        )


def test_cms_probe_broadcasts_sketch(spark):
    """The CMS counter grid (≤ D×W rows by construction) must reach the
    probe join as a broadcast — shuffling probes against it would add a
    pointless exchange on the corpus-derived side."""
    s = _plan(spark, "agg_count_min_sketch")
    assert "BroadcastHashJoin" in s


def test_bloom_bit_table_broadcasts(spark):
    """The Bloom set-bit table (≤ M_BITS rows) must broadcast to the
    corpus probe — the corpus side is scanned once and only aggregated
    on its own key, never shuffled against the bits."""
    s = _plan(spark, "dedup_bloom_prefilter")
    assert "BroadcastHashJoin" in s


def test_salted_agg_is_two_hash_aggregates(spark):
    """Salted aggregation must show the two-phase shape: partial+final
    hash agg on (key, salt), then a second partial+final on key — four
    HashAggregate nodes total, and no single exchange keyed on the bare
    hot key before the salted phase."""
    s = _plan(spark, "agg_salted_skew")
    assert s.count("HashAggregate") >= 4


def test_repetition_ratio_single_tokenize_eval(spark):
    """Pins let1's once-per-row guarantee (ADVICE r5): the repetition
    query filters on trigram stats derived from a regex tokenize, and
    Catalyst's alias substitution would otherwise re-evaluate the
    split per reference (per array element, once inside a lambda) —
    the r4 25 s blowup. let1 binds it through a higher-order-function
    lambda variable, which today has no inlining rewrite. If a future
    optimizer rule learns to inline transform(array(e), f)[0], this
    counts the regexp splits in the optimized plan and fails before
    the perf cliff ships."""
    df = all_queries()["text_repetition_ratio"](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    n_splits = opt.count("split(")
    assert n_splits == 1, f"tokenize evaluated {n_splits}× in optimized plan"


def test_pack_sequences_prefix_sum_is_sharded(spark):
    """pipeline_pack_sequences must compute the global token offset as
    a two-phase prefix sum: the corpus-sized window runs partitioned
    on the md5 shard (parallel shuffle), and the only single-partition
    exchange is fed by a HashAggregate (the 16 shard totals), never by
    corpus rows. A refactor to a naive global Window.orderBy would
    drag the whole corpus through one task — the 100 TB cliff this
    test exists to prevent."""
    s = _plan(spark, "pipeline_pack_sequences")
    assert "hashpartitioning(shard" in s  # corpus window is sharded
    chunks = s.split("Exchange SinglePartition")
    assert len(chunks) == 2, "expected exactly one single-partition exchange"
    below = chunks[1]
    agg_pos = below.find("HashAggregate")
    scan_pos = below.find("FileScan")
    assert agg_pos != -1 and agg_pos < scan_pos, (
        "single-partition exchange must consume the shard-total aggregate, "
        "not corpus rows"
    )


def test_bucketed_join_has_no_join_exchange(spark):
    """join_bucketed_colocated: both sides bucketBy(8, key) → the
    sort-merge join must read buckets in place. Exactly ONE Exchange
    in the whole plan (the final small aggregation); none between the
    scans and the join."""
    s = _plan(spark, "join_bucketed_colocated")
    assert "SortMergeJoin" in s
    assert s.count("Exchange") == 1
    # the one Exchange is ABOVE the join: nothing between SMJ and scans
    join_part = s[s.index("SortMergeJoin"):]
    assert "Exchange" not in join_part
    assert "Bucketed: true" in s or "SelectedBucketsCount" in s


def test_tfidf_never_hints_vocabulary_broadcast(spark):
    """tf×df rejoin is keyed on term — the df side is |vocab| rows,
    unbounded at web scale, so it must NOT carry a broadcast hint
    (AQE may still broadcast adaptively when stats fit). The only
    hint is the 1-row corpus-count frame; the final top-3 must push
    a WindowGroupLimit so no full per-doc sort happens."""
    df = all_queries()["text_tfidf_topk"](spark, SF)
    o = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in o.splitlines() if "Join Inner" in ln]
    assert joins and all("broadcast" not in ln for ln in joins)
    assert o.count("strategy=broadcast") == 1
    s = _plan(spark, "text_tfidf_topk")
    assert "WindowGroupLimit" in s


def test_pagerank_iteration_shape_pre_checkpoint(spark):
    """The checkpointed loop's executed plan truncates to a scan, so
    the registry-wide cartesian sweep can't see inside pagerank. Pin
    the PRE-checkpoint iteration body instead: an equi hash/sort-merge
    join plus a partial+final aggregate, and never a cartesian or
    nested-loop join."""
    from mercurygate_spark.operators.graph import pagerank_iteration

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], ["src", "dst", "d"]
    )
    ranks = spark.createDataFrame([("a", 1.0), ("b", 1.0)], ["node", "pr"])
    plan = (
        pagerank_iteration(e, ranks)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan and "HashAggregate" in plan


def test_pipe_syntax_compiles_to_same_plan_as_ansi(spark):
    """The |> pipe form is pure syntax: its OPTIMIZED plan must be
    operator-identical (up to expression ids) to the ANSI form of the
    same query — if the pipe path ever planned differently (extra
    projection barrier, lost pushdown), this catches it."""
    import re

    from mercurygate_spark.queries.registry import REGISTRY

    pipe_df = REGISTRY["sql_pipe_syntax"].fn(spark, SF)
    # EXTEND names the derived column, so the comparable ANSI form
    # derives it in a subquery under the same name.
    ansi_df = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n_items,
               floor(sum(disc_price) * 100 + 0.5) / 100 AS revenue,
               floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty
        FROM (SELECT *, l_extendedprice * (1 - l_discount) AS disc_price
              FROM lineitem
              WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00')
        GROUP BY l_returnflag, l_linestatus
        HAVING count(*) > 10
        """
    )

    def norm(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "#x", s)

    assert norm(pipe_df) == norm(ansi_df)


def test_hll_partial_merge_is_object_hash_agg_cascade(spark):
    """The sketch cascade must stay a two-level typed aggregation:
    ObjectHashAggregate (sketch buffers aren't codegen rows) at both
    levels, shuffles keyed on the group columns — and the whole plan
    must never expand distinct values (the expensive exact shape)."""
    s = _plan(spark, "agg_hll_partial_merge")
    assert "ObjectHashAggregate" in s
    assert "hll_union_agg" in s or "hll_sketch_agg" in s


def test_clustered_range_write_uses_range_partitioning(spark):
    """The clustered sink's write-side frame must carry a
    rangepartitioning exchange (sampling-based global range split) +
    in-partition Sort and NO global sort — the layout that scales to
    arbitrary file counts."""
    from mercurygate_spark.queries.registry import load_tables

    t = load_tables(spark, SF, "lineitem")
    df = (
        t["lineitem"]
        .select("l_orderkey", "l_shipdate", "l_extendedprice")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate", "l_orderkey")
    )
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in s
    # Sort.toString renders the global flag positionally: "], false, 0"
    # is an in-partition sort, "], true, 0" a global one.
    assert "Sort [l_shipdate" in s and "], false, 0" in s
    assert "], true, 0" not in s


def test_sequence_pattern_single_shuffle_no_window(spark):
    """Sequence encoding must be one groupBy shuffle with in-group
    array_sort — no window operator, no global sort (the naive
    encoding via a global ORDER BY would serialize the table)."""
    s = _plan(spark, "agg_sequence_pattern")
    assert s.count("Exchange") <= 2  # agg shuffle (+AQE read)
    assert "Window" not in s
    assert "Sort [ts" not in s


def test_runtime_bloom_filter_injected(spark):
    """join_runtime_bloom_filter's claim: with the thresholds set, the
    selective side's keys become a runtime bloom_filter_agg and the
    fact scan gains a might_contain() pre-filter BEFORE the join
    shuffle. The key materializes through localCheckpoint (so the
    sweepable plan is a checkpoint scan); this test rebuilds the join
    under the same confs and pins the injection in the live plan."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        from mercurygate_spark.queries.registry import load_tables

        t = load_tables(spark, SF, "lineitem", "orders")
        big = t["orders"].where(F.col("o_totalprice") > 300000)
        j = (
            t["lineitem"]
            .join(big, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .count()
        )
        s = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in s
        assert "bloom_filter_agg" in s
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark):
    """join_dynamic_partition_pruning's claim: the fact scan over the
    year-partitioned layout carries a DynamicPruning subquery on
    o_year (broadcast-reuse DPP), so only the dim-selected year
    directories are read. Pinned in the executed plan — losing this
    is invisible at sf0.001 and a full-table scan at 100 TB."""
    from mercurygate_spark.queries.star import (
        dpp_join,
        write_orders_partitioned_by_year,
    )

    path = write_orders_partitioned_by_year(spark, SF)
    s = dpp_join(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in s.lower()


def test_star_multijoin_broadcasts_constant_dims(spark):
    """agg_star_multijoin: region and nation join as broadcast-hash
    (constant-size dims); the date filter reaches the orders scan as a
    pushed predicate rather than a post-scan Filter."""
    s = _plan(spark, "agg_star_multijoin")
    assert s.count("BroadcastHashJoin") >= 2
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in s


def test_ohlc_is_partial_aggregable_no_window(spark):
    """ts_ohlc_bars' claim: the whole bar computes as ONE partially-
    aggregable groupBy (min_by/max_by combine map-side) — no Window
    operator, no per-partition sort, exactly one shuffle. Regressing
    to the window formulation would shuffle every tick at 100 TB."""
    s = _plan(spark, "ts_ohlc_bars")
    assert "Window" not in s
    assert s.count("Exchange") == 1


def test_pct_of_total_scans_fact_once(spark):
    """agg_pct_of_total's claim: the denominator windows over the
    3-row aggregate output, so the fact table is scanned exactly once
    and the only global-window input is the bounded group frame.
    Regressing to a separate total aggregate doubles the 100 TB read;
    regressing to a raw-row window drags the table through one task."""
    s = _plan(spark, "agg_pct_of_total")
    assert s.count("Scan parquet") == 1
    assert "Window" in s


# ---------------------------------------------------------------------------
# Bounded-global-window allowlist (VERDICT r8 #4): a Window with an
# EMPTY partition spec serializes its whole input through ONE task —
# fine on a frame bounded by a grouping domain (calendar days, month
# count, language count), fatal on a fact-sized frame at 100 TB. Same
# doctrine as the BNLJ allowlist above: every global window must (a)
# be on this list with its bound stated, and (b) PROVE the bound on
# the plan — descending from the window's input through pass-through
# operators must reach an Aggregate (or bounded local relation) before
# any leaf scan, i.e. the input is a post-aggregation frame. A new
# global-window site fails by default.
_BOUNDED_GLOBAL_WINDOW_OK = {
    # top-K heavy hitters over the per-key count frame (≤ NDV rows)
    "agg_heavy_hitters",
    # share-of-total over the per-group agg (≤ group-domain rows)
    "agg_pct_of_total",
    # per-source quota walk over the per-source count frame
    "pipeline_corpus_mixture",
    # shard-offset prefix sum over the per-shard totals (≤ N_SHARDS)
    "pipeline_pack_sequences",
    # same shard-offset prefix sum, over the POST-BPE token counts
    "text_tokenize_e2e",
    # per-lang offsets over the per-language count frame
    "sample_mixture_rebalance",
    # language index over the per-language count frame
    "sample_negative_sampling",
    # temperature weights over the per-language count frame
    "sample_temperature_mixture",
    # running token budget over the per-language totals frame
    "sample_token_budget",
    # the same per-language plan windows, feeding the epoch explode
    "sample_epoch_schedule",
    # inherits text_tokenize_e2e's shard-offset prefix sum (≤ 16 shard
    # totals) and sample_epoch_schedule's per-language plan windows;
    # the curation stages sit behind localCheckpoint boundaries
    "pipeline_llm_corpus_e2e",
    # 7-day rolling median over the per-day agg (≤ calendar days)
    "window_moving_median",
    # final-vocab ranking over the piece-usage agg (≤ Σ 36^l pieces)
    "text_unigram_train",
}

_GLOBAL_WINDOW_PASS_THROUGH = {
    "Project", "Filter", "Sort", "GlobalLimit", "LocalLimit",
    "SubqueryAlias", "Window", "WindowGroupLimit",
    "RepartitionByExpression", "Repartition", "Deduplicate", "Distinct",
}


def _walk_logical(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_logical(ch.apply(i))


def _bounded_window_input(node) -> bool:
    """True iff this subtree is a post-aggregation frame: descending
    through pass-through unary operators (and requiring BOTH sides of
    any join to qualify) reaches an Aggregate or a bounded local
    relation before any leaf scan."""
    cls = node.getClass().getSimpleName()
    if cls == "Aggregate" or cls in ("LocalRelation", "OneRowRelation"):
        return True
    if cls == "Join":
        ch = node.children()
        return all(_bounded_window_input(ch.apply(i)) for i in range(ch.size()))
    if cls in _GLOBAL_WINDOW_PASS_THROUGH:
        ch = node.children()
        if ch.size() == 1:
            return _bounded_window_input(ch.apply(0))
    return False


@pytest.mark.parametrize(
    "name", registry_sample(set(all_queries()) - _EAGER_ROUNDTRIP_KEYS)
)
def test_global_windows_bounded_by_aggregation(spark, name):
    df = all_queries()[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _walk_logical(plan):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            assert name in _BOUNDED_GLOBAL_WINDOW_OK, (
                f"{name} has a global (partition-less) Window not on the "
                "bounded allowlist — a fact-sized input would serialize "
                "through one task at 100 TB; partition it or prove the "
                "bound and allowlist it"
            )
            assert _bounded_window_input(node.children().apply(0)), (
                f"{name}: global Window input is not provably a "
                "post-aggregation frame on the plan"
            )


def test_claimant_leaderboard_global_window_is_post_agg(spark):
    """The gold-layer leaderboard (not a registry key — exercised by
    test_gold_claims) ranks over the per-claimant aggregate; pin the
    same bounded-global-window contract on it directly."""
    from mercurygate_spark.queries.gold_claims import claimant_leaderboard

    claim = spark.createDataFrame(
        [("a", 10.0), ("a", 5.0), ("b", 1.0)], ["claim_ant", "total_amount"]
    )
    df = claimant_leaderboard(claim, top_n=2)
    plan = df._jdf.queryExecution().optimizedPlan()
    found = False
    for node in _walk_logical(plan):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            found = True
            assert _bounded_window_input(node.children().apply(0))
    assert found, "leaderboard lost its ranking window?"


def test_index_compact_keeps_bucketed_probe(spark):
    """dedup_index_compact's maintenance contract: AFTER the append
    and the compaction rewrite, the index must still read as a
    bucketed table with the probe as the only bk-keyed Exchange
    (forced-SMJ path), and the rewrite must leave exactly one file
    per bucket — compaction that silently dropped the bucket spec
    would re-shuffle the corpus on every future probe; one that kept
    multi-file buckets didn't bound scan I/O."""
    import os

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = _plan(spark, "dedup_index_compact")
        assert "Bucketed: true" in s and "SelectedBucketsCount: 8 out of 8" in s
        assert s.count("Exchange hashpartitioning(bk") == 1
        n_files = len(
            spark.table(f"mg_dedup_band_index_compact_{os.getpid()}").inputFiles()
        )
        assert n_files == 8, f"compaction left {n_files} files, want 8"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(
            f"DROP TABLE IF EXISTS mg_dedup_band_index_compact_{os.getpid()}"
        )


def test_ivfpq_prunes_lists_via_broadcast(spark):
    """sim_ivfpq_topk's 100 TB contract: the probed-list pruning is a
    BROADCAST inner join of the tiny (n_queries × n_probe) probe frame
    onto the index — the index never shuffles for candidate selection,
    and no sort-merge join (which would exchange the corpus-derived
    side) appears anywhere."""
    s = _plan(spark, "sim_ivfpq_topk")
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_ivfpq_persisted_index_side_never_shuffles(spark):
    """sim_ivfpq_persisted_probe's serving contract: the persisted
    codes index is read through its bucketed layout and NEVER
    exchanged — the tiny (n_queries × n_probe) probe frame carries an
    explicit broadcast hint, so even with the adaptive broadcast
    threshold disabled the pruning join is a BroadcastHashJoin
    building on the probe side and the index's only movement is the
    scan itself. Zero centroid_id-keyed Exchange anywhere."""
    import os

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = _plan(spark, "sim_ivfpq_persisted_probe")
        assert "Bucketed: true" in s and "SelectedBucketsCount: 8 out of 8" in s
        assert "BroadcastHashJoin" in s and "BuildRight" in s
        assert s.count("Exchange hashpartitioning(centroid_id") == 0
        assert "SortMergeJoin" not in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS mg_ivfpq_index_{os.getpid()}")


def test_ivfpq_incremental_append_keeps_bucketed_layout(spark):
    """sim_ivfpq_incremental_append's maintenance contract: AFTER the
    frozen-quantizer batch append, the grown codes table still reads
    as a bucketed table probed by the broadcast-hinted query frame
    with ZERO centroid_id-keyed Exchange — an append that dropped the
    bucket spec would turn every future probe into an index shuffle."""
    import os

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = _plan(spark, "sim_ivfpq_incremental_append")
        assert "Bucketed: true" in s and "SelectedBucketsCount: 8 out of 8" in s
        assert s.count("Exchange hashpartitioning(centroid_id") == 0
        assert "SortMergeJoin" not in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS mg_ivfpq_incr_{os.getpid()}")


def test_ivfpq_reindex_swap_postswap_probe_stays_bucketed(spark):
    """sim_ivfpq_reindex_swap's lifecycle contract: AFTER the retrain +
    re-encode + two-rename atomic swap, the LIVE table name still reads
    as a bucketed table (the staging write carried the bucket spec
    through the rename), probed by the broadcast-hinted query frame
    with ZERO centroid_id-keyed Exchange — a swap that lost the bucket
    spec would silently turn every post-retrain probe into an index
    shuffle. Also pins that the swap left no residue: neither the
    __new staging name nor the __old rename victim survives."""
    import os

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    name = f"mg_ivfpq_swap_{os.getpid()}"
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = _plan(spark, "sim_ivfpq_reindex_swap")
        assert "Bucketed: true" in s and "SelectedBucketsCount: 8 out of 8" in s
        assert s.count("Exchange hashpartitioning(centroid_id") == 0
        assert "SortMergeJoin" not in s
        assert not spark.catalog.tableExists(f"{name}__new")
        assert not spark.catalog.tableExists(f"{name}__old")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_vector_ingest_probe_bucketed_postappend(spark):
    """pipeline_vector_ingest's serving plan contract: the post-append
    probe reads the grown index through its bucketed layout with zero
    centroid_id-keyed Exchange (the contract shared with the append
    key). The gate's shuffle shape is pinned separately below — the
    gate runs at index-BUILD time, so it never appears in the probe
    plan this key returns."""
    import os

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s = _plan(spark, "pipeline_vector_ingest")
        assert "Bucketed: true" in s and "SelectedBucketsCount: 8 out of 8" in s
        assert s.count("Exchange hashpartitioning(centroid_id") == 0
        assert "SortMergeJoin" not in s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS mg_vector_ingest_{os.getpid()}")


def test_vector_ingest_gate_shuffles_keys_not_vectors(spark):
    """The ingest dedup gate's anti-join must exchange 32-byte content
    keys, not 256-byte embeddings: the corpus side of the LeftAnti is
    projected to the md5 key BEFORE its Exchange (the dedup-family
    'shuffle hashes, not payloads' contract). Built on the same frames
    the key builds, forced to SMJ so the shuffle is visible."""
    import re

    from mercurygate_spark.operators.similarity import QUANT

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.where(F.col("vec_id") % 5 != 0)
    batch = e.where(F.col("vec_id") % 5 == 0)

    def content_key(col):
        return F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    col.cast("array<double>"),
                    lambda x: F.floor(x * QUANT + F.lit(0.5))
                    .cast("long")
                    .cast("string"),
                ),
            )
        )

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        gated = (
            batch.withColumn("ck", content_key(F.col("embedding")))
            .join(
                corpus.select(content_key(F.col("embedding")).alias("ck")),
                "ck",
                "left_anti",
            )
            .drop("ck")
        )
        s = gated._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in s
        # the corpus-side exchange's child projects only the key
        exchanges = re.findall(
            r"Exchange hashpartitioning\(ck#\d+.*?(?=\n)", s
        )
        assert exchanges, s
        # corpus side: between its Exchange and its scan there must be a
        # projection to [ck] alone (no embedding column crosses the wire)
        corpus_side = s.split("LeftAnti")[1]
        proj = re.search(r"Project \[md5\(.*?\) AS ck#\d+\]", corpus_side)
        assert proj is not None, corpus_side[:800]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)


def test_substring_dedup_shuffles_hashes_not_text(spark):
    """dedup_substring_exact's 'shuffle hashes, never text' contract
    (the dedup-family doctrine): the overlapping k-gram generation
    (Generate explode) happens MAP-SIDE below the gram exchange, the
    gram exchange's child projects exactly (doc_id, pos, h) — no text
    or token-array column crosses the wire — and the per-doc run-merge
    exchange carries only (doc_id, pos)."""
    import re

    s = _plan(spark, "dedup_substring_exact")
    i_h = s.index("Exchange hashpartitioning(h#")
    assert s.index("Generate explode") > i_h  # grams built below the shuffle
    m = re.search(
        r"Exchange hashpartitioning\(h#\d+[^\n]*\n\s*\+- Project \[([^\]]*)\]", s
    )
    assert m, s
    gram_cols = m.group(1)
    assert "text#" not in gram_cols and "tk#" not in gram_cols, gram_cols
    assert "doc_id#" in gram_cols and "pos#" in gram_cols and "h#" in gram_cols
    m2 = re.search(
        r"Exchange hashpartitioning\(doc_id#\d+[^\n]*\n\s*\+- Project \[([^\]]*)\]", s
    )
    assert m2, s
    run_cols = m2.group(1)
    assert "text#" not in run_cols and "h#" not in run_cols, run_cols


def test_filtered_ann_adds_no_exchange_over_plain_ivf(spark):
    """sim_filtered_topk's contract: the metadata predicate rides the
    SAME Arrow assignment pass (ivf_assign extra_cols) and merely
    widens the probe join's equi-key — so the filtered plan has
    exactly as many Exchanges as the unfiltered IVF plan. A regression
    that joins the label back onto the assignment (a second corpus
    shuffle) fails this count."""
    plain = _plan(spark, "sim_cosine_ivf")
    filtered = _plan(spark, "sim_filtered_topk")
    n_plain = plain.count("Exchange ")
    n_filtered = filtered.count("Exchange ")
    assert n_filtered == n_plain, (n_filtered, n_plain)
    # and the probe join's key includes label (pre-filter, not post)
    assert "label" in filtered.split("Window")[-1] or "label#" in filtered


def test_gopher_filter_is_scan_only(spark):
    """Gopher rule filtering is a linear projection over one corpus
    scan — any Exchange means an accidental shuffle landed in the
    cheapest operator class the engine has."""
    s = _plan(spark, "text_gopher_filter")
    assert "Exchange" not in s
    assert "mapInPandas" not in s.lower()  # pure codegen, no Python


def test_ngram_lm_never_hints_vocabulary_broadcast(spark):
    """The LM count frames (bigram and context counts) are unbounded
    at web scale — neither the train key's context join nor the
    scorer's two LM joins may carry a broadcast HINT (AQE is still
    free to broadcast when runtime stats fit — that's the point of
    not hinting). The only permitted hint per key is the 1-row vocab
    total."""
    from mercurygate_spark.queries.registry import REGISTRY

    for key in ("text_ngram_lm_train", "text_perplexity_filter"):
        df = REGISTRY[key].fn(spark, SF)
        o = df._jdf.queryExecution().optimizedPlan().toString()
        assert o.count("strategy=broadcast") == 1, (key, o.count("strategy=broadcast"))


def test_dsir_broadcasts_ratio_table_not_corpus(spark):
    """DSIR's per-occurrence join keys the corpus-sized hashed-bigram
    frame against the 128-row bucket log-ratio table: the ratio side
    broadcasts (BroadcastHashJoin on bucket), and the corpus side must
    never be exchanged for that join — the only corpus-sized shuffle
    is the per-doc reduce."""
    s = _plan(spark, "sample_dsir")
    assert "BroadcastHashJoin" in s
    # bucket-keyed exchanges exist only inside the 128-row count
    # cascades: each must feed a partial_count HashAggregate, and no
    # bucket exchange may carry the corpus-sized (doc_id) frame
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(bucket#\d+[^\n]*\n\s*\+- ([^\n]*)", s):
        child = m.group(1)
        assert "HashAggregate" in child and "partial_count" in child, child
        assert "doc_id" not in child, child


def test_range_search_candidates_are_bucket_join_not_cross(spark):
    """sim_range_search generates candidates by the LSH bucket
    equi-join — a SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin on
    bucket, never a cartesian or a per-query corpus scan."""
    s = _plan(spark, "sim_range_search")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "bucket" in s


def test_phash_dedup_decodes_once_and_shuffles_hashes(spark):
    """multimodal_phash_dedup's contract: the PNG decode+hash Arrow
    pass runs exactly ONCE (the halves frame is checkpointed before
    the band self-join — otherwise each join branch would re-decode
    every image), and the shuffles carry only doc ids + 8-byte hash
    halves, never pixel data."""
    s = _plan(spark, "multimodal_phash_dedup")
    assert "mapInPandas" not in s.lower()  # decode happened at build, once
    assert "ExistingRDD" in s or "Scan" in s  # reads the checkpoint
    assert "text#" not in s and "phash#" not in s  # hashes-as-longs only


def test_funnel_stages_share_one_gopher_frame_shape(spark):
    """pipeline_filter_funnel composes the pinned stage shapes: the
    tercile window stays lang-partitioned (no global unpartitioned
    window) and the dedup reduce keys on the 16-byte fingerprint."""
    s = _plan(spark, "pipeline_filter_funnel")
    assert "windowspecdefinition(lang" in s.replace(" ", "").lower() or "partitionBy" not in s
    assert "CartesianProduct" not in s


def test_scaled_lsh_keys_are_bucket_join_not_cross(spark):
    """The occupancy-dialed twins keep the fixed-plane keys' plan
    contract: candidates via the bucket equi-join, never a cartesian —
    and the count-derived plane width changes only the KEY, not the
    join strategy."""
    for key in ("sim_range_search_scaled", "sim_knn_graph_scaled"):
        s = _plan(spark, key)
        assert "CartesianProduct" not in s, key
        assert "BroadcastNestedLoopJoin" not in s, key
        assert "bucket" in s, key


def test_decontaminate_membership_is_broadcast_no_cartesian(spark):
    """dedup_decontaminate's contract: the eval gram-set membership
    test is a BROADCAST left join (benchmark suites are tiny — the
    training corpus must not shuffle for it), and nothing cartesian
    hides anywhere."""
    s = _plan(spark, "dedup_decontaminate")
    assert "BroadcastHashJoin" in s, s[:2000]
    assert "CartesianProduct" not in s
    assert "SortMergeJoin" not in s


def test_pii_redact_is_shuffle_free_map_pass(spark):
    """text_pii_redact must be a pure map-only projection — inject,
    count, redact, fingerprint all in one codegen stage with ZERO
    exchanges (the cheapest possible 100 TB shape)."""
    s = _plan(spark, "text_pii_redact")
    assert "Exchange" not in s, s[:2000]
    # codegen stage marker: "WholeStageCodegen" in formatted mode,
    # the "*(n)" prefix in simple mode — accept either
    assert "WholeStageCodegen" in s or "*(" in s


def test_ivf_graph_scores_delta_only(spark):
    """VERDICT r12 next #3: the graph-ANN serve must score only the
    frontier DELTA each hop. The trace hook records the analyzed plan
    of every frame score() receives: exactly 1 + GRAPH_HOPS calls
    (entries once, then one per hop), and every hop call's input is
    the anti-join of new neighbors against the visited set — never the
    raw visited union the old shape re-scored."""
    from mercurygate_spark.operators.similarity import GRAPH_HOPS
    from mercurygate_spark.queries import similarity as sim

    sim._GRAPH_SCORE_TRACE = trace = []
    try:
        all_queries()["sim_ivf_graph_topk"](spark, SF).collect()
    finally:
        sim._GRAPH_SCORE_TRACE = None
    assert len(trace) == 1 + GRAPH_HOPS, len(trace)
    for hop_plan in trace[1:]:
        assert "LeftAnti" in hop_plan, hop_plan[:1500]


def test_silver_refresh_merge_is_one_pk_shuffle(spark, tmp_path):
    """The refresh merge ranks existing ∪ incoming per pk and takes the
    soft-delete presence from the same window: ONE Exchange, on the
    pk, and nothing else. A second window keyed differently, a
    pre-dedupe of the incoming batch or a key join for the soft-delete
    flag would each add a shuffle."""
    from datetime import datetime

    from mercurygate_spark.catalog import TABLES
    from mercurygate_spark.pipeline.silver import _merge_frame

    spec = TABLES["claim"]
    schema = "claim_number string, status_code string, updated_on timestamp, active string"
    path = str(tmp_path / "silver_claim")
    spark.createDataFrame(
        [("CLM-1", "OPEN", datetime(2026, 1, 1), "Y")], schema
    ).write.parquet(path)
    incoming = spark.createDataFrame(
        [("CLM-1", "CLOSED", datetime(2026, 1, 2), "Y"), ("CLM-2", "OPEN", datetime(2026, 1, 2), "Y")],
        schema,
    )
    pk = spec.primary_key[0]
    for soft_delete in (True, False):
        merged = _merge_frame(spark.read.parquet(path), incoming, spec, soft_delete)
        s = merged._jdf.queryExecution().executedPlan().toString()
        assert s.count("Exchange") == 1, s
        assert s.count(f"Exchange hashpartitioning({pk}") == 1, s
        assert s.count("Window ") == 1, s
