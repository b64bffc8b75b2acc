"""End-to-end LLM-corpus curation pipeline (north-star surface): the
composed query a pretraining-data user runs on day one —

    quality filter → exact dedup → transitive near-dup removal →
    deterministic train/val/test split

— as ONE oracle-checked key. Each stage is an operator that is already
individually oracle-checked (text_quality_score, dedup_exact,
dedup_connected_components, split_train_val_test); this key proves
they COMPOSE: stage N runs on exactly the survivors of stage N-1.

Scale shape: quality filter and fingerprinting are linear scans; the
exact-dedup shuffle moves (16-byte hash, id); minhash candidates are
band-bucketed (never all-pairs); connected components is O(log²)
rounds over candidate edges only; the split is a pure hash of the id.
No stage collects the corpus to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mercurygate_spark.operators.dedup import (
    connected_components,
    duck_connected_components_sql,
    duck_minhash_pairs_sql,
    minhash_candidate_pairs,
)
from mercurygate_spark.operators.text import fingerprint, quality_features
from mercurygate_spark.queries.registry import load_tables, query
from mercurygate_spark.queries.sampling import hash_bucket

# Quality gates (integer arithmetic only — exact on both engines):
# enough tokens to be text, and punctuation under 30% of characters.
MIN_TOKENS = 5
MAX_PUNCT_PCT = 30

_SURVIVORS_SQL = f"""
    WITH feat AS (
      SELECT doc_id, text,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
             length(text) AS char_len
      FROM documents
    ), quality AS (
      SELECT doc_id, text, n_tokens FROM feat
      WHERE n_tokens >= {MIN_TOKENS} AND n_punct * 100 <= char_len * {MAX_PUNCT_PCT}
    )
    SELECT doc_id, text, n_tokens FROM (
      SELECT *, row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               ORDER BY doc_id
             ) AS rn
      FROM quality
    ) WHERE rn = 1
"""

_PAIRS_OVER_SURVIVORS_SQL = (
    "SELECT id_a, id_b FROM ("
    + duck_minhash_pairs_sql(id_col="doc_id", table="(" + _SURVIVORS_SQL + ") __survivors")
    + ") WHERE n_shared_bands >= 2"
)


@query(
    "pipeline_corpus_curate",
    oracle=f"""
    WITH survivors AS (
      {_SURVIVORS_SQL}
    ), removed AS (
      SELECT node AS doc_id FROM (
        {duck_connected_components_sql(_PAIRS_OVER_SURVIVORS_SQL)}
      ) WHERE node <> component
    )
    SELECT s.doc_id,
           CASE WHEN ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80
                THEN 'train'
                WHEN ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split,
           s.n_tokens
    FROM survivors s
    WHERE s.doc_id NOT IN (SELECT doc_id FROM removed)
    """,
)
def pipeline_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation pipeline. Returns one row per
    SURVIVING document: (doc_id, split, n_tokens)."""
    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]

    # 1. quality gate (integer comparisons — no float boundary risk)
    feat = quality_features(docs, "text")
    quality = feat.where(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("n_punct") * 100 <= F.col("char_len") * MAX_PUNCT_PCT)
    )

    # 2. exact dedup: keeper = min doc_id per normalized-text fingerprint.
    # The survivor set feeds TWO consumers (minhash signatures + the
    # left_anti keep); materialize the LIGHTWEIGHT id frame once
    # (doc_id, n_tokens — no text; the funnel id-frame treatment, guide
    # §2.4) so neither consumer re-derives the quality-regex scan +
    # fingerprint window. A round-6 note rejected checkpointing the
    # TEXT rows (materializing text cost more than the re-scans); the
    # id frame avoids exactly that cost, and the signature branch
    # reattaches text with a doc_id join against the raw scan instead
    # of a second regex+window pass over the corpus.
    w = Window.partitionBy(fingerprint("text")).orderBy("doc_id")
    surv_ids = (
        quality.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("doc_id", "n_tokens")
        .localCheckpoint(eager=True)
    )

    # 3. transitive near-dup removal over the survivors only (text
    # reattached by id — same rows as filtering the quality chain,
    # since doc_id is unique in the scan)
    surv_docs = docs.select("doc_id", "text").join(
        surv_ids.select("doc_id"), "doc_id"
    )
    pairs = minhash_candidate_pairs(surv_docs, "doc_id").where(
        F.col("n_shared_bands") >= 2
    )
    removed = (
        connected_components(pairs)
        .where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    kept = surv_ids.join(removed, "doc_id", "left_anti")

    # 4. leakage-safe deterministic split
    b = hash_bucket(F.col("doc_id"))
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return kept.select("doc_id", split.alias("split"), "n_tokens")


# ---- round-3 composition: repetition filter → exact dedup → ----------
# ---- domain-mixture rebalance → split (per-stratum counts)  ----------

_TK = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
_H6 = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000)"
_H100 = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)"


@query(
    "pipeline_corpus_mixture",
    oracle=f"""
    WITH tri AS (
      SELECT doc_id, lang, text,
             len({_TK}) AS n_tokens,
             CASE WHEN len({_TK}) >= 3
                  THEN list_transform(range(1, len({_TK}) - 1),
                       i -> {_TK}[i] || ' ' || {_TK}[i+1] || ' ' || {_TK}[i+2])
                  ELSE [] END AS tg
      FROM documents
    ), clean AS (
      -- Gopher repetition gate, integer-exact: (n - nd)/n <= 0.2  <=>  5(n - nd) <= n
      SELECT doc_id, lang, text, n_tokens FROM tri
      WHERE n_tokens >= {MIN_TOKENS}
        AND 5 * (len(tg) - len(list_distinct(tg))) <= len(tg)
    ), deduped AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang, row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                 ORDER BY doc_id
               ) AS rn
        FROM clean
      ) WHERE rn = 1
    ), rates AS (
      SELECT lang, min(count(*)) OVER () / count(*) AS keep_rate
      FROM deduped GROUP BY lang
    ), rebalanced AS (
      SELECT d.doc_id, d.lang
      FROM deduped d JOIN rates r ON d.lang = r.lang
      WHERE {_H6} < CAST(floor(r.keep_rate * 1000000) AS BIGINT)
    )
    SELECT CASE WHEN {_H100} < 80 THEN 'train'
                WHEN {_H100} < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs
    FROM rebalanced
    GROUP BY 1, 2
    """,
)
def pipeline_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 composed pipeline: Gopher repetition filter →
    exact dedup → domain-mixture rebalance toward the smallest language
    stratum → leakage-safe split, reported as per-(split, lang) counts.
    Proves the new operators COMPOSE (each stage runs on exactly the
    survivors of the previous). The repetition gate is integer-exact
    (5·(n−nd) ≤ n ⟺ ratio ≤ 0.2); the rebalance rates are a tiny
    broadcast; nothing collects the corpus.

    Scale notes: the repetition gate is ONE let1-bound boolean so the
    token split and trigram build run once per row (alias substitution
    would otherwise re-evaluate the regex split per trigram element —
    see functions.let1); the exact dedup is min_by over the text
    fingerprint so the shuffle carries (md5, doc_id, lang) and the
    document text never leaves the scan stage."""
    from mercurygate_spark.functions import let1, md5_long, tokens, trigram_array

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]

    # 1. repetition + length gate (integer-exact), single-eval gate
    keep = let1(
        tokens("text"),
        lambda tk: (F.size(tk) >= MIN_TOKENS)
        & let1(
            trigram_array(tk),
            lambda tg: 5 * (F.size(tg) - F.size(F.array_distinct(tg)))
            <= F.size(tg),
        ),
    )
    clean = docs.where(keep)

    # 2. exact dedup: keeper = min doc_id per fingerprint. min_by keeps
    # the full shuffle payload to (fingerprint, doc_id, lang).
    deduped = (
        clean.groupBy(fingerprint("text").alias("__fp"))
        .agg(F.min_by(F.struct("doc_id", "lang"), F.col("doc_id")).alias("__k"))
        .select(F.col("__k.doc_id").alias("doc_id"), F.col("__k.lang").alias("lang"))
    )

    # 3. mixture rebalance toward the smallest lang stratum
    counts = deduped.groupBy("lang").agg(F.count("*").alias("__n"))
    rates = counts.select(
        "lang",
        (F.min("__n").over(Window.partitionBy()) / F.col("__n")).alias("__rate"),
    )
    rebalanced = deduped.join(F.broadcast(rates), "lang").where(
        (md5_long(F.col("doc_id").cast("string")) % 1000000)
        < F.floor(F.col("__rate") * 1000000).cast("long")
    )

    # 4. leakage-safe split, rolled up per stratum
    b = hash_bucket(F.col("doc_id"))
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return rebalanced.select(split.alias("split"), "lang").groupBy("split", "lang").agg(
        F.count("*").alias("n_docs")
    )


SEQ_LEN = 2048  # tokens per packed training sequence


@query(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tokens
      FROM documents
    ), nonempty AS (
      SELECT * FROM toks WHERE n_tokens > 0
    ), packed AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS BIGINT) AS token_start
      FROM nonempty
    )
    SELECT doc_id, n_tokens, token_start,
           token_start // {SEQ_LEN} AS first_seq,
           (token_start + n_tokens - 1) // {SEQ_LEN} AS last_seq,
           (token_start + n_tokens - 1) // {SEQ_LEN}
             - token_start // {SEQ_LEN} + 1 AS n_seqs
    FROM packed
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus in a
    deterministic md5 order and chunk into {SEQ_LEN}-token training
    sequences; emit each document's global token offset and the
    sequence span it lands in.

    Scale design — the global running total is computed as a TWO-PHASE
    PREFIX SUM, not a single global window: per-shard cumsums run
    partitioned on the first md5 nibble (16-way parallel shuffle),
    and the 16 shard totals (a broadcast-size frame) are prefix-summed
    and joined back. A naive Window.orderBy(...) with no partitionBy
    would drag the whole corpus through ONE task — the classic
    100 TB cliff; the plan test pins that no single-partition window
    exists here. The DuckDB oracle uses the plain global window (its
    single-node executor doesn't care), proving the two-phase
    decomposition is value-identical.
    """
    t = load_tables(spark, sf_dir, "documents")
    from mercurygate_spark.functions import tokens

    toks = (
        t["documents"]
        .select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
            F.size(tokens("text")).alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn("shard", F.substring("h", 1, 1))
    )
    # phase 1: within-shard running totals (16-way parallel)
    w_shard = Window.partitionBy("shard").orderBy("h", "doc_id")
    within = toks.withColumn(
        "shard_cum", F.sum("n_tokens").over(w_shard) - F.col("n_tokens")
    )
    # phase 2: shard offsets — 16 rows, prefix-summed and broadcast
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        toks.groupBy("shard")
        .agg(F.sum("n_tokens").alias("shard_total"))
        .withColumn("shard_offset", F.coalesce(F.sum("shard_total").over(w_off), F.lit(0)))
        .select("shard", "shard_offset")
    )
    packed = within.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "n_tokens",
        (F.col("shard_offset") + F.col("shard_cum")).alias("token_start"),
    )
    start, end = F.col("token_start"), F.col("token_start") + F.col("n_tokens") - 1
    return packed.select(
        "doc_id",
        "n_tokens",
        "token_start",
        F.expr(f"token_start div {SEQ_LEN}").alias("first_seq"),
        F.expr(f"(token_start + n_tokens - 1) div {SEQ_LEN}").alias("last_seq"),
        F.expr(
            f"(token_start + n_tokens - 1) div {SEQ_LEN}"
            f" - token_start div {SEQ_LEN} + 1"
        ).alias("n_seqs"),
    )


@query(
    "pipeline_dataset_card",
    oracle="""
    WITH tk AS (
      SELECT doc_id, lang, n_chars, md5(text) AS h,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tokens
      FROM documents
    ), lc AS (
      SELECT lang, count(*) AS c FROM tk GROUP BY lang
    ), ent AS (
      SELECT round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS lang_entropy
      FROM lc, (SELECT sum(c) AS n FROM lc) t
    )
    SELECT (SELECT count(*) FROM tk) AS n_docs,
           (SELECT count(DISTINCT lang) FROM tk) AS n_langs,
           (SELECT CAST(sum(n_tokens) AS BIGINT) FROM tk) AS total_tokens,
           (SELECT round(median(n_tokens), 2) FROM tk) AS median_doc_tokens,
           (SELECT round(1.0 - count(DISTINCT h) * 1.0 / count(*), 6) FROM tk)
             AS exact_dup_rate,
           (SELECT lang_entropy FROM ent) AS lang_entropy_nats,
           (SELECT round(count_if(n_chars < 100) * 1.0 / count(*), 6) FROM tk)
             AS short_doc_rate
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD in one pass: the single-row corpus summary every
    training-data release ships — size, language spread + entropy,
    token distribution, exact-duplicate rate, short-doc fraction. One
    tokenizing scan feeds ONE global aggregate (count / NDV / sum /
    exact median / conditional rates all partial+final mergeable in
    the same hash-agg) plus a lang-count side frame for the entropy
    term; the three 1-row frames cross at the end (bounded by
    construction — the _BOUNDED_BNLJ_OK pattern). At 100 TB this is
    one corpus read; every metric that would need a second pass
    (near-dup rate, per-domain percentiles) has its own key
    (dedup_minhash_lsh, text_quality_percentile_filter) — the card is
    the cheap always-on summary."""
    from mercurygate_spark.functions import r6, tokens

    t = load_tables(spark, sf_dir, "documents")
    tk = t["documents"].select(
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    base = tk.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.floor(F.median("n_tokens") * 100 + F.lit(0.5)) / 100).alias(
            "median_doc_tokens"
        ),
        r6(1.0 - F.countDistinct("h") / F.count("*")).alias("exact_dup_rate"),
        r6(F.count_if(F.col("n_chars") < 100) / F.count("*")).alias(
            "short_doc_rate"
        ),
    )
    lc = tk.groupBy("lang").agg(F.count("*").alias("c"))
    n = lc.agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    ent = (
        lc.join(F.broadcast(n))
        .agg(r6(-F.sum(p * F.log(p))).alias("lang_entropy_nats"))
    )
    return base.join(F.broadcast(ent))


SFT_PROMPT_TOKENS = 10  # leading tokens used as the synthetic prompt
SFT_MAX_TOKENS = 64     # context-budget filter on the rendered pair


@query(
    "pipeline_sft_format",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS tk
      FROM documents
    ), pairs AS (
      SELECT doc_id,
             array_to_string(list_slice(tk, 1, {SFT_PROMPT_TOKENS}), ' ')
               AS prompt,
             array_to_string(
               list_slice(tk, {SFT_PROMPT_TOKENS} + 1, len(tk)), ' ') AS response,
             len(tk) AS n_tokens
      FROM tk
      WHERE len(tk) > {SFT_PROMPT_TOKENS} AND len(tk) <= {SFT_MAX_TOKENS}
    )
    SELECT doc_id, n_tokens,
           '<|user|>' || chr(10) || prompt || chr(10) ||
           '<|assistant|>' || chr(10) || response AS rendered,
           CAST(length('<|user|>' || chr(10) || prompt || chr(10) ||
                       '<|assistant|>' || chr(10) || response) AS BIGINT)
             AS n_chars
    FROM pairs
    """,
)
def pipeline_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT corpus rendering — the last mile of an instruction-tuning
    pipeline: split each document into a (prompt, response) pair at a
    fixed token boundary, drop pairs with no response or over the
    context budget, and render the chat template ('<|user|>' /
    '<|assistant|>' role tags) as the training string. Pure map-side
    column work on the bound token array (one tokenize via let1, two
    slices, concat) — zero shuffles; the template render that
    dominates SFT prep cost at 100 TB is embarrassingly parallel and
    this plan keeps it that way. The oracle re-renders byte-for-byte,
    newlines included."""
    from mercurygate_spark.functions import let1, tokens

    t = load_tables(spark, sf_dir, "documents")

    def render(tk):
        n = F.size(tk)
        prompt = F.array_join(F.slice(tk, 1, SFT_PROMPT_TOKENS), " ")
        response = F.array_join(
            F.slice(tk, SFT_PROMPT_TOKENS + 1, SFT_MAX_TOKENS), " "
        )
        rendered = F.concat(
            F.lit("<|user|>\n"),
            prompt,
            F.lit("\n<|assistant|>\n"),
            response,
        )
        return F.struct(
            n.alias("n_tokens"), rendered.alias("rendered")
        )

    d = t["documents"].select(
        "doc_id", let1(tokens("text"), render).alias("r")
    )
    return (
        d.where(
            (F.col("r.n_tokens") > SFT_PROMPT_TOKENS)
            & (F.col("r.n_tokens") <= SFT_MAX_TOKENS)
        )
        .select(
            "doc_id",
            F.col("r.n_tokens").alias("n_tokens"),
            F.col("r.rendered").alias("rendered"),
            F.length("r.rendered").cast("long").alias("n_chars"),
        )
    )


_DPO_SCORED_SQL = f"""
    WITH feat AS (
      SELECT doc_id, source, lang,
             len({_TK}) AS n_tokens,
             len(list_distinct({_TK})) AS n_distinct
      FROM documents
    ),
    s AS (
      SELECT source, lang, doc_id, n_distinct / n_tokens AS score
      FROM feat WHERE n_tokens > 0
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY score DESC, doc_id) AS rb,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY score ASC, doc_id) AS rw
      FROM s
    )
"""


@query(
    "pipeline_dpo_pairs",
    oracle=_DPO_SCORED_SQL
    + """
    SELECT b.source, b.lang,
           b.doc_id AS chosen_doc_id,
           w.doc_id AS rejected_doc_id,
           round(b.score - w.score, 6) AS margin
    FROM (SELECT * FROM r WHERE rb = 1) b
    JOIN (SELECT * FROM r WHERE rw = 1) w USING (source, lang)
    WHERE b.doc_id <> w.doc_id
    """,
)
def pipeline_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (the DPO/RLHF data-prep step):
    within each (source, lang) prompt group, pair the highest-scoring
    document (chosen) with the lowest (rejected), scored by type-token
    ratio from the shared quality_features operator. Tie-break is
    doc_id ascending on BOTH extremes, so an all-tied group collapses
    to chosen == rejected and is dropped — every emitted pair has a
    strictly positive margin. One shuffle keyed on (source, lang)
    serves both window ranks; nothing about the corpus is collected or
    cross-joined, and at 100 TB the group count (sources × langs) is
    the small frame, so the best⋈worst join broadcasts."""
    feat = quality_features(
        load_tables(spark, sf_dir, "documents")["documents"], "text"
    ).where(F.col("n_tokens") > 0)
    scored = feat.select(
        "source",
        "lang",
        "doc_id",
        (F.col("n_distinct_tokens") / F.col("n_tokens")).alias("score"),
    )
    w_best = Window.partitionBy("source", "lang").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w_worst = Window.partitionBy("source", "lang").orderBy(
        F.asc("score"), F.asc("doc_id")
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w_best).alias("rb"),
        F.row_number().over(w_worst).alias("rw"),
    )
    best = ranked.where(F.col("rb") == 1).select(
        "source",
        "lang",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("score").alias("chosen_score"),
    )
    worst = ranked.where(F.col("rw") == 1).select(
        "source",
        "lang",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("score").alias("rejected_score"),
    )
    from mercurygate_spark.functions import r6

    return (
        best.join(worst, ["source", "lang"])
        .where(F.col("chosen_doc_id") != F.col("rejected_doc_id"))
        .select(
            "source",
            "lang",
            "chosen_doc_id",
            "rejected_doc_id",
            r6(F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


def _rag_index_oracle() -> str:
    from mercurygate_spark.operators.similarity import (
        EMBED_DIMS,
        KMEANS_ITERS,
        duck_ivf_kmeans_sql,
    )
    from mercurygate_spark.queries.text import _DUCK_TK, CHUNK_STRIDE

    return f"""
    WITH {duck_ivf_kmeans_sql()},
    assign_final AS (
      SELECT e.vec_id, c.cidx,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_sum(list_transform(range(1, {EMBED_DIMS + 1}),
                          j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j]))),
                        c.cidx
             ) AS probe_rank
      FROM qemb e CROSS JOIN cent{KMEANS_ITERS} c
    ),
    lists AS (SELECT vec_id, cidx FROM assign_final WHERE probe_rank = 1),
    tk AS (SELECT doc_id, len({_DUCK_TK}) AS n FROM documents),
    ch AS (
      SELECT doc_id, 1 + greatest(n - 1, 0) // {CHUNK_STRIDE} AS n_chunks
      FROM tk WHERE n > 0
    )
    SELECT CAST(l.cidx AS INT) AS centroid_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(ch.doc_id) AS BIGINT) AS n_docs_chunked,
           CAST(coalesce(sum(ch.n_chunks), 0) AS BIGINT) AS total_chunks
    FROM lists l LEFT JOIN ch ON ch.doc_id = l.vec_id
    GROUP BY l.cidx
    """


@query("pipeline_rag_index", oracle=_rag_index_oracle())
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG indexing capstone — the retrieval-side composition a
    vector-store build runs: token-window CHUNKING over the document
    corpus (text_chunk_split's windows) + TRAINED IVF partitioning of
    the embedding space (sim_cosine_ivf's deterministic Lloyd's
    k-means + Arrow-batched nearest-centroid assignment), joined into
    a per-inverted-list summary: how many vectors each list holds and
    how much chunk mass those vectors' documents contribute. Proves
    the two individually-oracle-checked operator families COMPOSE.

    Scale shape: centroid training never collects the corpus (k×dims
    longs to the driver per iteration), assignment is one Arrow pass
    with the small centroid matrix closure-shipped, the chunk counts
    are a linear scan (no explode needed for counts — the window
    count is (n-1) div stride + 1), and the final join keys on
    vec_id=doc_id then reduces to {N_CENTROIDS} rows. The oracle
    replays training/assignment/chunk arithmetic exactly (unrolled
    integer k-means CTEs), so centroid drift anywhere breaks the
    hash."""
    from mercurygate_spark.functions import tokens
    from mercurygate_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )
    from mercurygate_spark.queries.text import CHUNK_STRIDE

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    emb = t["embeddings"]
    cmat = train_ivf_centroids(emb)
    assigned = ivf_assign(emb, cmat, "vec_id", "embedding", n_probe=1).select(
        "vec_id", "centroid_id"
    )
    n = F.size(tokens("text"))
    ch = (
        t["documents"]
        .select("doc_id", n.alias("n"))
        .where(F.col("n") > 0)
        .select(
            "doc_id",
            (1 + F.expr(f"greatest(n - 1, 0) div {CHUNK_STRIDE}")).alias("n_chunks"),
        )
    )
    return (
        assigned.join(ch, assigned["vec_id"] == ch["doc_id"], "left")
        .groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.count("doc_id").alias("n_docs_chunked"),
            F.coalesce(F.sum("n_chunks"), F.lit(0)).cast("long").alias("total_chunks"),
        )
    )


def funnel_stage_ids(d: DataFrame, materialize: bool = False) -> dict[str, DataFrame]:
    """The funnel's per-stage survivor id frames (shared by
    pipeline_filter_funnel and pipeline_quality_classifier — the
    classifier is the funnel's next stage, so it must score EXACTLY
    the stage-4 survivors the funnel key pins).

    ``materialize=True`` localCheckpoints each stage's id frame (tiny:
    doc_id only) — for consumers that reference SEVERAL stages in one
    plan (the funnel key's 5 sig branches): without it each union
    branch re-derives the full prefix chain (gopher 4×, repetition 3×,
    the LM joins 2× — 74 Exchanges in the r15-before plan), i.e. 2-3
    redundant full corpus passes at 100 TB. Single-stage consumers
    (classifier, capstone — s3 only) keep the default lazy frames: one
    job evaluates the chain exactly once anyway."""
    from mercurygate_spark.queries.text import (
        gopher_frame,
        ppl_cross_entropy,
        repetition_frame,
    )

    def _m(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if materialize else df

    s1 = _m(gopher_frame(d).where(F.col("gopher_pass")).select("doc_id"))
    s1_docs = d.join(s1, "doc_id")
    s1b = _m(
        repetition_frame(s1_docs)
        .where(F.col("repetition_pass"))
        .select("doc_id")
    )
    s1b_docs = d.join(s1b, "doc_id")
    ce = ppl_cross_entropy(d, s1b_docs)
    w = Window.partitionBy("lang").orderBy("cross_entropy", "doc_id")
    s2 = _m(
        ce.withColumn("pr", F.percent_rank().over(w))
        .where(F.col("pr") < 2.0 / 3)
        .select("doc_id")
    )
    s2_docs = d.join(s2, "doc_id")
    fp = s2_docs.select("doc_id", fingerprint("text").alias("fp"))
    s3 = _m(
        fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    return {"s1": s1, "s1b": s1b, "s2": s2, "s3": s3}


def _funnel_oracle() -> str:
    from mercurygate_spark.queries.text import (
        _DUCK_GOPHER_PASS_CTES,
        _DUCK_LM_CTES,
        LM_ADD_K,
        _duck_repetition_ctes,
    )

    sig = "bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"
    return f"""
    WITH {_DUCK_GOPHER_PASS_CTES},
    rsrc AS (
      SELECT d.doc_id, d.text FROM documents d JOIN gpass USING (doc_id)
    ),
    {_duck_repetition_ctes("rsrc", "r_")},
    rpass AS (SELECT doc_id FROM r_sum WHERE repetition_pass),
    {_DUCK_LM_CTES},
    f_scored AS (
      SELECT pa.doc_id, pa.lang,
             ln((COALESCE(c12.c12, 0) + {LM_ADD_K})
                / (COALESCE(c1.c1, 0) + {LM_ADD_K} * v.v)) AS lp
      FROM p_all pa
      JOIN rpass USING (doc_id)
      LEFT JOIN c12 ON pa.w1 = c12.w1 AND pa.w2 = c12.w2
      LEFT JOIN c1 ON pa.w1 = c1.w1
      CROSS JOIN v
    ),
    f_ce AS (
      SELECT doc_id, lang, round(-avg(lp), 6) AS cross_entropy
      FROM f_scored GROUP BY 1, 2
    ),
    f_ranked AS (
      SELECT *, percent_rank() OVER (
               PARTITION BY lang ORDER BY cross_entropy, doc_id
             ) AS pr
      FROM f_ce
    ),
    s2 AS (SELECT doc_id FROM f_ranked WHERE pr < 2.0/3),
    f_fp AS (
      SELECT d.doc_id,
             md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fp
      FROM documents d JOIN s2 USING (doc_id)
    ),
    s3 AS (SELECT min(doc_id) AS doc_id FROM f_fp GROUP BY fp)
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs, {sig} AS sig
      FROM documents
      UNION ALL
      SELECT 1, 'gopher_rules', count(*), {sig} FROM gpass
      UNION ALL
      SELECT 2, 'gopher_repetition', count(*), {sig} FROM rpass
      UNION ALL
      SELECT 3, 'perplexity_head_middle', count(*), {sig} FROM s2
      UNION ALL
      SELECT 4, 'exact_dedup', count(*), {sig} FROM s3
    ) ORDER BY stage_idx
    """


@query("pipeline_filter_funnel", oracle=_funnel_oracle())
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb/RefinedWeb-style filter funnel as ONE key: Gopher
    rule filter → Gopher repetition battery (§A1.2, over the rule
    survivors) → CCNet perplexity cut (keep head+middle terciles,
    computed per language OVER THE SURVIVORS — sequential-funnel
    semantics, not precomputed buckets) → exact dedup (normalized-text
    fingerprint, keep min doc_id). Emits the attrition table every
    corpus report publishes — one row per stage with the surviving doc
    count and an order-independent content signature
    (bit_xor of md5(doc_id)), so a single wrong survivor anywhere in
    the chain flips a stage hash.

    Stage operators are individually oracle-checked
    (text_gopher_filter, text_perplexity_filter, text_fingerprint);
    this key proves they COMPOSE — stage N runs on exactly stage N-1's
    survivors, sharing the same helper frames
    (queries.text.gopher_frame / ppl_cross_entropy).

    Scale shape: every stage is the shape its standalone key pins —
    gopher is a scan-only projection, the LM joins are unhinted with a
    broadcast 1-row vocab, the tercile window partitions by lang, the
    dedup shuffle carries (16-byte fp, id), and each stage signature
    is a partially-aggregable 2-column reduce. Nothing corpus-sized
    ever reaches the driver."""
    from mercurygate_spark.functions import md5_long

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]

    def stage(ids: DataFrame, idx: int, name: str) -> DataFrame:
        h = ids.select(md5_long(F.col("doc_id").cast("string")).alias("h"))
        return h.agg(
            F.count("*").alias("n_docs"), F.expr("bit_xor(h)").alias("sig")
        ).select(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
            "sig",
        )

    # materialize=True: the 5 sig branches below reference every stage;
    # without per-stage checkpoints each branch re-derives the full
    # prefix chain (r15 before-plan: 74 Exchanges, gopher evaluated 4×)
    stages = funnel_stage_ids(d, materialize=True)
    s1, s1b, s2, s3 = stages["s1"], stages["s1b"], stages["s2"], stages["s3"]
    return (
        stage(d.select("doc_id"), 0, "raw")
        .unionByName(stage(s1, 1, "gopher_rules"))
        .unionByName(stage(s1b, 2, "gopher_repetition"))
        .unionByName(stage(s2, 3, "perplexity_head_middle"))
        .unionByName(stage(s3, 4, "exact_dedup"))
        .orderBy("stage_idx")
    )


# ---------------------------------------------------------------------------
# Model-based quality filter (VERDICT r12 next #5): the FineWeb-edu /
# CCNet-fastText stage the funnel lacked — TRAIN a classifier on weak
# curated-vs-raw labels (curated = Gopher-rule survivors, the standard
# silver-label trick), features = the text_feature_hashing trick at a
# small width, then SCORE the funnel's stage-4 survivors and keep the
# top QC_KEEP fraction by classifier score. The whole chain —
# features, every GD iteration, scoring, percentile threshold — is
# replayed in one generated oracle, so a drift anywhere (a gradient
# sum, a weight update, a rank tie) flips the hash.
# ---------------------------------------------------------------------------

QC_DIM = 8      # hashed feature buckets (feature-hashing trick, small width)
QC_NFEAT = QC_DIM + 3  # + the 3 structural quality stats (len/tokens/stop)
QC_ITERS = 16   # full-batch GD iterations
QC_LR = 1.0     # power of two: scaling by it is exact
QC_KEEP = 0.5   # survivor fraction kept by classifier percentile


def _qc_feature_frame(d: DataFrame) -> DataFrame:
    """(doc_id, x1..x{QC_NFEAT}) — per-doc hashed-bucket token-count
    ratios (x_{j+1} = count(tokens hashing to bucket j) / n_tokens)
    plus the three structural quality stats the distillation keys use
    (char_len/1000, n_tokens/100, stopword ratio — logreg.feature_frame).
    Both halves matter: the structural stats carry the curated-vs-raw
    signal (measured: buckets alone sit AT the majority baseline,
    hybrid reaches 0.86-0.91 accuracy), the hashed buckets give the
    classifier lexical correction — the fastText + handcrafted-stats
    hybrid real quality pipelines ship. Exact int counts, one exact
    double division per feature — the two engines can't disagree.
    Docs with zero tokens have no rows (the explode yields nothing),
    matching the oracle's unnest."""
    from mercurygate_spark.functions import md5_long, tokens
    from mercurygate_spark.operators.logreg import feature_frame

    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    b = tok.select(
        "doc_id", (md5_long(F.col("token")) % QC_DIM).cast("int").alias("bucket")
    )
    cn = b.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum((F.col("bucket") == j).cast("long")).alias(f"c{j}")
            for j in range(QC_DIM)
        ],
    )
    hashed = cn.select(
        "doc_id",
        *[
            (F.col(f"c{j}").cast("double") / F.col("n").cast("double")).alias(
                f"x{j + 1}"
            )
            for j in range(QC_DIM)
        ],
    )
    struct = feature_frame(d).select(
        "doc_id",
        F.col("x1").alias(f"x{QC_DIM + 1}"),
        F.col("x2").alias(f"x{QC_DIM + 2}"),
        F.col("x3").alias(f"x{QC_DIM + 3}"),
    )
    return hashed.join(struct, "doc_id")


def qc_gate_chain_ctes() -> str:
    """WITH-body for the STREAMING admission gate family: the same
    training + scoring + threshold chain as the batch key, but scored
    over the WHOLE (tokenized) corpus and calibrated on the training
    population itself — no funnel stages (a stream can't run the
    funnel's global stages; the gate is the per-arrival check that
    runs before them). Shared by stream_classifier_gate and the
    drift-recalibrating stream_classifier_gate_recal."""
    from mercurygate_spark.operators.logreg import (
        DUCK_FEAT_SQL,
        duck_logreg_cte_dim,
        duck_z_dim_sql,
    )
    from mercurygate_spark.queries.text import _DUCK_GOPHER_PASS_CTES

    bucket_sums = ", ".join(
        f"sum(CASE WHEN bucket = {j} THEN 1 ELSE 0 END) AS c{j}"
        for j in range(QC_DIM)
    )
    xs = ", ".join(
        f"CAST(c.c{j} AS DOUBLE) / CAST(c.n AS DOUBLE) AS x{j + 1}"
        for j in range(QC_DIM)
    )
    feat_sql = (
        "SELECT c.doc_id, CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS y, "
        + xs
        + f", s.x1 AS x{QC_DIM + 1}, s.x2 AS x{QC_DIM + 2}, s.x3 AS x{QC_DIM + 3}"
        + " FROM qcnt c LEFT JOIN gpass g USING (doc_id)"
        + f" JOIN ({DUCK_FEAT_SQL}) s USING (doc_id)"
    )
    return f"""
    {_DUCK_GOPHER_PASS_CTES},
    qtok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    qb AS (
      SELECT doc_id,
             ('0x' || substr(md5(token), 1, 15))::BIGINT % {QC_DIM} AS bucket
      FROM qtok
    ),
    qcnt AS (SELECT doc_id, count(*) AS n, {bucket_sums} FROM qb GROUP BY doc_id),
    {duck_logreg_cte_dim(feat_sql, QC_NFEAT, QC_ITERS, QC_LR)},
    qscored AS MATERIALIZED (
      SELECT f.doc_id,
             floor({duck_z_dim_sql(QC_NFEAT)} * 1000000 + 0.5) / 1000000 AS score
      FROM qfeat f CROSS JOIN qit{QC_ITERS} w
    ),
    qdist AS MATERIALIZED (
      SELECT score, count(*) AS cnt FROM qscored GROUP BY score
    ),
    qthr AS MATERIALIZED (
      SELECT score AS s_star FROM (
        SELECT score, sum(cnt) OVER (
                 ORDER BY score DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM qdist)
      WHERE cum >= greatest(1, CAST(floor(
              (SELECT count(*) FROM qscored) * {QC_KEEP}) AS BIGINT))
      ORDER BY score DESC LIMIT 1
    )"""


def qc_gate_oracle() -> str:
    return f"""
    WITH {qc_gate_chain_ctes()}
    SELECT doc_id, score,
           CASE WHEN score >= (SELECT s_star FROM qthr) THEN 1 ELSE 0 END AS kept
    FROM qscored
    """


def _qc_chain_ctes() -> str:
    """The WITH-body CTE chain shared by _qc_oracle and the corpus
    capstone oracle: the funnel's survivor chain (verbatim the same
    CTE text as _funnel_oracle — the classifier scores EXACTLY those
    docs) + features + every GD iteration + scoring (qscored) + the
    tie-inclusive threshold (qthr). One copy of the SQL so the two
    keys can't drift."""
    from mercurygate_spark.operators.logreg import (
        DUCK_FEAT_SQL,
        duck_logreg_cte_dim,
        duck_z_dim_sql,
    )
    from mercurygate_spark.queries.text import (
        _DUCK_GOPHER_PASS_CTES,
        _DUCK_LM_CTES,
        LM_ADD_K,
        _duck_repetition_ctes,
    )

    bucket_sums = ", ".join(
        f"sum(CASE WHEN bucket = {j} THEN 1 ELSE 0 END) AS c{j}"
        for j in range(QC_DIM)
    )
    xs = ", ".join(
        f"CAST(c.c{j} AS DOUBLE) / CAST(c.n AS DOUBLE) AS x{j + 1}"
        for j in range(QC_DIM)
    )
    feat_sql = (
        "SELECT c.doc_id, CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END AS y, "
        + xs
        + f", s.x1 AS x{QC_DIM + 1}, s.x2 AS x{QC_DIM + 2}, s.x3 AS x{QC_DIM + 3}"
        + " FROM qcnt c LEFT JOIN gpass g USING (doc_id)"
        + f" JOIN ({DUCK_FEAT_SQL}) s USING (doc_id)"
    )
    xlist = ", ".join(f"x{j + 1}" for j in range(QC_NFEAT))
    return f"""
    {_DUCK_GOPHER_PASS_CTES},
    rsrc AS (
      SELECT d.doc_id, d.text FROM documents d JOIN gpass USING (doc_id)
    ),
    {_duck_repetition_ctes("rsrc", "r_")},
    rpass AS (SELECT doc_id FROM r_sum WHERE repetition_pass),
    {_DUCK_LM_CTES},
    f_scored AS (
      SELECT pa.doc_id, pa.lang,
             ln((COALESCE(c12.c12, 0) + {LM_ADD_K})
                / (COALESCE(c1.c1, 0) + {LM_ADD_K} * v.v)) AS lp
      FROM p_all pa
      JOIN rpass USING (doc_id)
      LEFT JOIN c12 ON pa.w1 = c12.w1 AND pa.w2 = c12.w2
      LEFT JOIN c1 ON pa.w1 = c1.w1
      CROSS JOIN v
    ),
    f_ce AS (
      SELECT doc_id, lang, round(-avg(lp), 6) AS cross_entropy
      FROM f_scored GROUP BY 1, 2
    ),
    f_ranked AS (
      SELECT *, percent_rank() OVER (
               PARTITION BY lang ORDER BY cross_entropy, doc_id
             ) AS pr
      FROM f_ce
    ),
    s2 AS (SELECT doc_id FROM f_ranked WHERE pr < 2.0/3),
    f_fp AS (
      SELECT d.doc_id,
             md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fp
      FROM documents d JOIN s2 USING (doc_id)
    ),
    s3 AS (SELECT min(doc_id) AS doc_id FROM f_fp GROUP BY fp),
    qtok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM documents
    ),
    qb AS (
      SELECT doc_id,
             ('0x' || substr(md5(token), 1, 15))::BIGINT % {QC_DIM} AS bucket
      FROM qtok
    ),
    qcnt AS (SELECT doc_id, count(*) AS n, {bucket_sums} FROM qb GROUP BY doc_id),
    {duck_logreg_cte_dim(feat_sql, QC_NFEAT, QC_ITERS, QC_LR)},
    qsurv AS (
      SELECT f.doc_id, {xlist} FROM qfeat f JOIN s3 USING (doc_id)
    ),
    qscored AS MATERIALIZED (
      SELECT f.doc_id,
             floor({duck_z_dim_sql(QC_NFEAT)} * 1000000 + 0.5) / 1000000 AS score
      FROM qsurv f CROSS JOIN qit{QC_ITERS} w
    ),
    qdist AS MATERIALIZED (
      SELECT score, count(*) AS cnt FROM qscored GROUP BY score
    ),
    qthr AS MATERIALIZED (
      SELECT score AS s_star FROM (
        SELECT score, sum(cnt) OVER (
                 ORDER BY score DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM qdist)
      WHERE cum >= greatest(1, CAST(floor(
              (SELECT count(*) FROM qscored) * {QC_KEEP}) AS BIGINT))
      ORDER BY score DESC LIMIT 1
    )"""


def _qc_oracle() -> str:
    return f"""
    WITH {_qc_chain_ctes()}
    SELECT doc_id, score,
           CASE WHEN score >= (SELECT s_star FROM qthr) THEN 1 ELSE 0 END AS kept
    FROM qscored
    """


@query("pipeline_quality_classifier", oracle=_qc_oracle())
def pipeline_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering as the funnel's NEXT stage (the
    FineWeb-edu pattern): train a logistic-regression quality
    classifier on weak curated-vs-raw labels (curated = Gopher-rule
    pass — the silver-label trick CCNet/fastText pipelines use),
    features = {QC_DIM} hashed token buckets (the text_feature_hashing
    trick: no vocabulary build, the feature id is a pure function of
    the token), then score the funnel's stage-4 survivors and keep the
    top ~{QC_KEEP:.0%} by an exact tie-inclusive score THRESHOLD
    (s* = the highest score whose descending cumulative count reaches
    max(1, floor(n·{QC_KEEP}))). Output: one row per survivor with
    the r6 score and the keep flag.

    Scale shape: feature build is explode → map-side hash → one
    partially-aggregable groupBy; training reduces the corpus to
    {QC_DIM}+2 scalars per iteration (integer-quantized gradient sums
    — the ml_logreg_train doctrine); scoring is a pure projection with
    the weights as literals (broadcast-free inference); the percentile
    cut is a THRESHOLD derived by percentile_approx bracketing + exact
    boundary refinement (qc_score_threshold — two bounded jobs, never
    a rank or cumulative window over survivor rows: a partition-less
    window would serialize the frame through one task at 100 TB).
    The oracle replays features, every GD iteration, scoring and the
    threshold derivation in one generated CTE chain."""
    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"]
    # ONE train+score contract, shared with the streaming gate
    # (qc_trained_scorer): two copies of the labels/feats/train/z
    # block could silently drift apart
    _, score_col = qc_trained_scorer(d)
    feats = _qc_feature_frame(d)
    surv = funnel_stage_ids(d)["s3"]
    scored = feats.join(surv, "doc_id").select(
        "doc_id", score_col()
    ).localCheckpoint(eager=True)
    # percentile THRESHOLD, not a global rank (the plan-pin lesson: a
    # partition-less rank window serializes the survivor frame through
    # one task at 100 TB). The cut is exact and tie-INCLUSIVE: s* =
    # the highest score whose descending cumulative count reaches
    # K = max(1, floor(n·QC_KEEP)); kept ⇔ score ≥ s*. The cumulative
    # window runs over the DISTINCT-SCORE aggregate (bounded by the r6
    # score grid, not the corpus), and the two driver scalars (n, s*)
    # are bounded by construction — the same contract as the trained
    # weights.
    s_star = qc_score_threshold(scored)
    if s_star is None:
        return scored.select("doc_id", "score", F.lit(0).alias("kept"))
    return scored.select(
        "doc_id",
        "score",
        F.when(F.col("score") >= F.lit(s_star), 1).otherwise(0).alias("kept"),
    )


QC_THR_ACC = 10_000     # percentile_approx accuracy: rank error ≤ n/ACC
QC_THR_COLLECT = 64     # distinct-score collect cap for the exact walk


def qc_score_threshold(
    scored: DataFrame,
    *,
    keep: float = QC_KEEP,
    accuracy: int = QC_THR_ACC,
    collect_cap: int = QC_THR_COLLECT,
) -> float | None:
    """s* = the highest score whose descending cumulative count reaches
    K = max(1, floor(n·keep)) (keep defaults to QC_KEEP) — i.e. the
    value at descending row rank K, tie-inclusive. None on an empty
    frame. Shared by the batch
    key, the streaming admission gate, and the corpus capstone.

    Production derivation (VERDICT r13 #3): percentile_approx BRACKET +
    exact boundary-count REFINEMENT, never a partition-less window.
    Each round: (1) one aggregate brackets the target rank with
    ``percentile_approx([q_lo, q_hi], accuracy)`` — the sketch's rank
    error is ≤ n/accuracy, so widening the requested quantiles by that
    margin guarantees lo ≤ s* ≤ hi; (2) one aggregate counts the rows
    strictly above ``hi`` (subtracted from the remaining rank budget)
    and the DISTINCT scores inside [lo, hi] — at most the bracket's
    rank span ~4n/accuracy, a 2500× shrink per round at the default
    accuracy, so the loop is O(log n) rounds and at corpus scale ONE
    round reaches the collect cap: exactly the "two bounded jobs"
    shape. The final walk collects ≤ max(collect_cap, last-band
    distinct) (score, cnt) pairs — driver traffic bounded like the
    trained weights. The low default cap makes even sf0.001 exercise
    the bracket round, so tests cover the production path, not a
    small-data shortcut."""
    n = scored.count()
    if n == 0:
        return None
    k_rem = max(1, int(n * keep))
    band = scored.select("score")
    n_b, prev_nd = n, None
    while True:
        # ascending rank of s* is p = n_b - k_rem + 1 (tie-inclusive:
        # p always falls inside s*'s duplicate-rank interval)
        p = n_b - k_rem + 1
        err = n_b // accuracy + 2
        q_lo = max(0.0, (p - err) / n_b)
        q_hi = min(1.0, (p + err) / n_b)
        lo, hi = band.agg(
            F.percentile_approx("score", [q_lo, q_hi], accuracy).alias("b")
        ).collect()[0]["b"]
        in_band = (F.col("score") >= lo) & (F.col("score") <= hi)
        stats = band.agg(
            F.count(F.when(F.col("score") > hi, 1)).alias("above"),
            F.count_distinct(F.when(in_band, F.col("score"))).alias("nd"),
            F.count(F.when(in_band, 1)).alias("n_band"),
        ).collect()[0]
        # rows > hi are all > s* (hi ≥ s*), and #(rows > s*) < k_rem,
        # so the remaining budget stays ≥ 1 and s* stays in the band
        k_rem -= stats["above"]
        band = band.where(in_band)
        n_b = stats["n_band"]
        nd = stats["nd"]
        if nd <= collect_cap or (prev_nd is not None and nd >= prev_nd):
            # second condition: no-progress guard — unreachable while
            # the sketch honors its rank bound, but keeps the worst
            # case exact (one bigger collect) instead of looping
            grid = (
                band.groupBy("score")
                .agg(F.count("*").alias("cnt"))
                .orderBy(F.col("score").desc())
                .collect()
            )
            cum = 0
            for r in grid:
                cum += r["cnt"]
                if cum >= k_rem:
                    return r["score"]
            raise RuntimeError(
                "qc_score_threshold bracket invariant violated "
                f"(k_rem={k_rem}, band_rows={n_b})"
            )
        prev_nd = nd


def qc_trained_scorer(d: DataFrame):
    """(weights, score Column factory) — train the quality classifier
    on curated-vs-raw weak labels over ``d`` and return the literal-
    weight scoring expression builder (the broadcast-free inference
    path both the batch key and the streaming gate apply)."""
    from mercurygate_spark.operators.logreg import train_dim
    from mercurygate_spark.queries.text import gopher_frame

    labels = gopher_frame(d).select(
        "doc_id", F.col("gopher_pass").cast("int").alias("y")
    )
    feats = _qc_feature_frame(d)
    train_feat = feats.join(labels, "doc_id").cache()
    try:
        w = train_dim(train_feat, QC_NFEAT, QC_ITERS, QC_LR)[-1]
    finally:
        train_feat.unpersist()

    def score_col():
        z = F.lit(w[0])
        for j in range(1, QC_NFEAT + 1):
            z = z + F.lit(w[j]) * F.col(f"x{j}")
        return (F.floor(z * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("score")

    return w, score_col


# ---------------------------------------------------------------------------
# Tokenizer-to-training-batch capstone (VERDICT r11 next #3): the full
# path a pretraining pipeline runs between raw text and the data
# loader — TRAIN a BPE vocabulary on the corpus, APPLY it (re-encode
# every document with the learned merges), then PACK the re-encoded
# token stream into fixed-length training sequences — composed under
# ONE hash. Each stage is individually oracle-checked (text_bpe_train,
# text_bpe_apply, pipeline_pack_sequences); this key proves the
# composition: the packer consumes exactly the post-merge token
# counts the trained tokenizer produces, so a drift anywhere in the
# train loop, the merge application, or the prefix-sum packing flips
# the hash.
# ---------------------------------------------------------------------------


def post_bpe_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, h, n_tokens) of the BPE-merged corpus frame ``docs``
    (column ``s`` — _bpe_train_loop's output): the post-merge token
    counts plus the md5 stream-order key, empty docs dropped. Shared
    by text_tokenize_e2e and the corpus capstone."""
    tk = F.split(F.trim(F.col("s")), " ")
    return docs.where(F.trim(F.col("s")) != "").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(tk).alias("n_tokens"),
    )


def pack_token_stream(toks: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, token_start): each document's global offset
    in the packed training token stream, ordered by (md5(doc_id),
    doc_id), via the two-phase sharded prefix sum — a 16-way
    within-shard cumulative window plus a broadcast shard-offset
    frame, never a single-partition window over the corpus. Input
    needs (doc_id, h, n_tokens). Shared by text_tokenize_e2e and the
    corpus capstone (one copy of the pack contract)."""
    toks = toks.withColumn("shard", F.substring("h", 1, 1))
    w_shard = Window.partitionBy("shard").orderBy("h", "doc_id")
    within = toks.withColumn(
        "shard_cum", F.sum("n_tokens").over(w_shard) - F.col("n_tokens")
    )
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        toks.groupBy("shard")
        .agg(F.sum("n_tokens").alias("shard_total"))
        .withColumn(
            "shard_offset", F.coalesce(F.sum("shard_total").over(w_off), F.lit(0))
        )
        .select("shard", "shard_offset")
    )
    return within.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "n_tokens",
        (F.col("shard_offset") + F.col("shard_cum")).alias("token_start"),
    )


def _tokenize_e2e_oracle() -> str:
    from mercurygate_spark.queries.text import BPE_TRAIN_MERGES, _bpe_chain_sql

    n = BPE_TRAIN_MERGES
    return f"""
    WITH {_bpe_chain_sql()},
    toks AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             len(string_split(trim(s), ' ')) AS n_tokens
      FROM docs{n} WHERE trim(s) <> ''
    ), packed AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS BIGINT) AS token_start
      FROM toks
    )
    SELECT doc_id, n_tokens, token_start,
           token_start // {SEQ_LEN} AS first_seq,
           (token_start + n_tokens - 1) // {SEQ_LEN} AS last_seq,
           (token_start + n_tokens - 1) // {SEQ_LEN}
             - token_start // {SEQ_LEN} + 1 AS n_seqs
    FROM packed
    """


@query("text_tokenize_e2e", oracle=_tokenize_e2e_oracle())
def text_tokenize_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → apply → pack: BPE training loop (the text_bpe_train
    rounds, shared via _bpe_train_loop — one winner collect per round,
    triple-replace merge application, periodic localCheckpoint), then
    the trained corpus' POST-MERGE token counts flow straight into the
    pipeline_pack_sequences two-phase prefix sum (16-way sharded
    cumsum + broadcast shard offsets — no single-partition window),
    emitting each document's global token offset and sequence span in
    the packed training stream.

    Scale shape is the union of its parts' pinned shapes: the train
    loop's driver traffic is one row per merge round, the re-encoded
    corpus never leaves the executors (counts reduce map-side), and
    the pack phase shuffles (doc_id, md5, count) — never text. The
    oracle replays training, application, and packing in one chained
    CTE, so the key certifies the COMPOSITION end-to-end."""
    from mercurygate_spark.queries.text import _bpe_train_loop

    docs, _ = _bpe_train_loop(spark, sf_dir)
    packed = pack_token_stream(post_bpe_token_counts(docs))
    return packed.select(
        "doc_id",
        "n_tokens",
        "token_start",
        F.expr(f"token_start div {SEQ_LEN}").alias("first_seq"),
        F.expr(f"(token_start + n_tokens - 1) div {SEQ_LEN}").alias("last_seq"),
        F.expr(
            f"(token_start + n_tokens - 1) div {SEQ_LEN}"
            f" - token_start div {SEQ_LEN} + 1"
        ).alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# RAG query-side capstone (round 12 frontier): the serving twin of
# pipeline_rag_index — a retrieval request's full path from query
# vector to assembled context window: IVF probe → exact re-score →
# top-m docs → per-doc chunk cap (source diversity) → greedy context
# assembly under a token budget. Everything after the probe is
# windows + one running sum, all partitioned per query.
# ---------------------------------------------------------------------------

RAG_M = 8               # docs retrieved per query before chunk expansion
RAG_CHUNKS_PER_DOC = 2  # per-doc chunk cap (context diversity policy)
RAG_BUDGET = 256        # context window token budget


def _rag_query_oracle() -> str:
    from mercurygate_spark.operators.similarity import (
        EMBED_DIMS,
        KMEANS_ITERS,
        N_PROBE,
        duck_ivf_kmeans_sql,
    )
    from mercurygate_spark.queries.similarity import N_QUERIES
    from mercurygate_spark.queries.text import _DUCK_TK, CHUNK_STRIDE, CHUNK_TOKENS

    dist = (
        f"list_sum(list_transform(range(1, {EMBED_DIMS + 1}), "
        "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
    )
    cos = """
    round(
      list_dot_product(p.qv::DOUBLE[], c.cv::DOUBLE[]) /
      (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) *
       sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))),
      4)"""
    order = "ORDER BY cos DESC, doc_id, chunk_idx"
    return f"""
    WITH {duck_ivf_kmeans_sql()},
    assign_final AS (
      SELECT e.vec_id, e.embedding, c.cidx,
             row_number() OVER (
               PARTITION BY e.vec_id ORDER BY {dist}, c.cidx
             ) AS probe_rank
      FROM qemb e CROSS JOIN cent{KMEANS_ITERS} c
    ),
    corpus_lists AS (
      SELECT vec_id AS candidate_id, embedding AS cv, cidx
      FROM assign_final WHERE probe_rank = 1
    ),
    query_probes AS (
      SELECT vec_id AS query_id, embedding AS qv, cidx
      FROM assign_final WHERE vec_id < {N_QUERIES} AND probe_rank <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, c.candidate_id, {cos} AS cos
      FROM query_probes p JOIN corpus_lists c
        ON p.cidx = c.cidx AND p.query_id <> c.candidate_id
    ),
    topdocs AS (
      SELECT query_id, candidate_id, cos FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cos DESC, candidate_id) AS rk
        FROM scored) WHERE rk <= {RAG_M}
    ),
    tk AS (SELECT doc_id, len({_DUCK_TK}) AS n FROM documents),
    ch AS (
      SELECT doc_id, n,
             unnest(range(0, 1 + greatest(n - 1, 0) // {CHUNK_STRIDE})) AS chunk_idx
      FROM tk WHERE n > 0
    ),
    ch2 AS (
      SELECT doc_id, chunk_idx,
             least({CHUNK_TOKENS}, n - chunk_idx * {CHUNK_STRIDE}) AS chunk_len
      FROM ch WHERE chunk_idx < {RAG_CHUNKS_PER_DOC}
    ),
    cand AS (
      SELECT t.query_id, t.candidate_id AS doc_id, t.cos, c.chunk_idx, c.chunk_len
      FROM topdocs t JOIN ch2 c ON t.candidate_id = c.doc_id
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY query_id {order}) AS ctx_rank,
             coalesce(SUM(chunk_len) OVER (
               PARTITION BY query_id {order}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM cand
    )
    SELECT query_id, doc_id, cos,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_len AS BIGINT) AS chunk_len,
           ctx_rank,
           CAST(cum_before + chunk_len AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_before < {RAG_BUDGET}
    """


@query("pipeline_rag_query", oracle=_rag_query_oracle())
def pipeline_rag_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval serving: each designated query probes its nearest
    IVF lists (the sim_cosine_ivf machinery, verbatim), the probed
    candidates re-score exact r4 cosine, the top-{RAG_M} docs expand
    into their first {RAG_CHUNKS_PER_DOC} token-window chunks
    (text_chunk_split's arithmetic — the per-doc cap is the context
    DIVERSITY policy every production RAG stack applies so one long
    doc can't monopolize the window), and chunks pack greedily in
    relevance order until the {RAG_BUDGET}-token context budget is
    hit. Output: the assembled context manifest — (query, doc, chunk,
    rank, running token total) — i.e. exactly what gets concatenated
    into the prompt.

    The budget cut keeps a PREFIX of the relevance order (chunk
    lengths are strictly positive, so the running total is strictly
    increasing), which is why ctx_rank computed before the cut equals
    the rank within the kept context — pinned by the oracle replaying
    the same windows.

    Scale shape: probe + re-score is cosine_topk_ivf's pinned shape
    (candidate work = nprobe/ncentroids of the corpus); chunk
    expansion joins the tiny top-m frame against per-doc chunk counts
    (broadcastable); the assembly windows partition by query_id —
    bounded by m × cap rows per query, never corpus-sized."""
    from mercurygate_spark.queries.similarity import N_QUERIES
    from mercurygate_spark.queries.text import CHUNK_STRIDE, CHUNK_TOKENS

    from mercurygate_spark.operators.similarity import cosine_topk_ivf

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    topdocs = cosine_topk_ivf(q, e, k=RAG_M).select(
        "query_id", "candidate_id", "cos"
    )
    from mercurygate_spark.functions import tokens

    tk = t["documents"].select(
        "doc_id", F.size(tokens("text")).alias("n")
    ).where(F.col("n") > 0)
    ch = (
        tk.select(
            "doc_id",
            "n",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.least(
                        F.expr(f"greatest(n - 1, 0) div {CHUNK_STRIDE}"),
                        F.lit(RAG_CHUNKS_PER_DOC - 1),
                    ),
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.lit(CHUNK_TOKENS), F.col("n") - F.col("chunk_idx") * CHUNK_STRIDE
            ).alias("chunk_len"),
        )
    )
    cand = topdocs.join(ch, topdocs["candidate_id"] == ch["doc_id"]).select(
        "query_id", "doc_id", "cos", "chunk_idx", "chunk_len"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "doc_id", "chunk_idx"
    )
    ranked = cand.select(
        "*",
        F.row_number().over(w).alias("ctx_rank"),
        F.coalesce(
            F.sum("chunk_len").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("cum_before"),
    )
    return ranked.where(F.col("cum_before") < RAG_BUDGET).select(
        "query_id",
        "doc_id",
        "cos",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_len").cast("long").alias("chunk_len"),
        "ctx_rank",
        (F.col("cum_before") + F.col("chunk_len")).cast("long").alias("cum_tokens"),
    )


# ---------------------------------------------------------------------------
# LLM-corpus capstone (VERDICT r13 next #1): every curation stage the
# repo ships, composed into the ONE chain a pretraining-data run
# executes — heuristic filter funnel → model-based quality classifier
# → benchmark decontamination → tokenizer train+apply → sequence pack
# → epoch manifest — under a single oracle hash, the way
# pipeline_medallion_e2e certifies the claims pipeline. Composition is
# where stage-boundary bugs hide: each stage here consumes EXACTLY the
# previous stage's survivors (the funnel/classifier contract was
# previously pinned only pairwise), the tokenizer trains on the
# curated corpus (so the learned merges are a function of curation),
# and the epoch manifest repeats post-BPE token mass, not raw mass.
# ---------------------------------------------------------------------------


def _llm_corpus_stage_sql(idx: int, name: str, ids: str) -> str:
    sig = "bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"
    return (
        f"SELECT {idx} AS stage_idx, '{name}' AS stage, count(*) AS n_docs, "
        f"{sig} AS sig, CAST(coalesce(sum(wn), 0) AS BIGINT) AS token_mass "
        f"FROM {ids} JOIN wt USING (doc_id)"
    )


def _duck_kept_pairs_sql() -> str:
    """MinHash-LSH candidate pairs over the classifier-kept docs (the
    kdocs CTE) — dedup_connected_components' pair SQL retargeted at
    the capstone's stage-2 survivor relation."""
    from mercurygate_spark.operators.dedup import duck_minhash_pairs_sql

    return duck_minhash_pairs_sql(table="kdocs")


def _llm_corpus_oracle() -> str:
    from mercurygate_spark.operators.dedup import duck_connected_components_sql
    from mercurygate_spark.operators.similarity import duck_scaled_k_sql
    from mercurygate_spark.queries.dedup import (
        duck_sem_contam_cte,
        duck_sem_eval_cap_cte,
        duck_sem_eval_is_eval_sql,
        duck_semdedup_ctes,
    )
    from mercurygate_spark.queries.text import (
        _DUCK_TK,
        BPE_TRAIN_MERGES,
        DECON_K,
        DECON_MOD,
        _bpe_chain_sql,
    )

    ml = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
    ml_id = ml.format(x="CAST(doc_id AS VARCHAR)")
    sig4 = "bit_xor(" + ml.format(
        x="CAST(doc_id AS VARCHAR) || ':' || CAST(token_start AS VARCHAR)"
    ) + ")"
    sig5 = "bit_xor(" + ml.format(
        x="CAST(doc_id AS VARCHAR) || '#' || CAST(epoch_idx AS VARCHAR)"
    ) + ")"
    return f"""
    WITH {_qc_chain_ctes()},
    wt AS MATERIALIZED (
      SELECT doc_id, len({_DUCK_TK}) AS wn FROM documents
    ),
    kept AS MATERIALIZED (
      SELECT doc_id FROM qscored WHERE score >= (SELECT s_star FROM qthr)
    ),
    kdocs AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)
    ),
    ndp AS MATERIALIZED (
      SELECT id_a, id_b FROM ({_duck_kept_pairs_sql()})
      WHERE n_shared_bands >= 2
    ),
    ndcomp AS MATERIALIZED (
      SELECT * FROM (
        {duck_connected_components_sql("SELECT id_a, id_b FROM ndp")}
      )
    ),
    snd AS MATERIALIZED (
      SELECT k.doc_id FROM kept k
      LEFT JOIN ndcomp c ON k.doc_id = c.node
      WHERE c.node IS NULL OR c.component = c.node
    ),
    svx AS MATERIALIZED (
      SELECT e.vec_id, e.embedding
      FROM embeddings e JOIN snd s ON e.vec_id = s.doc_id
    ),
    sd_kpar AS MATERIALIZED (SELECT {duck_scaled_k_sql("svx")} AS kk),
    {duck_semdedup_ctes(table="svx", prefix="sd_", k="(SELECT kk FROM sd_kpar)")},
    ssd AS MATERIALIZED (
      SELECT s.doc_id FROM snd s
      LEFT JOIN sd_semdd x ON s.doc_id = x.vec_id
      WHERE x.vec_id IS NULL
    ),
    {duck_sem_eval_cap_cte(name="sd2ev")},
    {duck_sem_contam_cte(
        train_rel=(
            "SELECT e.vec_id, e.embedding "
            "FROM embeddings e JOIN ssd s ON e.vec_id = s.doc_id "
            f"WHERE NOT {duck_sem_eval_is_eval_sql()}"
        ),
        name="sd2contam",
        ev="sd2ev",
    )},
    ssem AS MATERIALIZED (
      SELECT s.doc_id FROM ssd s
      LEFT JOIN sd2contam c ON s.doc_id = c.vec_id
      WHERE c.vec_id IS NULL
    ),
    dk AS MATERIALIZED (
      SELECT doc_id, is_eval,
             md5(array_to_string(list_slice(dtk, pos + 1, pos + {DECON_K}), ' ')) AS h
      FROM (
        SELECT doc_id, is_eval, dtk, unnest(range(0, dn - {DECON_K} + 1)) AS pos
        FROM (
          SELECT doc_id, {_DUCK_TK} AS dtk, len({_DUCK_TK}) AS dn,
                 ({ml_id} % {DECON_MOD} = 0) AS is_eval
          FROM documents
        ) WHERE dn >= {DECON_K}
      )
    ),
    deh AS MATERIALIZED (SELECT DISTINCT h FROM dk WHERE is_eval),
    dcont AS MATERIALIZED (
      SELECT DISTINCT dk.doc_id FROM dk JOIN ssem USING (doc_id) JOIN deh USING (h)
    ),
    sdec AS MATERIALIZED (
      SELECT k.doc_id FROM ssem k
      LEFT JOIN dcont c ON k.doc_id = c.doc_id
      WHERE c.doc_id IS NULL AND ({ml.format(x="CAST(k.doc_id AS VARCHAR)")} % {DECON_MOD} <> 0)
    ),
    cdocs AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d JOIN sdec USING (doc_id)
    ),
    {_bpe_chain_sql(source="cdocs")},
    ptoks AS MATERIALIZED (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             len(string_split(trim(s), ' ')) AS n_tokens
      FROM docs{BPE_TRAIN_MERGES} WHERE trim(s) <> ''
    ),
    ppacked AS MATERIALIZED (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS BIGINT) AS token_start
      FROM ptoks
    ),
    pd AS MATERIALIZED (
      SELECT p.doc_id, d.lang, p.n_tokens
      FROM ptoks p JOIN documents d USING (doc_id)
    ),
    lcnt AS (
      SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM pd GROUP BY lang
    ),
    lplan AS (
      SELECT lang, total_tokens,
             (CAST(sum(total_tokens) OVER () AS BIGINT) // 2)
               // CAST(count(*) OVER () AS BIGINT) AS target_tokens
      FROM lcnt
    ),
    lrates AS (
      SELECT lang,
             target_tokens // total_tokens AS n_full_epochs,
             ((target_tokens % total_tokens) * 1000000) // total_tokens
               AS frac_ppm
      FROM lplan
    ),
    lreps AS (
      SELECT p.doc_id, p.n_tokens,
             r.n_full_epochs
               + CASE WHEN {ml.format(x="CAST(p.doc_id AS VARCHAR)")} % 1000000
                           < r.frac_ppm
                      THEN 1 ELSE 0 END AS n_rep
      FROM pd p JOIN lrates r USING (lang)
    ),
    lman AS MATERIALIZED (
      SELECT doc_id, n_tokens, CAST(e AS BIGINT) AS epoch_idx
      FROM lreps, UNNEST(range(0, n_rep)) AS u(e)
      WHERE n_rep > 0
    )
    SELECT * FROM (
      {_llm_corpus_stage_sql(0, "raw", "(SELECT doc_id FROM documents)")}
      UNION ALL
      {_llm_corpus_stage_sql(1, "funnel_survivors", "s3")}
      UNION ALL
      {_llm_corpus_stage_sql(2, "classifier_kept", "kept")}
      UNION ALL
      {_llm_corpus_stage_sql(3, "neardup_cluster_reps", "snd")}
      UNION ALL
      {_llm_corpus_stage_sql(4, "semdedup_reps", "ssd")}
      UNION ALL
      {_llm_corpus_stage_sql(5, "sem_decontaminated", "ssem")}
      UNION ALL
      {_llm_corpus_stage_sql(6, "decontaminated", "sdec")}
      UNION ALL
      SELECT 7 AS stage_idx, 'tokenized_packed' AS stage, count(*) AS n_docs,
             {sig4} AS sig,
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS token_mass
      FROM ppacked
      UNION ALL
      SELECT 8 AS stage_idx, 'epoch_manifest' AS stage, count(*) AS n_docs,
             {sig5} AS sig,
             CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS token_mass
      FROM lman
    ) ORDER BY stage_idx
    """


@query("pipeline_llm_corpus_e2e", oracle=_llm_corpus_oracle())
def pipeline_llm_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus curation chain end to end, hashed per stage:

    raw → funnel survivors (Gopher rules → repetition battery → CCNet
    perplexity terciles → exact dedup; funnel_stage_ids — EXACTLY the
    frames pipeline_filter_funnel pins) → classifier keep (the
    qc_trained_scorer weights + the qc_score_threshold tie-inclusive
    cut over exactly those survivors) → near-dup CLUSTER dedup
    (MinHash-LSH candidate pairs over the kept docs, ≥2 agreeing
    bands, large-star/small-star connected components, keep each
    cluster's min-id representative — the dedup_connected_components
    decision layer as a pipeline stage) → SemDeDup (VERDICT r14 #2:
    the survivors' BRIDGED embeddings — vec_id == doc_id, docs
    without a vector pass — k-means-clustered at the count-DIALED k,
    cosine-dominated vectors drop; paraphrase-level near-dups the
    MinHash stage cannot see) → SEMANTIC decontamination (surviving
    docs whose bridged training vector reaches SEM_DECON_TAU cosine
    of the capped eval set drop — dedup_decontaminate_semantic's
    screen as a pipeline stage) → gram decontamination (eval-slice
    docs leave the training set, any surviving doc sharing a
    {DECON_K}-gram with the eval slice drops — decon_gram_frame, the
    dedup_decontaminate contract; short docs with no grams keep) →
    BPE tokenizer TRAINED ON THE CURATED SURVIVORS (so the learned
    merges are a function of curation) + sequence pack (the
    text_tokenize_e2e two-phase prefix sum) → epoch-schedule manifest
    (sample_epoch_schedule's integer recipe over POST-BPE token mass).

    Output: one row per stage — (stage_idx, stage, n_docs, sig,
    token_mass). The sig is the order-independent bit_xor of
    md5(doc_id) (stages 0-6), of md5(doc_id:token_start) (stage 7 —
    pins every document's global offset in the packed stream), and of
    md5(doc_id#epoch_idx) (stage 8 — pins every manifest replica);
    token_mass is whitespace-token mass for curation stages and
    post-BPE mass for the packed/manifest stages. A single wrong
    survivor, shifted pack offset, or extra epoch replica anywhere in
    the chain flips a hash.

    Scale shape: every stage keeps its standalone key's pinned plan —
    the funnel scans, the classifier reduces to {QC_NFEAT}+1 scalars
    per GD iteration, the threshold brackets with percentile_approx,
    the SemDeDup stage clusters at the count-dialed k (in-cluster
    pairwise work bounded at any survivor count — the dialed regime,
    never the fixed-k anchor), the semantic screen broadcasts the
    FIXED-size capped eval set (work = cap·n, linear, zero corpus
    shuffle), the eval gram set broadcasts (the corpus never shuffles
    for the membership test), the BPE loop collects one winner row per round
    and localCheckpoints each generation, the pack prefix sum is
    16-way sharded, and the manifest explode IS the output. Stage
    hand-offs are id-frames (doc_id only), each localCheckpoint-ed so
    no stage re-materializes an earlier stage's lineage."""
    from mercurygate_spark.functions import md5_long, tokens
    from mercurygate_spark.queries.text import (
        DECON_MOD,
        _bpe_train_loop,
        decon_gram_frame,
    )

    d = load_tables(spark, sf_dir, "documents")["documents"]
    # materialized once: every stage_row branch joins this frame (9
    # sig branches in the final plan) — without the checkpoint each
    # branch re-scans documents and re-tokenizes the full text column
    # (r15 guide §2.3: compute the lightweight proxy once)
    wt = d.select(
        "doc_id", F.size(tokens("text")).alias("wn")
    ).localCheckpoint(eager=True)

    def stage_row(ids: DataFrame, idx: int, name: str) -> DataFrame:
        j = ids.join(wt, "doc_id").select(
            md5_long(F.col("doc_id").cast("string")).alias("hh"), "wn"
        )
        return j.agg(
            F.count("*").alias("n_docs"),
            F.expr("bit_xor(hh)").alias("sig"),
            F.coalesce(F.sum("wn"), F.lit(0)).cast("long").alias("token_mass"),
        ).select(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
            "sig",
            "token_mass",
        )

    # stages 1+2 overlap (guide §2.6: actions are only sequential
    # because the driver calls them sequentially): classifier TRAINING
    # (qc_trained_scorer — {QC_ITERS} sequential GD passes over the
    # full corpus, depends only on d) runs in an InheritableThread
    # while the main thread derives and checkpoints the funnel chain
    # (also a function of d alone). Neither reads the other's output;
    # the training trajectory and the funnel survivors are bit-
    # identical to the sequential order — only the job schedule
    # changes, so the tail of each stage back-fills the other's idle
    # capacity.
    from mercurygate_spark.concurrency import run_in_background

    _train_job = run_in_background(lambda: qc_trained_scorer(d), "qc-train")

    # stage 1: the funnel's survivor chain (checkpointed: the sig row
    # and the classifier join both read it without re-deriving the
    # funnel lineage)
    try:
        s3 = funnel_stage_ids(d)["s3"].localCheckpoint(eager=True)
    except BaseException:
        _train_job.wait_quietly()  # don't leave orphaned training jobs
        raise

    # stage 2: classifier keep over exactly those survivors. The
    # scoring featurization runs over d⋉s3 (funnel survivors), not the
    # full corpus: features are per-doc deterministic (explode →
    # groupBy(doc_id) → per-doc struct join), so filter-then-featurize
    # ≡ featurize-then-filter while the explode/shuffle pass carries
    # only surviving docs (guide §2.3: filter before the exchange).
    # Training (qc_trained_scorer) still sees the full corpus — that
    # is the contract the oracle replays.
    _, score_col = _train_job.result()
    feats = _qc_feature_frame(d.join(s3, "doc_id"))
    scored = feats.select(
        "doc_id", score_col()
    ).localCheckpoint(eager=True)
    s_star = qc_score_threshold(scored)
    kept = (
        scored.where(F.col("score") >= F.lit(s_star))
        if s_star is not None
        else scored.where(F.lit(False))
    ).select("doc_id")

    # stage 3: near-dup CLUSTER dedup over the kept docs — MinHash-LSH
    # candidates (>=2 agreeing bands, the dedup_connected_components
    # contract) through large-star/small-star CC; keep each cluster's
    # min-id representative (singletons keep themselves)
    from mercurygate_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )

    ndpairs = minhash_candidate_pairs(d.join(kept, "doc_id"), "doc_id").where(
        F.col("n_shared_bands") >= 2
    ).select("id_a", "id_b")
    nd_drop = connected_components(ndpairs).where(
        F.col("node") != F.col("component")
    ).select(F.col("node").alias("doc_id"))
    snd = kept.join(nd_drop, "doc_id", "anti").localCheckpoint(eager=True)

    # stage 4: SemDeDup over the survivors' BRIDGED embeddings
    # (vec_id == doc_id — both id spaces are the same deterministic
    # sequence; docs without a vector pass through unscreened, the
    # production shape when only a corpus subset is embedded). k is
    # count-dialed (scaled_n_centroids) so in-cluster pairwise work
    # stays bounded as the survivor set grows — the capstone takes the
    # dialed regime, not the fixed-k anchor.
    from mercurygate_spark.operators.similarity import scaled_n_centroids
    from mercurygate_spark.queries.dedup import (
        sem_contaminated_ids,
        semdedup_dominated,
    )

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    svx = (
        emb.join(snd.select(F.col("doc_id").alias("vec_id")), "vec_id")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    k_sd = scaled_n_centroids(svx.count())
    sd_drop = semdedup_dominated(spark, svx, k=k_sd).select(
        F.col("vec_id").alias("doc_id")
    )
    ssd = snd.join(sd_drop, "doc_id", "anti").localCheckpoint(eager=True)

    # stage 5: SEMANTIC decontamination — surviving docs whose bridged
    # training vector sits within SEM_DECON_TAU of the capped eval set
    # drop (paraphrase-level leakage the gram screen below misses).
    # Eval-slice vectors are not screened: on bridged ids the vec eval
    # slice IS the doc eval slice, which leaves at the gram stage.
    not_eval_vec = md5_long(F.col("vec_id").cast("string")) % DECON_MOD != 0
    strain = (
        emb.join(ssd.select(F.col("doc_id").alias("vec_id")), "vec_id")
        .where(not_eval_vec)
        .select("vec_id", "embedding")
    )
    scont = sem_contaminated_ids(emb, strain).select(
        F.col("vec_id").alias("doc_id")
    )
    ssem = ssd.join(scont, "doc_id", "anti").localCheckpoint(eager=True)

    # stage 6: gram decontamination — eval docs leave the training
    # set, gram-contaminated survivors drop (short no-gram docs keep:
    # the anti join has nothing to match)
    grams = decon_gram_frame(d)
    eh = grams.where(F.col("is_eval")).select("h").distinct()
    contam = (
        grams.join(ssem, "doc_id")
        .join(F.broadcast(eh), "h", "semi")
        .select("doc_id")
        .distinct()
    )
    not_eval = md5_long(F.col("doc_id").cast("string")) % DECON_MOD != 0
    sdec = (
        ssem.where(not_eval)
        .join(contam, "doc_id", "anti")
        .localCheckpoint(eager=True)
    )

    # stage 7: BPE trained on the curated survivors, then pack
    merged, _ = _bpe_train_loop(spark, sf_dir, docs_src=d.join(sdec, "doc_id"))
    ptoks = post_bpe_token_counts(merged).localCheckpoint(eager=True)
    packed = pack_token_stream(ptoks)
    stage5 = packed.select(
        md5_long(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("token_start").cast("string"),
            )
        ).alias("hh"),
        "n_tokens",
    ).agg(
        F.count("*").alias("n_docs"),
        F.expr("bit_xor(hh)").alias("sig"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("token_mass"),
    ).select(
        F.lit(7).alias("stage_idx"),
        F.lit("tokenized_packed").alias("stage"),
        "n_docs",
        "sig",
        "token_mass",
    )

    # stage 6: epoch manifest over post-BPE token mass
    pd_ = ptoks.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "n_tokens"
    )
    counts = pd_.groupBy("lang").agg(F.sum("n_tokens").alias("total_tokens"))
    rates = (
        counts.withColumn(
            "target_tokens",
            F.expr("(sum(total_tokens) over () div 2) div (count(*) over ())"),
        )
        .withColumn("n_full_epochs", F.expr("target_tokens div total_tokens"))
        .withColumn(
            "frac_ppm",
            F.expr("((target_tokens % total_tokens) * 1000000) div total_tokens"),
        )
        .select("lang", "n_full_epochs", "frac_ppm")
    )
    reps = pd_.join(F.broadcast(rates), "lang").withColumn(
        "n_rep",
        F.col("n_full_epochs")
        + (
            (md5_long(F.col("doc_id").cast("string")) % 1000000)
            < F.col("frac_ppm")
        ).cast("long"),
    )
    man = reps.where(F.col("n_rep") > 0).select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), F.col("n_rep") - 1)).alias("epoch_idx"),
    )
    stage6 = man.select(
        md5_long(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.col("epoch_idx").cast("string"),
            )
        ).alias("hh"),
        "n_tokens",
    ).agg(
        F.count("*").alias("n_docs"),
        F.expr("bit_xor(hh)").alias("sig"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("token_mass"),
    ).select(
        F.lit(8).alias("stage_idx"),
        F.lit("epoch_manifest").alias("stage"),
        "n_docs",
        "sig",
        "token_mass",
    )

    return (
        stage_row(d.select("doc_id"), 0, "raw")
        .unionByName(stage_row(s3, 1, "funnel_survivors"))
        .unionByName(stage_row(kept, 2, "classifier_kept"))
        .unionByName(stage_row(snd, 3, "neardup_cluster_reps"))
        .unionByName(stage_row(ssd, 4, "semdedup_reps"))
        .unionByName(stage_row(ssem, 5, "sem_decontaminated"))
        .unionByName(stage_row(sdec, 6, "decontaminated"))
        .unionByName(stage5)
        .unionByName(stage6)
        .orderBy("stage_idx")
    )



# ---------------------------------------------------------------------------
# Quality-weighted epoch scheduling (round 14 frontier): the
# FineWeb-edu / Llama-recipe upsampling step — repeat high-quality
# documents across epochs and drop the low tail, with "quality" =
# the TRAINED classifier score (pipeline_quality_classifier's model),
# not a heuristic. Composes qc_trained_scorer with the epoch-manifest
# explode: top-quartile docs train QE_HI_EPOCHS epochs, the middle
# half one epoch, the bottom quartile zero — both quartile cuts are
# the exact tie-inclusive thresholds qc_score_threshold derives
# (percentile_approx bracket + exact refinement, never a global rank).
# ---------------------------------------------------------------------------

QE_HI_KEEP = 0.25   # top-quartile cut (score >= s_hi -> QE_HI_EPOCHS)
QE_LO_KEEP = 0.75   # keep-any cut (score >= s_lo -> at least 1 epoch)
QE_HI_EPOCHS = 2


def _quality_epochs_oracle() -> str:
    def thr(name: str, frac: float) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT score AS s FROM (
        SELECT score, sum(cnt) OVER (
                 ORDER BY score DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM qdist)
      WHERE cum >= greatest(1, CAST(floor(
              (SELECT count(*) FROM qscored) * {frac}) AS BIGINT))
      ORDER BY score DESC LIMIT 1
    )"""

    return f"""
    WITH {qc_gate_chain_ctes()},
    {thr("qe_hi", QE_HI_KEEP)},
    {thr("qe_lo", QE_LO_KEEP)},
    qe_reps AS MATERIALIZED (
      SELECT doc_id, score,
             CASE WHEN score >= (SELECT s FROM qe_hi) THEN {QE_HI_EPOCHS}
                  WHEN score >= (SELECT s FROM qe_lo) THEN 1
                  ELSE 0 END AS n_rep
      FROM qscored
    )
    SELECT doc_id, score, CAST(e AS BIGINT) AS epoch_idx
    FROM qe_reps, UNNEST(range(0, n_rep)) AS u(e)
    WHERE n_rep > 0
    """


@query("sample_quality_epochs", oracle=_quality_epochs_oracle())
def sample_quality_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored epoch manifest: train the quality classifier on
    its weak curated-vs-raw labels (qc_trained_scorer — the exact
    pipeline_quality_classifier model), score the WHOLE tokenized
    corpus, derive the two tie-inclusive quartile thresholds with
    qc_score_threshold (keep=0.25 and 0.75 — the production bracketed
    derivation, two bounded jobs each), and materialize the
    (doc, epoch) manifest: top quartile appears {QE_HI_EPOCHS}×, the
    middle half once, the bottom quartile not at all. This is
    sample_epoch_schedule's loader frame with the repetition factor
    driven by LEARNED quality instead of domain token budgets — the
    FineWeb-edu upsampling recipe.

    Scale shape: scoring is the literal-weight codegen projection
    (training reduces the corpus to {{QC_NFEAT}}+1 scalars per GD
    iteration); each threshold is the bracketed derivation (never a
    global rank window); the explode fan-out IS the intended manifest.
    The oracle replays training, scoring, BOTH threshold derivations
    and the repetition CASE in one CTE chain."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    _, score_col = qc_trained_scorer(d)
    scored = _qc_feature_frame(d).select(
        "doc_id", score_col()
    ).localCheckpoint(eager=True)
    s_hi = qc_score_threshold(scored, keep=QE_HI_KEEP)
    s_lo = qc_score_threshold(scored, keep=QE_LO_KEEP)
    if s_hi is None:
        return scored.select(
            "doc_id", "score", F.lit(0).cast("long").alias("epoch_idx")
        ).where(F.lit(False))
    reps = scored.withColumn(
        "n_rep",
        F.when(F.col("score") >= F.lit(s_hi), QE_HI_EPOCHS)
        .when(F.col("score") >= F.lit(s_lo), 1)
        .otherwise(0),
    )
    return (
        reps.where(F.col("n_rep") > 0)
        .select(
            "doc_id",
            "score",
            F.explode(F.sequence(F.lit(0), F.col("n_rep") - 1)).alias("epoch_idx"),
        )
        .select("doc_id", "score", F.col("epoch_idx").cast("long").alias("epoch_idx"))
    )
