"""Text-analysis queries over the documents table (north-star surface:
language-ID, quality scoring, token counting, fingerprinting).

Each DuckDB oracle reimplements the exact same expression tree —
integer counts and int/int divisions only, so values hash-match
without tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mercurygate_spark.functions import r6, tokens
from mercurygate_spark.operators.dedup import (
    duck_connected_components_sql,
    duck_minhash_pairs_sql,
)
from mercurygate_spark.operators.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprint,
    lang_id,
    lang_scores,
    quality_features,
    token_count,
)
from mercurygate_spark.queries.registry import load_tables, query

_STOP_PAT = r"(^| )(" + "|".join(STOPWORDS_EN) + r")( |$)"


@query(
    "text_tokenize_count",
    oracle="""
    WITH tok AS (
      SELECT lang,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tokens,
             len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                           t -> t <> ''))) AS n_distinct
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 6) AS avg_tokens,
           CAST(sum(n_distinct) AS BIGINT) AS total_distinct
    FROM tok GROUP BY lang
    """,
)
def text_tokenize_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document, aggregated per language: whitespace/
    punctuation tokenizer (BPE-ish alnum regex), total + distinct token
    counts. Pure codegen expressions — a linear scan, one small
    shuffle on lang."""
    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "lang",
        token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""))).alias(
            "n_distinct"
        ),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        r6(F.avg("n_tokens")).alias("avg_tokens"),
        F.sum("n_distinct").alias("total_distinct"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tokens,
             len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                           t -> t <> ''))) AS n_distinct_tokens,
             len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                    '{_STOP_PAT}')) AS n_stopwords,
             length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_punct,
             length(text) AS char_len
      FROM documents
    )
    SELECT doc_id, n_tokens, n_distinct_tokens, n_stopwords, n_punct, char_len,
           round(n_distinct_tokens / n_tokens, 6) AS ttr,
           round(n_stopwords / n_tokens, 6) AS stopword_ratio,
           round(n_punct / char_len, 6) AS punct_ratio
    FROM feat WHERE n_tokens > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring per document: type-token ratio, stopword ratio,
    punctuation ratio — the standard pretraining-corpus quality
    features, as pure column expressions."""
    t = load_tables(spark, sf_dir, "documents")
    feat = quality_features(t["documents"], "text").where(F.col("n_tokens") > 0)
    return feat.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "n_stopwords",
        "n_punct",
        "char_len",
        r6(F.col("n_distinct_tokens") / F.col("n_tokens")).alias("ttr"),
        r6(F.col("n_stopwords") / F.col("n_tokens")).alias("stopword_ratio"),
        r6(F.col("n_punct") / F.col("char_len")).alias("punct_ratio"),
    )


def _duck_marker(pat: str) -> str:
    return (
        "len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), "
        f"'{pat}'))"
    )


_SCORE_COLS = ",\n             ".join(
    f"{_duck_marker(pat)} AS s_{lang}" for lang, pat in LANG_MARKERS
)
_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang, _ in LANG_MARKERS) + ")"
_CASE = "CASE " + " ".join(
    f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'" for lang, _ in LANG_MARKERS
) + " ELSE 'und' END"


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_SCORE_COLS}
      FROM documents
    ), best AS (
      SELECT *, {_BEST} AS best FROM scored
    )
    SELECT {_CASE} AS pred_lang,
           lang AS labeled_lang,
           count(*) AS n_docs
    FROM best
    GROUP BY 1, 2
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword-marker scores,
    argmax with deterministic tie-break (LANG_MARKERS order), compared
    against the labeled lang as a confusion-matrix rollup."""
    t = load_tables(spark, sf_dir, "documents")
    return (
        t["documents"]
        .select(lang_id("text").alias("pred_lang"), F.col("lang").alias("labeled_lang"))
        .groupBy("pred_lang", "labeled_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           count(*) AS n_docs,
           min(doc_id) AS first_doc
    FROM documents
    GROUP BY 1
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text (lower,
    whitespace-collapse, trim), grouped to expose exact-dup clusters.
    Cross-engine-stable hash by construction (functions.md5_hex)."""
    t = load_tables(spark, sf_dir, "documents")
    return (
        t["documents"]
        .select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS t
      FROM documents
    ), freq AS (
      SELECT t, count(*) AS c FROM tok GROUP BY t
    ), total AS (
      SELECT sum(c) AS n FROM freq
    )
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           round(avg(ln(freq.c / total.n)), 6) AS avg_logprob
    FROM tok JOIN freq USING (t) CROSS JOIN total
    GROUP BY tok.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score: average unigram log-probability per
    document (the simplest perplexity-style filter for pretraining
    corpora). Two passes over exploded tokens: corpus frequencies
    (one agg), then score per doc via a shuffle join on token — the
    vocabulary of a web-scale corpus is unbounded (100s of millions of
    types), so freq must NOT be broadcast; only the 1-row grand total
    is. libm ln differences ≤1 ulp are absorbed by the 6-dp rounding."""
    t = load_tables(spark, sf_dir, "documents")
    from mercurygate_spark.functions import tokens

    tok = t["documents"].select("doc_id", F.explode(tokens("text")).alias("t"))
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(freq, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            r6(F.avg(F.log(F.col("c") / F.col("n")))).alias("avg_logprob"),
        )
    )
    return scored


@query(
    "dedup_keep_canonical",
    oracle=f"""
    SELECT doc_id AS removed_doc FROM (
      {duck_connected_components_sql(
          "SELECT id_a, id_b FROM (" + duck_minhash_pairs_sql() + ") WHERE n_shared_bands >= 2"
      ).replace("SELECT node, least(node, min(r)) AS component",
                "SELECT node AS doc_id, least(node, min(r)) AS component_id")}
    ) WHERE doc_id <> component_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup decision: MinHash-LSH candidates agreeing
    on ≥2 bands feed transitive connected components; within each
    cluster the MIN doc_id is canonical and every other member is
    removed. Chain-shaped groups (a~b, b~c) therefore make ONE
    consistent decision — keep a, drop b and c — where the former
    pairwise rule could drop inconsistently."""
    from mercurygate_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )

    t = load_tables(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(t["documents"], "doc_id").where(
        F.col("n_shared_bands") >= 2
    )
    comps = connected_components(pairs)
    return (
        comps.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("removed_doc"))
    )


# PII patterns: identical Java-regex / RE2 behavior by construction —
# greedy character-class quantifiers only, no ambiguous alternation
# (both engines use leftmost-first matching; these patterns make
# leftmost-first and leftmost-longest coincide).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+\d[\d() -]{5,}\d"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH scrubbed AS (
      SELECT doc_id,
             length(text) AS char_len_before,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
             len(regexp_extract_all(
                 regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_IP}')) AS n_ip,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS t2
      FROM documents
    )
    SELECT doc_id, char_len_before, n_email, n_ip,
           len(regexp_extract_all(t2, '<PHONE>')) AS n_phone,
           length(t2) AS char_len_after,
           md5(t2) AS scrubbed_md5
    FROM scrubbed
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the standard pretraining-corpus scrub step:
    emails, then IPv4s, then phone-shaped digit runs replaced with
    typed placeholders, in that fixed order (so the phone pattern can
    never re-match digits inside an already-redacted IP). Per-doc
    match counts + md5 of the scrubbed text (the full text round-trips
    through md5 so the oracle hash-checks every replacement without
    shipping 5k long strings through the compare). Pure codegen
    regexp_replace — a linear scan, no shuffle at all."""
    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].select(
        "doc_id",
        F.length("text").alias("char_len_before"),
        F.regexp_count("text", F.lit(_PII_EMAIL)).alias("n_email"),
        F.regexp_replace("text", _PII_EMAIL, "<EMAIL>").alias("t1"),
    )
    d = d.select(
        "doc_id",
        "char_len_before",
        "n_email",
        F.regexp_count("t1", F.lit(_PII_IP)).alias("n_ip"),
        F.regexp_replace(
            F.regexp_replace("t1", _PII_IP, "<IP>"), _PII_PHONE, "<PHONE>"
        ).alias("t2"),
    )
    return d.select(
        "doc_id",
        "char_len_before",
        "n_email",
        "n_ip",
        F.regexp_count("t2", F.lit("<PHONE>")).alias("n_phone"),
        F.length("t2").alias("char_len_after"),
        F.md5("t2").alias("scrubbed_md5"),
    )


@query(
    "text_ngram_topk",
    oracle="""
    WITH tok AS (
      SELECT lang,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS ts
      FROM documents
    ), bg AS (
      SELECT lang,
             unnest(list_transform(range(1, len(ts)),
                                   i -> ts[i] || ' ' || ts[i+1])) AS bigram
      FROM tok WHERE len(ts) >= 2
    ), cnt AS (
      SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2
    ), rk AS (
      SELECT lang, bigram, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
      FROM cnt
    )
    SELECT lang, bigram, n, rk FROM rk WHERE rk <= 10
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: top-10 token bigrams per language,
    deterministic tie-break (count desc, bigram asc). The groupBy
    shuffles once on (lang, bigram) with map-side partial counts; the
    per-lang top-10 is a rank window whose WindowGroupLimit pushes
    below the shuffle — k rows per partition move, not the whole
    bigram vocabulary."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, "documents")
    from mercurygate_spark.functions import tokens

    ts = tokens("text")
    bg = t["documents"].select(
        "lang",
        F.explode(
            F.when(
                F.size(ts) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at(ts, i), F.element_at(ts, i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    cnt = bg.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return cnt.select("lang", "bigram", "n", F.row_number().over(w).alias("rk")).where(
        F.col("rk") <= 10
    )


@query(
    "dedup_contamination_ngram",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS ts
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts) - 6),
                                   i -> array_to_string(ts[i:i+7], ' '))) AS g
      FROM tok WHERE len(ts) >= 8
    ), bench AS (
      SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0
    )
    SELECT sh.doc_id, count(DISTINCT sh.g) AS n_shared_ngrams
    FROM sh JOIN bench USING (g)
    WHERE sh.doc_id % 50 <> 0
    GROUP BY sh.doc_id
    """,
)
def dedup_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any token
    8-gram with the held-out benchmark set (stand-in: every 50th
    doc_id) are flagged with their shared-shingle count — the standard
    n-gram-overlap contamination check run before pretraining. The
    benchmark side is DISTINCT, tiny by construction (eval suites are
    small even when the corpus is 100 TB) and broadcast, so the corpus
    side never shuffles — one linear pass over exploded shingles plus
    the final per-doc count."""
    t = load_tables(spark, sf_dir, "documents")
    from mercurygate_spark.functions import tokens

    ts = tokens("text")
    sh = t["documents"].select(
        "doc_id",
        F.explode(
            F.when(
                F.size(ts) >= 8,
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - 7),
                    lambda i: F.array_join(F.slice(ts, i, 8), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    bench = sh.where(F.col("doc_id") % 50 == 0).select("g").distinct()
    return (
        sh.where(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared_ngrams"))
    )


# lang_scores imported for reuse by tests; reference it so linters keep it.
_ = lang_scores


_DUCK_TK = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


@query(
    "text_repetition_ratio",
    oracle=f"""
    WITH tri AS (
      SELECT doc_id,
             CASE WHEN len({_DUCK_TK}) >= 3
                  THEN list_transform(range(1, len({_DUCK_TK}) - 1),
                       i -> {_DUCK_TK}[i] || ' ' || {_DUCK_TK}[i+1] || ' ' || {_DUCK_TK}[i+2])
                  ELSE [] END AS tg
      FROM documents
    )
    SELECT doc_id,
           len(tg) AS n_trigrams,
           len(list_distinct(tg)) AS n_distinct_trigrams,
           round(CASE WHEN len(tg) > 0
                      THEN (len(tg) - len(list_distinct(tg))) / len(tg)
                      ELSE 0.0 END, 6) AS dup_ratio,
           CASE WHEN len(tg) > 0
                THEN (len(tg) - len(list_distinct(tg))) / len(tg)
                ELSE 0.0 END > 0.2 AS is_repetitive
    FROM tri
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram ratio per document — the Gopher-rules
    repetition signal corpus filters gate on (a doc whose trigrams are
    mostly copies of each other is boilerplate/spam). Pure codegen
    array expressions, one linear scan, no shuffle; the 0.2 threshold
    is the published Gopher duplicate-n-gram cut.

    The token split and trigram build are let1-bound so each runs
    exactly once per row — alias substitution would otherwise
    re-evaluate the regex split inside the trigram lambda per element
    (see functions.let1)."""
    from mercurygate_spark.functions import let1, tokens, trigram_array

    t = load_tables(spark, sf_dir, "documents")
    stats = let1(
        tokens("text"),
        lambda tk: let1(
            trigram_array(tk),
            lambda tg: F.struct(
                F.size(tg).alias("n"),
                F.size(F.array_distinct(tg)).alias("nd"),
            ),
        ),
    )
    d = t["documents"].select("doc_id", stats.alias("__s"))
    n = F.col("__s.n")
    nd = F.col("__s.nd")
    ratio = F.when(n > 0, (n - nd) / n).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.alias("n_trigrams"),
        nd.alias("n_distinct_trigrams"),
        r6(ratio).alias("dup_ratio"),
        (ratio > 0.2).alias("is_repetitive"),
    )


@query(
    "sql_lateral_explode",
    oracle=f"""
    SELECT doc_id, tk[ii.i + 1] AS token, CAST(ii.i AS INT) AS pos
    FROM (SELECT doc_id, {_DUCK_TK} AS tk FROM documents) d,
         (SELECT unnest(range(3)) AS i) ii
    WHERE ii.i < len(tk)
    """,
)
def sql_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating function through the SQL front door: LATERAL
    VIEW posexplode of the token array, first 3 tokens per document
    (the oracle replays by indexing a bounded range cross-product —
    DuckDB has no WITH ORDINALITY).
    Generate/explode is a map-side row expansion — no shuffle; the
    pos <= 2 filter lands inside the Generate, not after a blow-up."""
    from mercurygate_spark.functions import tokens

    t = load_tables(spark, sf_dir, "documents")
    t["documents"].select("doc_id", tokens("text").alias("tk")).createOrReplaceTempView(
        "doc_tokens"
    )
    return spark.sql(
        """
        SELECT doc_id, token, pos
        FROM doc_tokens
        LATERAL VIEW posexplode(tk) AS pos, token
        WHERE pos <= 2
        """
    )


CHUNK_TOKENS = 32   # chunk window (tokens) — small enough that the
CHUNK_STRIDE = 24   # ~20-token testdata docs still exercise overlap


@query(
    "text_chunk_split",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_DUCK_TK} AS tk, len({_DUCK_TK}) AS n
      FROM documents
    ), idx AS (
      SELECT doc_id, tk, n, unnest(range(0, 1 + greatest(n - 1, 0) // {CHUNK_STRIDE})) AS chunk_idx
      FROM tk WHERE n > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           chunk_idx * {CHUNK_STRIDE} AS chunk_start,
           least({CHUNK_TOKENS}, n - chunk_idx * {CHUNK_STRIDE}) AS chunk_len,
           array_to_string(
             list_slice(tk, chunk_idx * {CHUNK_STRIDE} + 1,
                        chunk_idx * {CHUNK_STRIDE}
                          + least({CHUNK_TOKENS}, n - chunk_idx * {CHUNK_STRIDE})),
             ' ') AS chunk_text
    FROM idx
    WHERE chunk_idx * {CHUNK_STRIDE} < n
    """,
)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the RAG / context-window
    prep step (complement of pipeline_pack_sequences, which packs;
    this SPLITS): every document becomes ceil-strided windows of
    {CHUNK_TOKENS} tokens advancing by {CHUNK_STRIDE} (so consecutive
    chunks share {CHUNK_TOKENS}-{CHUNK_STRIDE} tokens), each chunk
    carrying its reconstructed text. Map-side row expansion via
    explode(sequence) — no shuffle, no UDF; chunk text is
    slice+array_join on the bound token array (let1 keeps the regex
    tokenize at one evaluation per row)."""
    from mercurygate_spark.functions import let1, tokens

    t = load_tables(spark, sf_dir, "documents")

    def chunks(tk):
        n = F.size(tk)
        n_chunks = F.lit(1) + (F.greatest(n - 1, F.lit(0)) / CHUNK_STRIDE).cast("int")
        return F.filter(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.cast("int").alias("chunk_idx"),
                    (i * CHUNK_STRIDE).cast("long").alias("chunk_start"),
                    F.least(F.lit(CHUNK_TOKENS), n - i * CHUNK_STRIDE)
                    .cast("long")
                    .alias("chunk_len"),
                    F.array_join(
                        F.slice(
                            tk,
                            i * CHUNK_STRIDE + 1,
                            F.least(F.lit(CHUNK_TOKENS), n - i * CHUNK_STRIDE),
                        ),
                        " ",
                    ).alias("chunk_text"),
                ),
            ),
            lambda c: c["chunk_start"] < F.size(tk),
        )

    d = t["documents"].select(
        "doc_id", let1(tokens("text"), chunks).alias("cs")
    )
    return (
        d.where(F.size("cs") > 0)
        .select("doc_id", F.explode("cs").alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_start").alias("chunk_start"),
            F.col("c.chunk_len").alias("chunk_len"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


@query(
    "text_quality_percentile_filter",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tokens,
             len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                           t -> t <> ''))) AS n_distinct_tokens
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             (n_distinct_tokens * 1000000) // n_tokens AS ttr_ppm
      FROM feat WHERE n_tokens > 0
    ), ranked AS (
      SELECT doc_id, lang, ttr_ppm,
             percent_rank() OVER (
               PARTITION BY lang ORDER BY ttr_ppm DESC, doc_id
             ) AS pr
      FROM scored
    )
    SELECT doc_id, lang, ttr_ppm, round(pr, 6) AS pctile
    FROM ranked WHERE pr <= 0.5
    """,
)
def text_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality percentile filtering — keep each language's
    top half by type-token ratio (the curation step 'filter to the
    best X% of every domain', which absolute thresholds get wrong
    when domains have different quality distributions). The score is
    integer ppm (exact cross-engine ordering, no float ties);
    percent_rank ties are broken by doc_id so the kept set is
    deterministic.

    Scale note: percent_rank needs a per-domain sort — fine while a
    domain fits a few tasks' shuffle, and languages partition the
    work. At true 100 TB per-domain volumes the dial is the
    approx-quantile threshold + broadcast join (compute each domain's
    median score with percentile_approx, keep rows above it) — same
    semantics minus exact tie handling, zero global sorts."""
    from mercurygate_spark.operators.text import quality_features

    t = load_tables(spark, sf_dir, "documents")
    feat = quality_features(t["documents"], "text").where(F.col("n_tokens") > 0)
    scored = feat.select(
        "doc_id",
        "lang",
        F.expr("(n_distinct_tokens * 1000000) div n_tokens").alias("ttr_ppm"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("ttr_ppm"), F.asc("doc_id"))
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    return ranked.where(F.col("pr") <= 0.5).select(
        "doc_id", "lang", "ttr_ppm", r6(F.col("pr")).alias("pctile")
    )


@query(
    "text_edit_distance_pairs",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, lang,
             regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                            '[^a-z0-9 ]', '', 'g') AS norm
      FROM documents
      WHERE lang <> 'zh'
    ), b AS (
      SELECT doc_id, lang, substr(norm, 1, 30) AS head,
             substr(norm, 1, 3) AS blk
      FROM n
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
    FROM b a JOIN b b
      ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 10
    """,
)
def text_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup pairs: docs sharing (lang,
    3-char normalized prefix) compared by Levenshtein distance over
    their 30-char normalized heads — the fuzzy-match complement of
    shingle Jaccard for SHORT-range edits (typos, template fills).
    Blocking bounds the quadratic term to within-block pairs (measured
    ≤ ~100-row blocks at sf0.1 → ~1e5 comparisons; at corpus scale the
    block key would be an LSH band, same plan). Scoped to latin-script
    langs over an ascii-normalized projection because Spark counts
    Levenshtein in CODE POINTS while DuckDB counts BYTES — equal only
    when every char is single-byte; the zh exclusion keeps the oracle
    exact rather than approximately right."""
    t = load_tables(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " "),
        "[^a-z0-9 ]", "",
    )
    base = (
        t["documents"]
        .where(F.col("lang") != "zh")
        .select(
            "doc_id",
            "lang",
            F.substring(norm, 1, 30).alias("head"),
            F.substring(norm, 1, 3).alias("blk"),
        )
    )
    a = base.select(
        F.col("doc_id").alias("id_a"), "lang", "blk", F.col("head").alias("head_a")
    )
    b = base.select(
        F.col("doc_id").alias("id_b"), "lang", "blk", F.col("head").alias("head_b")
    )
    return (
        a.join(b, ["lang", "blk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("head_a", "head_b").cast("long").alias("dist"),
        )
        .where(F.col("dist") <= 10)
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), idf AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    )
    SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, idf.df,
             tf.tf * (ln((n.n_docs + 1.0) / (idf.df + 1.0)) + 1.0) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (ln((n.n_docs + 1.0) / (idf.df + 1.0)) + 1.0) DESC,
                        tf.term
             ) AS rn
      FROM tf JOIN idf USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (smoothed idf:
    ln((N+1)/(df+1))+1, sklearn's formulation) — keyword extraction /
    relevance scoring over a crawl corpus. Plan: one tokenize+explode
    pass feeds BOTH the per-doc tf agg and the per-term df agg; they
    rejoin keyed on term (df side is post-agg, |vocab| rows — AQE
    broadcasts it when small; at 100 TB vocab it stays a shuffle join,
    which is the correct strategy). The corpus size N is a 1-row
    broadcast crossJoin, and the final top-3 is a WindowGroupLimit —
    per-partition pre-rank, never a global sort. Tie-break on term asc
    pins rank order; equal (tf, df) pairs produce bit-identical doubles
    in both engines so the qualifying set is deterministic."""
    t = load_tables(spark, sf_dir, "documents")
    toks = t["documents"].select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df from the (doc, term) frame — one row per doc×term already, so
    # a plain count, never a second distinct pass over |corpus tokens|
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = t["documents"].agg(F.count("*").alias("n_docs"))
    tfidf = F.col("tf") * (
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    )
    w = Window.partitionBy("doc_id").orderBy(tfidf.desc(), F.col("term").asc())
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", r6(tfidf).alias("tfidf"))
    )


_BM25_TERMS = ("vector", "merge", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75


@query(
    "text_bm25_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS term
      FROM documents
    ), doclen AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), corpus AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN {_BM25_TERMS!r} GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           count(*) AS n_query_terms,
           round(sum(
             ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * ({_BM25_K1} + 1.0)
             / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * doclen.dl / corpus.avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN df USING (term)
    JOIN doclen USING (doc_id)
    CROSS JOIN corpus
    GROUP BY tf.doc_id
    """,
)
def text_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance (k1=1.2, b=0.75, Robertson-Sparck Jones
    +1-smoothed idf) of every document against a fixed 3-term query —
    the retrieval-scoring primitive under corpus search / RAG recall.
    Plan: the tokenize pass feeds doc-length and (query-filtered) tf
    aggs; the per-term df and the 1-row (N, avgdl) frame are both tiny
    by construction (|query| rows) so they broadcast; the only
    fact-sized shuffles are the two hash aggs keyed on doc_id. Query
    terms are pushed as an isin filter BEFORE the tf agg — at 100 TB
    the scored frame is |matching docs|, never |corpus tokens|."""
    t = load_tables(spark, sf_dir, "documents")
    toks = t["documents"].select("doc_id", F.explode(tokens("text")).alias("term"))
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = doclen.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        toks.where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    score = (
        idf
        * F.col("tf")
        * F.lit(_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_query_terms"), r6(F.sum(score)).alias("bm25"))
    )


@query(
    "text_kl_divergence",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS term
      FROM documents
    ), src AS (
      SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2
    ), src_tot AS (
      SELECT source, sum(c) AS n FROM src GROUP BY 1
    ), corp AS (
      SELECT term, count(*) AS c FROM toks GROUP BY 1
    ), corp_tot AS (
      SELECT count(*) AS n FROM toks
    )
    SELECT src.source,
           count(*) AS n_terms,
           round(sum(
             (src.c * 1.0 / src_tot.n)
             * ln((src.c * 1.0 / src_tot.n) / (corp.c * 1.0 / corp_tot.n))
           ), 6) AS kl_bits
    FROM src
    JOIN src_tot USING (source)
    JOIN corp USING (term)
    CROSS JOIN corp_tot
    GROUP BY src.source
    """,
)
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the unigram distribution vs the
    whole corpus — the domain-shift score that drives mixture
    reweighting (DoReMi-style) and contamination triage. One tokenize
    pass feeds the (source, term) and (term) aggs; the corpus term
    frame joins back keyed on term (post-agg, |vocab| rows — no hint,
    AQE decides), the per-source totals broadcast (|sources| rows),
    and the grand total is a 1-row cross. Support is total by
    construction (every source term IS a corpus term), so the inner
    join loses nothing and KL is finite."""
    t = load_tables(spark, sf_dir, "documents")
    toks = t["documents"].select("source", F.explode(tokens("text")).alias("term"))
    src = toks.groupBy("source", "term").agg(F.count("*").alias("c"))
    src_tot = src.groupBy("source").agg(F.sum("c").alias("n"))
    corp = toks.groupBy("term").agg(F.count("*").alias("cc"))
    corp_tot = toks.agg(F.count("*").alias("nn"))
    p_s = F.col("c") * F.lit(1.0) / F.col("n")
    p_c = F.col("cc") * F.lit(1.0) / F.col("nn")
    return (
        src.join(F.broadcast(src_tot), "source")
        .join(corp, "term")
        .crossJoin(F.broadcast(corp_tot))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_terms"),
            r6(F.sum(p_s * F.log(p_s / p_c))).alias("kl_bits"),
        )
    )


DEDUP_CHUNK = 16  # non-overlapping window (tokens) for chunk-level dedup


@query(
    "pipeline_chunk_dedup",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_DUCK_TK} AS tk, len({_DUCK_TK}) AS n
      FROM documents
    ), idx AS (
      SELECT doc_id, tk, n,
             unnest(range(0, 1 + greatest(n - 1, 0) // {DEDUP_CHUNK})) AS ci
      FROM tk WHERE n > 0
    ), chunks AS (
      SELECT doc_id, ci,
             md5(array_to_string(
               list_slice(tk, ci * {DEDUP_CHUNK} + 1,
                          ci * {DEDUP_CHUNK}
                            + least({DEDUP_CHUNK}, n - ci * {DEDUP_CHUNK})),
               ' ')) AS h
      FROM idx WHERE ci * {DEDUP_CHUNK} < n
    ), ranked AS (
      SELECT doc_id, ci, h,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, ci) AS rn
      FROM chunks
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(count_if(rn = 1) AS BIGINT) AS n_kept,
           CAST(count_if(rn > 1) AS BIGINT) AS n_dropped
    FROM ranked GROUP BY doc_id
    """,
)
def pipeline_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-granularity exact dedup — the boilerplate-stripping pass
    document-level dedup can't do: repeated spans (headers, footers,
    license blocks, templated paragraphs) recur across otherwise-
    unique documents, so the dedup unit is the non-overlapping
    {DEDUP_CHUNK}-token window. Each chunk is reduced to its md5;
    first (doc_id, chunk_idx) owner wins; every doc reports how many
    of its chunks survived. Shuffle carries (hash, doc_id, idx) — 48
    bytes/chunk, NEVER chunk text — and the dedupe window partitions
    by hash exactly like window_dedupe_latest. Downstream, a curated
    corpus would re-emit only surviving chunks; the stats frame here
    is the auditable summary of what the pass would remove."""
    from pyspark.sql import Window

    from mercurygate_spark.functions import let1, tokens

    t = load_tables(spark, sf_dir, "documents")

    def chunk_hashes(tk):
        n = F.size(tk)
        n_chunks = F.lit(1) + (F.greatest(n - 1, F.lit(0)) / DEDUP_CHUNK).cast("int")
        return F.filter(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.cast("long").alias("ci"),
                    F.md5(
                        F.array_join(
                            F.slice(
                                tk,
                                i * DEDUP_CHUNK + 1,
                                F.least(F.lit(DEDUP_CHUNK), n - i * DEDUP_CHUNK),
                            ),
                            " ",
                        )
                    ).alias("h"),
                ),
            ),
            lambda c: c["ci"] * DEDUP_CHUNK < F.size(tk),
        )

    chunks = (
        t["documents"]
        .select("doc_id", let1(tokens("text"), chunk_hashes).alias("cs"))
        .where(F.size("cs") > 0)
        .select("doc_id", F.explode("cs").alias("c"))
        .select("doc_id", F.col("c.ci").alias("ci"), F.col("c.h").alias("h"))
    )
    w = Window.partitionBy("h").orderBy("doc_id", "ci")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if(F.col("rn") == 1).alias("n_kept"),
        F.count_if(F.col("rn") > 1).alias("n_dropped"),
    )



SUBSTR_K = 12  # minimum duplicated-substring length (tokens): a span is
               # "duplicated" iff every token of it lies inside some
               # K-token window that occurs ≥2 times corpus-wide
               # (Lee et al. 2022 use 50 BPE tokens at web scale; 12
               # keeps the testdata's 10-99-token docs non-trivial)


@query(
    "dedup_substring_exact",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_DUCK_TK} AS tk, len({_DUCK_TK}) AS n FROM documents
    ), g AS (
      SELECT doc_id, tk, unnest(range(0, n - {SUBSTR_K} + 1)) AS pos
      FROM tk WHERE n >= {SUBSTR_K}
    ), gh AS (
      SELECT doc_id, pos,
             md5(array_to_string(list_slice(tk, pos + 1, pos + {SUBSTR_K}), ' ')) AS h
      FROM g
    ), dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM gh
      ) WHERE c >= 2
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {SUBSTR_K} THEN 0 ELSE 1 END AS b
      FROM dup
    ), rid AS (
      SELECT doc_id, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      FROM brk
    ), runs AS (
      SELECT doc_id, run_id, min(pos) AS rs, max(pos) + {SUBSTR_K} - 1 AS re
      FROM rid GROUP BY 1, 2
    ), per_doc AS (
      SELECT doc_id,
             count(*) AS n_dup_runs,
             sum(re - rs + 1) AS n_dup_tokens,
             max(re - rs + 1) AS max_run_len
      FROM runs GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_tokens,
           CAST(coalesce(p.n_dup_runs, 0) AS BIGINT) AS n_dup_runs,
           CAST(coalesce(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           CAST(coalesce(p.max_run_len, 0) AS BIGINT) AS max_run_len
    FROM tk t LEFT JOIN per_doc p USING (doc_id)
    WHERE t.n >= {SUBSTR_K}
    """,
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", ExactSubstr) — the canonical
    "remove repeated ≥K-token substrings from training data" operator,
    the member of the dedup family that whole-doc (dedup_exact),
    near-dup (dedup_minhash_lsh) and fixed-chunk (pipeline_chunk_dedup)
    passes all miss: a duplicated span at an arbitrary OFFSET inside
    two otherwise-unique documents.

    Distributed shape — sorted k-grams, never a global suffix array on
    one node (the paper's single-node suffix automaton does not
    distribute; its k-gram formulation does):
      1. each doc emits its OVERLAPPING {SUBSTR_K}-token windows as
         (md5, doc_id, pos) — the shuffle carries 48-byte gram keys,
         NEVER text (plan-pinned in tests/test_plans.py);
      2. a count window over the gram hash marks every window that
         occurs ≥2 times corpus-wide (within-doc repeats count, per
         the paper — self-repetition is training-data duplication too);
      3. per doc, duplicated window STARTS merge into maximal runs
         (interval union: equal-length intervals [pos, pos+K-1] chain
         while the start gap ≤ K), the lag+cumsum idiom — so two
         overlapping duplicated windows report one span, and the
         token-coverage count is exact, not per-window-double-counted.
    Per-doc audit frame: token count, number of maximal duplicated
    runs, tokens covered by duplicated runs, longest run. Downstream a
    curation pass re-emits each doc minus its runs; this stats frame
    is the auditable summary (same doctrine as pipeline_chunk_dedup).

    At 100 TB: grams ≈ tokens (n-K+1 per doc), so stage 1 shuffles
    ~48 bytes/token once — the same order as any tokenize-and-count
    pass; the per-doc run-merge windows partition by doc_id (bounded
    by doc length). 10x scale probe: docs/scale_probe_r11.json."""
    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"].select(
        "doc_id", tokens("text").alias("tk")
    ).withColumn("n", F.size("tk")).where(F.col("n") >= SUBSTR_K)

    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - SUBSTR_K),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.md5(F.array_join(F.slice("tk", i + 1, SUBSTR_K), " ")).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))

    dup = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(wd) <= SUBSTR_K, F.lit(0)).otherwise(
        F.lit(1)
    )
    rid = dup.withColumn("run_id", F.sum(brk).over(wd))
    runs = rid.groupBy("doc_id", "run_id").agg(
        F.min("pos").alias("rs"), (F.max("pos") + SUBSTR_K - 1).alias("re")
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_runs"),
        F.sum(F.col("re") - F.col("rs") + 1).alias("n_dup_tokens"),
        F.max(F.col("re") - F.col("rs") + 1).alias("max_run_len"),
    )
    return (
        docs.select("doc_id", F.col("n").cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_runs", F.lit(0)).cast("long").alias("n_dup_runs"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.coalesce("max_run_len", F.lit(0)).cast("long").alias("max_run_len"),
        )
    )


@query(
    "dedup_substring_apply",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_DUCK_TK} AS tk, len({_DUCK_TK}) AS n FROM documents
    ), g AS (
      SELECT doc_id, tk, unnest(range(0, n - {SUBSTR_K} + 1)) AS pos
      FROM tk WHERE n >= {SUBSTR_K}
    ), gh AS (
      SELECT doc_id, pos,
             md5(array_to_string(list_slice(tk, pos + 1, pos + {SUBSTR_K}), ' ')) AS h
      FROM g
    ), dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM gh
      ) WHERE c >= 2
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {SUBSTR_K} THEN 0 ELSE 1 END AS b
      FROM dup
    ), rid AS (
      SELECT doc_id, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      FROM brk
    ), runs AS (
      SELECT doc_id, run_id, min(pos) AS rs, max(pos) + {SUBSTR_K} - 1 AS re
      FROM rid GROUP BY 1, 2
    ), run_arrays AS (
      SELECT doc_id, list(struct_pack(rs := rs, re := re)) AS rr
      FROM runs GROUP BY 1
    ), kept AS (
      SELECT t.doc_id, t.n,
             CASE WHEN a.rr IS NULL THEN t.tk
                  ELSE list_transform(
                         list_filter(range(0, t.n),
                           p -> len(list_filter(a.rr,
                                  r -> p >= r.rs AND p <= r.re)) = 0),
                         p -> t.tk[p + 1])
             END AS kt
      FROM tk t LEFT JOIN run_arrays a USING (doc_id)
      WHERE t.n >= {SUBSTR_K}
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(kt) AS BIGINT) AS n_kept,
           -- DuckDB's array_to_string([]) is NULL where Spark's
           -- array_join([]) is '' — a fully-deleted doc must hash as
           -- the empty string on both engines
           md5(coalesce(array_to_string(kt, ' '), '')) AS kept_hash
    FROM kept
    """,
)
def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_substring_exact APPLIED — re-emit the corpus with every
    token inside a duplicated maximal run REMOVED (Lee et al. 2022's
    ExactSubstr deletion semantics: every occurrence of a duplicated
    ≥K-token span is dropped; the conservative variant — no ownership
    bookkeeping, both copies go, matching the paper's observation that
    duplicated spans are overwhelmingly boilerplate). The stats twin
    reports coverage; THIS key pins the actual reconstruction — each
    doc's surviving token sequence is content-hashed (md5 over the
    space-joined kept tokens, order preserved), so an off-by-one in
    run extension or interval union fails the value hash, not just a
    count.

    Plan shape: the dup-run detection is dedup_substring_exact's
    (48-byte gram shuffle, per-doc interval union); application adds
    ONE doc-keyed join (runs aggregated to a per-doc interval array —
    rows = docs with ≥1 run, far smaller than the corpus) and a pure
    codegen filter/transform over the token array. No second corpus
    shuffle: the text column never leaves its scan partition until the
    final per-doc hash."""
    t = load_tables(spark, sf_dir, "documents")
    docs = (
        t["documents"]
        .select("doc_id", tokens("text").alias("tk"))
        .withColumn("n", F.size("tk"))
        .where(F.col("n") >= SUBSTR_K)
    )

    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - SUBSTR_K),
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.md5(F.array_join(F.slice("tk", i + 1, SUBSTR_K), " ")).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))

    dup = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(wd) <= SUBSTR_K, F.lit(0)).otherwise(
        F.lit(1)
    )
    runs = (
        dup.withColumn("run_id", F.sum(brk).over(wd))
        .groupBy("doc_id", "run_id")
        .agg(F.min("pos").alias("rs"), (F.max("pos") + SUBSTR_K - 1).alias("re"))
    )
    run_arrays = runs.groupBy("doc_id").agg(
        F.collect_list(F.struct("rs", "re")).alias("rr")
    )
    kept = docs.join(run_arrays, "doc_id", "left").select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.when(F.col("rr").isNull(), F.col("tk"))
        .otherwise(
            F.transform(
                F.filter(
                    F.sequence(F.lit(0), F.col("n") - 1),
                    lambda p: ~F.exists(
                        F.col("rr"), lambda r: (p >= r["rs"]) & (p <= r["re"])
                    ),
                ),
                lambda p: F.element_at("tk", (p + 1).cast("int")),
            )
        )
        .alias("kt"),
    )
    return kept.select(
        "doc_id",
        "n_tokens",
        F.size("kt").cast("long").alias("n_kept"),
        F.md5(F.array_join("kt", " ")).alias("kept_hash"),
    )


def adjacent_pairs(tk):
    """Array of (w1, w2) structs for every ADJACENT element pair of
    tk — the token array zipped against itself shifted one, built
    map-side with two slices (no self-join, no posexplode+join).
    Shared by text_bpe_merge_step and its property test."""
    # greatest(n-1, 0): slice() rejects negative lengths, and an
    # empty/1-token array has no pairs — found by the property test,
    # not by any SF of the testdata (no document tokenizes to empty)
    n_pairs = F.greatest(F.size(tk) - 1, F.lit(0))
    return F.arrays_zip(
        F.slice(tk, 1, n_pairs).alias("w1"),
        F.slice(tk, 2, n_pairs).alias("w2"),
    )


BPE_TOPK = 20  # merge candidates surfaced per step


@query(
    "text_bpe_merge_step",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_DUCK_TK} AS tk FROM documents
    ), p AS (
      SELECT tk[i] AS w1, tk[i+1] AS w2
      FROM tk, UNNEST(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
    )
    SELECT w1, w2, w1 || '_' || w2 AS merged, count(*) AS n_pairs
    FROM p GROUP BY 1, 2, 3
    ORDER BY n_pairs DESC, w1, w2 LIMIT {BPE_TOPK}
    """,
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-style merge iteration at token granularity: count every
    ADJACENT token pair across the corpus and surface the top
    {BPE_TOPK} merge candidates — the statistic a tokenizer-training
    loop computes per round (on bytes/chars in real BPE; the adjacency
    machinery is identical). Pairs are built map-side by zipping the
    token array against itself shifted one (two slices + arrays_zip —
    no self-join, no window), so the only shuffle is the pair-count
    groupBy with map-side combine, and the top-k is
    TakeOrderedAndProject (count desc, then lexicographic — fully
    deterministic). At 100 TB each merge round is one scan + one
    bounded shuffle; the merged vocabulary table stays driver-size."""
    from mercurygate_spark.functions import let1, tokens

    t = load_tables(spark, sf_dir, "documents")

    p = (
        t["documents"]
        .select(let1(tokens("text"), adjacent_pairs).alias("ps"))
        .where(F.size("ps") > 0)
        .select(F.explode("ps").alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    counted = p.groupBy("w1", "w2").agg(F.count("*").alias("n_pairs"))
    return (
        counted.select(
            "w1",
            "w2",
            F.concat_ws("_", "w1", "w2").alias("merged"),
            "n_pairs",
        )
        .orderBy(F.col("n_pairs").desc(), "w1", "w2")
        .limit(BPE_TOPK)
    )


BPE_TRAIN_MERGES = 8  # rounds trained by text_bpe_train
# Tokenizer-trainer corpus re-materialization interval (r15 guide §5):
# the merged corpus localCheckpoints every this-many rounds instead of
# every round — between checkpoints merge application rides as a lazy
# replace chain inside the next round's scan (≤ 3·interval extra
# map-side replaces, far cheaper than a full corpus write+read/round
# at 100 TB). Values are round-for-round identical either way.
TOKENIZER_CHK_EVERY = 4


def _bpe_chain_sql(source: str = "documents") -> str:
    """The shared unrolled-CTE chain replaying the whole BPE training
    loop (docs0..docs{BPE_TRAIN_MERGES}, per-round winner selection in
    sel{k}) — the WITH body both BPE oracles build on. ``source`` is
    the (doc_id, text) relation the tokenizer trains on — the corpus
    capstone passes its curated-survivor CTE so the trained merges are
    a function of exactly the surviving documents.

    AS MATERIALIZED is load-bearing: each round references the
    previous round ~7× (pair count + 6 scalar subqueries in the
    triple replace); DuckDB inlines plain CTEs, which would expand
    the 8-round chain to ~7^8 copies of the base scan."""
    parts = [
        f"""docs0 AS MATERIALIZED (
      SELECT doc_id, ' ' || array_to_string({_DUCK_TK}, ' ') || ' ' AS s
      FROM {source}
    )"""
    ]
    for k in range(1, BPE_TRAIN_MERGES + 1):
        prev = f"docs{k - 1}"
        pat = f"(SELECT ' ' || w1 || ' ' || w2 || ' ' FROM sel{k})"
        rep = f"(SELECT ' ' || w1 || '_' || w2 || ' ' FROM sel{k})"
        parts.append(
            f"""pc{k} AS MATERIALIZED (
      SELECT w1, w2, count(*) AS c FROM (
        SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT string_split(trim(s), ' ') AS tk FROM {prev}) t,
             UNNEST(range(1, len(tk))) AS u(i)
        WHERE len(tk) >= 2
      ) p WHERE w1 <> w2 GROUP BY 1, 2
    ), sel{k} AS MATERIALIZED (
      SELECT w1, w2, c FROM pc{k} ORDER BY c DESC, w1, w2 LIMIT 1
    ), docs{k} AS MATERIALIZED (
      SELECT doc_id,
             replace(replace(replace(s, {pat}, {rep}), {pat}, {rep}),
                     {pat}, {rep}) AS s
      FROM {prev}
    )"""
        )
    return ",\n    ".join(parts)


def _bpe_train_oracle() -> str:
    """Generated unrolled-CTE oracle for text_bpe_train: per round,
    select the winning pair (count desc, lexicographic, self-pairs
    excluded) and apply it with the SAME triple string-replace both
    engines use, so merge order can never drift (the
    pagerank_oracle_sql doctrine applied to a data-dependent loop —
    the iteration COUNT is unrolled, each round's merge choice is
    computed in SQL)."""
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS step, w1, w2, w1 || '_' || w2 AS merged,"
        f" CAST(c AS BIGINT) AS n_pairs FROM sel{k}"
        for k in range(1, BPE_TRAIN_MERGES + 1)
    )
    return "WITH " + _bpe_chain_sql() + "\n    " + selects


def _bpe_train_loop(
    spark: SparkSession, sf_dir: str, docs_src: DataFrame | None = None
):
    """The shared BPE training loop: returns (final merged corpus
    frame with column ``s``, list of (step, w1, w2, merged, count)
    winner rows). Mechanics documented on text_bpe_train. ``docs_src``
    optionally replaces the full documents table as the training
    corpus (the capstone trains on its curated survivors)."""
    from mercurygate_spark.functions import tokens

    t = (
        {"documents": docs_src}
        if docs_src is not None
        else load_tables(spark, sf_dir, "documents")
    )
    docs = t["documents"].select(
        "doc_id",
        F.concat(F.lit(" "), F.concat_ws(" ", tokens("text")), F.lit(" ")).alias("s"),
    )
    docs = docs.localCheckpoint(eager=True)

    rows = []
    for step in range(1, BPE_TRAIN_MERGES + 1):
        tk = F.split(F.trim(F.col("s")), " ")
        pairs = (
            docs.select(F.explode(adjacent_pairs(tk)).alias("p"))
            .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
            .where(F.col("w1") != F.col("w2"))
        )
        top = (
            pairs.groupBy("w1", "w2")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "w1", "w2")
            .limit(1)
            .collect()  # bounded by construction: exactly 1 row/round
        )
        w1, w2, c = top[0]["w1"], top[0]["w2"], top[0]["c"]
        merged = f"{w1}_{w2}"
        rows.append((step, w1, w2, merged, c))
        pat, rep = F.lit(f" {w1} {w2} "), F.lit(f" {w1}_{w2} ")
        s = F.col("s")
        for _ in range(3):
            s = F.replace(s, pat, rep)
        # merge application stays a LAZY codegen expression chain on
        # the checkpointed base instead of a per-round full-corpus
        # materialization (guide §5: a localCheckpoint per round writes
        # and re-reads the whole corpus 8 times at 100 TB, while
        # re-evaluating ≤ 3·TOKENIZER_CHK_EVERY string replaces inside
        # the next round's scan is a cheap map-side expression); a
        # periodic checkpoint bounds the expression chain if the round
        # count ever grows. Winner selection per round still sees
        # exactly the post-merge corpus — values are unchanged (the
        # unrolled-CTE oracle pins every round's winner).
        docs = docs.select("doc_id", s.alias("s"))
        if step % TOKENIZER_CHK_EVERY == 0 and step < BPE_TRAIN_MERGES:
            docs = docs.localCheckpoint(eager=True)
    return docs, rows


@query("text_bpe_train", oracle=_bpe_train_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer-training loop ({BPE_TRAIN_MERGES} merges) at
    token granularity: per round, count adjacent pairs across the
    corpus, pick ONE winning merge (count desc, then lexicographic;
    self-pairs w1=w2 excluded — see below), apply it everywhere, and
    repeat on the merged corpus — the data-dependent iteration
    text_bpe_merge_step does one round of.

    Spark-first mechanics, per round:
    - pair counting is the bpe_merge_step plan (map-side slice+zip,
      one partial-agg shuffle, winner via TakeOrderedAndProject);
    - the winner — ONE row — is the only thing the driver ever sees
      (bounded collect, same doctrine as IVF centroids);
    - merge application is a TRIPLE ``replace`` over the space-joined
      token string — a codegen JVM scan, no shuffle, no Python. One
      leftmost-restart replace pass can skip an occurrence whose
      leading delimiter the previous match consumed; with self-pairs
      excluded, matches are token-disjoint and every skipped
      occurrence has an intact delimiter on the next pass, so three
      passes are ≥1 more than worst-case. Self-pairs are excluded
      from ranking because run-collapsing (aaaa) needs run-parity
      semantics no string replay can express — a documented spec
      choice, not an accident;
    - the corpus is localCheckpoint-ed each round (CC/PageRank
      lineage-truncation doctrine), so round k never replays rounds
      1..k-1.

    The oracle replays every round — including each round's winner
    SELECTION — in one generated unrolled CTE, so a drift in merge
    order, application semantics, or round count fails the hash."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    _, rows = _bpe_train_loop(spark, sf_dir)

    schema = StructType(
        [
            StructField("step", LongType()),
            StructField("w1", StringType()),
            StructField("w2", StringType()),
            StructField("merged", StringType()),
            StructField("n_pairs", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _bpe_apply_oracle() -> str:
    n = BPE_TRAIN_MERGES
    return f"""
    WITH {_bpe_chain_sql()}
    SELECT
      (SELECT count(*) FROM docs0) AS n_docs,
      (SELECT CAST(sum(len({_DUCK_TK})) AS BIGINT)
       FROM documents) AS tokens_before,
      (SELECT CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT)
       FROM docs{n}) AS tokens_after,
      (SELECT CAST(sum(len(list_filter(string_split(trim(s), ' '),
                                       t -> contains(t, '_')))) AS BIGINT)
       FROM docs{n}) AS merged_tokens
    """


@query("text_bpe_apply", oracle=_bpe_apply_oracle())
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION after training — the stat a pipeline
    reports when it re-encodes the corpus with a freshly trained
    vocabulary: total token count before and after the
    {BPE_TRAIN_MERGES} learned merges, and how many emitted tokens are
    merged symbols. Shares the exact training loop (and its oracle
    chain) with text_bpe_train; the result frame is one aggregate row,
    so train-then-apply composes without any new shuffle beyond the
    final count."""
    docs, _ = _bpe_train_loop(spark, sf_dir)
    tk = F.split(F.trim(F.col("s")), " ")
    per_doc = docs.select(
        F.size(tk).alias("n_after"),
        F.size(F.filter(tk, lambda t: t.contains("_"))).alias("n_merged"),
    )
    # tokens_before comes from the PRE-merge token arrays (not from
    # the after-count + merges identity), so the check is independent
    # of the merge bookkeeping.
    t = load_tables(spark, sf_dir, "documents")
    from mercurygate_spark.functions import tokens

    before = t["documents"].select(F.size(tokens("text")).alias("n_before"))
    a = before.agg(
        F.count("*").alias("n_docs"), F.sum("n_before").alias("tokens_before")
    )
    b = per_doc.agg(
        F.sum("n_after").alias("tokens_after"),
        F.sum("n_merged").alias("merged_tokens"),
    )
    return a.crossJoin(b).select(
        "n_docs", "tokens_before", "tokens_after", "merged_tokens"
    )


WP_TRAIN_MERGES = 8   # rounds trained by text_wordpiece_train
WP_SCALE = 10**9      # fixed-point scale for the likelihood score


def _wp_chain_sql() -> str:
    """Unrolled-CTE chain replaying the WordPiece training loop: same
    docs{k} / triple-replace skeleton as _bpe_chain_sql, but each
    round's winner is selected by the LIKELIHOOD score
    count(ab)/(count(a)*count(b)) — quantized to the exact integer
    (c * WP_SCALE) // (u1 * u2) so the two engines can never disagree
    on a ranking (float division drift would compound: a different
    round-3 winner changes every later round)."""
    parts = [
        f"""docs0 AS MATERIALIZED (
      SELECT doc_id, ' ' || array_to_string({_DUCK_TK}, ' ') || ' ' AS s
      FROM documents
    )"""
    ]
    for k in range(1, WP_TRAIN_MERGES + 1):
        prev = f"docs{k - 1}"
        pat = f"(SELECT ' ' || w1 || ' ' || w2 || ' ' FROM sel{k})"
        rep = f"(SELECT ' ' || w1 || '_' || w2 || ' ' FROM sel{k})"
        parts.append(
            f"""uc{k} AS MATERIALIZED (
      SELECT t AS w, count(*) AS u FROM (
        SELECT unnest(string_split(trim(s), ' ')) AS t FROM {prev}
      ) GROUP BY 1
    ), pc{k} AS MATERIALIZED (
      SELECT w1, w2, count(*) AS c FROM (
        SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM (SELECT string_split(trim(s), ' ') AS tk FROM {prev}) t,
             UNNEST(range(1, len(tk))) AS u(i)
        WHERE len(tk) >= 2
      ) p WHERE w1 <> w2 GROUP BY 1, 2
    ), sel{k} AS MATERIALIZED (
      SELECT p.w1, p.w2, p.c,
             (p.c * {WP_SCALE}) // (u1.u * u2.u) AS sq
      FROM pc{k} p
      JOIN uc{k} u1 ON u1.w = p.w1
      JOIN uc{k} u2 ON u2.w = p.w2
      ORDER BY sq DESC, p.c DESC, p.w1, p.w2 LIMIT 1
    ), docs{k} AS MATERIALIZED (
      SELECT doc_id,
             replace(replace(replace(s, {pat}, {rep}), {pat}, {rep}),
                     {pat}, {rep}) AS s
      FROM {prev}
    )"""
        )
    return ",\n    ".join(parts)


def _wp_train_loop(docs: DataFrame, merges: int) -> tuple[DataFrame, list[tuple]]:
    """The WordPiece training loop over a space-joined corpus frame
    (columns doc_id, s — ' tok tok ... '); returns (final merged
    corpus frame, winner rows (step, w1, w2, merged, n_pairs,
    score_q)). Factored out of the key so the property test can drive
    it with a constructed corpus and compare against a pure-Python
    greedy replay, and so text_wordpiece_apply shares the loop."""
    docs = docs.localCheckpoint(eager=True)
    rows = []
    for step in range(1, merges + 1):
        tk = F.split(F.trim(F.col("s")), " ")
        uc = (
            docs.select(F.explode(tk).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("u"))
        )
        pairs = (
            docs.select(F.explode(adjacent_pairs(tk)).alias("p"))
            .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
            .where(F.col("w1") != F.col("w2"))
        )
        pc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
        scored = (
            pc.join(uc.select(F.col("w").alias("w1"), F.col("u").alias("u1")), "w1")
            .join(uc.select(F.col("w").alias("w2"), F.col("u").alias("u2")), "w2")
            .withColumn("sq", F.expr(f"(c * {WP_SCALE}L) div (u1 * u2)"))
        )
        top = (
            scored.orderBy(F.col("sq").desc(), F.col("c").desc(), "w1", "w2")
            .limit(1)
            .collect()  # bounded by construction: exactly 1 row/round
        )
        w1, w2, c, sq = top[0]["w1"], top[0]["w2"], top[0]["c"], top[0]["sq"]
        rows.append((step, w1, w2, f"{w1}_{w2}", c, sq))
        pat, rep = F.lit(f" {w1} {w2} "), F.lit(f" {w1}_{w2} ")
        s = F.col("s")
        for _ in range(3):
            s = F.replace(s, pat, rep)
        # lazy merge application + periodic checkpoint — see
        # _bpe_train_loop for the full rationale (one corpus
        # materialization every TOKENIZER_CHK_EVERY rounds instead of
        # one per round; winner values unchanged, oracle-pinned)
        docs = docs.select("doc_id", s.alias("s"))
        if step % TOKENIZER_CHK_EVERY == 0 and step < merges:
            docs = docs.localCheckpoint(eager=True)
    return docs, rows


def _wp_train_oracle() -> str:
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT {k} AS step, w1, w2, w1 || '_' || w2 AS merged,"
        f" CAST(c AS BIGINT) AS n_pairs, CAST(sq AS BIGINT) AS score_q FROM sel{k}"
        for k in range(1, WP_TRAIN_MERGES + 1)
    )
    return "WITH " + _wp_chain_sql() + "\n    " + selects


@query("text_wordpiece_train", oracle=_wp_train_oracle())
def text_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training ({WP_TRAIN_MERGES} merges) — the
    third member of the tokenizer-training family (BPE: count-scored
    merges; unigram/SentencePiece: global Viterbi-EM pruning;
    WordPiece: LIKELIHOOD-scored merges, Schuster & Nakajima 2012 /
    BERT). Per round the winning pair maximizes
    count(ab) / (count(a) * count(b)) — the increase in corpus
    log-likelihood under a unigram LM when ab becomes one symbol —
    instead of BPE's raw count(ab); rare-but-always-together pairs
    win over frequent-but-independent ones.

    Mechanics shared with text_bpe_train (token granularity, triple-
    replace application, one bounded 1-row collect per round,
    localCheckpoint lineage truncation; self-pairs excluded for
    replace-safety). New per round: a unigram-count frame joined onto
    the pair counts (two vocab-sized frames keyed on the token — AQE
    sizes the join; at 100 TB both are vocab-bounded, not
    corpus-bounded). The score is quantized to the exact integer
    (c * {WP_SCALE}) div (u1*u2) — long `div` long on BOTH engines —
    because a float score could flip a round's winner on a last-ulp
    difference and compound through every later round; ties break by
    raw pair count desc, then lexicographic. (Int64 headroom:
    c * {WP_SCALE} overflows past c ≈ 9.2e9 — at that corpus scale
    promote the numerator to DECIMAL(38,0)/HUGEINT, both engines
    support it.) Oracle: the full loop unrolled, winner selection
    included, so merge-order drift fails the hash."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mercurygate_spark.functions import tokens

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"].select(
        "doc_id",
        F.concat(F.lit(" "), F.concat_ws(" ", tokens("text")), F.lit(" ")).alias("s"),
    )
    _, rows = _wp_train_loop(docs, WP_TRAIN_MERGES)

    schema = StructType(
        [
            StructField("step", LongType()),
            StructField("w1", StringType()),
            StructField("w2", StringType()),
            StructField("merged", StringType()),
            StructField("n_pairs", LongType()),
            StructField("score_q", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _wp_apply_oracle() -> str:
    n = WP_TRAIN_MERGES
    return f"""
    WITH {_wp_chain_sql()}
    SELECT
      (SELECT count(*) FROM docs0) AS n_docs,
      (SELECT CAST(sum(len({_DUCK_TK})) AS BIGINT)
       FROM documents) AS tokens_before,
      (SELECT CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT)
       FROM docs{n}) AS tokens_after,
      (SELECT CAST(sum(len(list_filter(string_split(trim(s), ' '),
                                       t -> contains(t, '_')))) AS BIGINT)
       FROM docs{n}) AS merged_tokens
    """


@query("text_wordpiece_apply", oracle=_wp_apply_oracle())
def text_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece APPLICATION after training — same audit frame as
    text_bpe_apply (corpus token count before/after the
    {WP_TRAIN_MERGES} learned merges + merged-symbol count), but under
    the likelihood-scored merge sequence, which picks DIFFERENT merges
    than BPE's count-scored one (the property test constructs a case;
    on the testdata the two vocabularies diverge from round 1).
    Shares _wp_train_loop and its oracle chain; the result is one
    aggregate row on top of the trained corpus."""
    from mercurygate_spark.functions import tokens

    t = load_tables(spark, sf_dir, "documents")
    docs0 = t["documents"].select(
        "doc_id",
        F.concat(F.lit(" "), F.concat_ws(" ", tokens("text")), F.lit(" ")).alias("s"),
    )
    docs, _ = _wp_train_loop(docs0, WP_TRAIN_MERGES)
    tk = F.split(F.trim(F.col("s")), " ")
    per_doc = docs.select(
        F.size(tk).alias("n_after"),
        F.size(F.filter(tk, lambda tok: tok.contains("_"))).alias("n_merged"),
    )
    before = t["documents"].select(F.size(tokens("text")).alias("n_before"))
    a = before.agg(
        F.count("*").alias("n_docs"), F.sum("n_before").alias("tokens_before")
    )
    b = per_doc.agg(
        F.sum("n_after").alias("tokens_after"),
        F.sum("n_merged").alias("merged_tokens"),
    )
    return a.crossJoin(b).select(
        "n_docs", "tokens_before", "tokens_after", "merged_tokens"
    )


@query(
    "text_lang_id_metrics",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_SCORE_COLS}
      FROM documents
    ), best AS (
      SELECT *, {_BEST} AS best FROM scored
    ), pred AS (
      SELECT lang AS truth, {_CASE} AS pred FROM best
    ), m AS (
      SELECT truth AS lang,
             count(*) AS n_true,
             CAST(count_if(pred = truth) AS BIGINT) AS tp
      FROM pred GROUP BY truth
    ), p AS (
      SELECT pred AS lang, count(*) AS n_pred FROM pred GROUP BY pred
    )
    SELECT m.lang, m.n_true, coalesce(p.n_pred, 0) AS n_pred, m.tp,
           round(m.tp * 1.0 / nullif(coalesce(p.n_pred, 0), 0), 6) AS precision,
           round(m.tp * 1.0 / m.n_true, 6) AS recall,
           round(2.0 * m.tp / nullif(m.n_true + coalesce(p.n_pred, 0), 0), 6)
             AS f1
    FROM m LEFT JOIN p USING (lang)
    """,
)
def text_lang_id_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation at corpus scale: per-language precision /
    recall / F1 of the lang-ID heuristic against the labeled truth —
    the eval rollup every model-in-the-loop curation pipeline needs
    (text_lang_id emits the raw confusion matrix; this key reduces it
    to the decision metrics). Two tiny aggregates over the scored
    scan (per-truth counts + true positives, per-prediction counts)
    joined on language — 5 rows each, the scan dominates. F1 written
    as 2·tp/(n_true+n_pred) — identical to the harmonic mean but with
    ONE rounded division instead of nested rounded divisions, so both
    engines derive it from bit-identical integers."""
    from mercurygate_spark.operators.text import lang_id

    t = load_tables(spark, sf_dir, "documents")
    pred = t["documents"].select(
        F.col("lang").alias("truth"), lang_id("text").alias("pred")
    )
    m = pred.groupBy(F.col("truth").alias("lang")).agg(
        F.count("*").alias("n_true"),
        F.count_if(F.col("pred") == F.col("truth")).alias("tp"),
    )
    p = pred.groupBy(F.col("pred").alias("lang")).agg(
        F.count("*").alias("n_pred")
    )
    joined = m.join(p, "lang", "left").withColumn(
        "n_pred", F.coalesce("n_pred", F.lit(0))
    )
    return joined.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        r6(F.col("tp") / F.nullif(F.col("n_pred"), F.lit(0))).alias("precision"),
        r6(F.col("tp") / F.col("n_true")).alias("recall"),
        r6(
            2.0 * F.col("tp") / F.nullif(F.col("n_true") + F.col("n_pred"), F.lit(0))
        ).alias("f1"),
    )


FEATURE_DIM = 32       # hashed feature space width
FEATURE_SHARD_PCT = 20  # feature-hash the 20% deterministic shard


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              % 100 < {FEATURE_SHARD_PCT}
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '')) AS token
      FROM d
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 15))::BIGINT % {FEATURE_DIM} AS INT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tok GROUP BY 1, 2
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009):
    tokens map straight into a fixed {FEATURE_DIM}-dim space via the
    content hash, emitted as sparse (doc, bucket, count) entries over
    the deterministic 20% training shard. The scale property IS the
    operator: no vocabulary is ever built, broadcast, or synchronized
    — the feature id is a pure function of the token, so the same
    token lands in the same bucket on any executor, any engine, any
    day, and the whole computation is explode → map-side hash →
    partially-aggregable groupBy. The vocabulary-indexed alternative
    (text_tfidf_topk's df frame) needs a corpus-wide build + join;
    this needs nothing."""
    from mercurygate_spark.functions import md5_long, tokens
    from mercurygate_spark.queries.sampling import hash_bucket

    t = load_tables(spark, sf_dir, "documents")
    d = t["documents"].where(hash_bucket(F.col("doc_id")) < FEATURE_SHARD_PCT)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    return tok.groupBy(
        "doc_id",
        (md5_long(F.col("token")) % FEATURE_DIM).cast("int").alias("bucket"),
    ).agg(F.count("*").alias("cnt"))


PMI_MIN_PAIRS = 5   # collocation support floor
PMI_TOPK = 20


@query(
    "text_collocation_pmi",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {{tk}} AS tk FROM documents
    ),
    uni AS (
      SELECT unnest(tk) AS w FROM tk
    ),
    ucnt AS (SELECT w, count(*) AS n_w FROM uni GROUP BY w),
    utot AS (SELECT CAST(count(*) AS BIGINT) AS u FROM uni),
    p AS (
      SELECT tk[i] AS w1, tk[i+1] AS w2
      FROM tk, UNNEST(range(1, len(tk))) AS t(i)
      WHERE len(tk) >= 2
    ),
    pcnt AS (SELECT w1, w2, count(*) AS n_ab FROM p GROUP BY w1, w2),
    ptot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM p),
    scored AS (
      SELECT pc.w1, pc.w2,
             CAST(pc.n_ab AS BIGINT) AS n_pairs,
             ln((pc.n_ab::DOUBLE * ut.u * ut.u)
                / (pt.t::DOUBLE * a.n_w * b.n_w)) AS pmi_raw
      FROM pcnt pc
      JOIN ucnt a ON a.w = pc.w1
      JOIN ucnt b ON b.w = pc.w2
      CROSS JOIN utot ut CROSS JOIN ptot pt
      WHERE pc.n_ab >= {PMI_MIN_PAIRS}
    )
    SELECT w1, w2, n_pairs, round(pmi_raw, 6) AS pmi
    FROM scored
    ORDER BY round(pmi_raw, 6) DESC, w1, w2 LIMIT {PMI_TOPK}
    """.format(tk=_DUCK_TK),
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection by pointwise mutual information over
    adjacent token pairs (Church & Hanks 1990) — the corpus statistic
    behind phrase mining and word2vec-era preprocessing. Pairs come
    from the map-side adjacent_pairs zip (no self-join, no
    posexplode+join); unigram and pair counts are two partially-
    aggregable groupBys; PMI joins each pair to its two unigram
    counts WITHOUT broadcast hints (the vocabulary is unbounded at
    web scale — the tfidf doctrine), while the two 1-row totals ARE
    broadcast. The double arithmetic is one identical expression tree
    on both engines (counts cast to double before multiplying, so no
    int64 overflow at any corpus size), r6-rounded; top-{PMI_TOPK}
    rides TakeOrderedAndProject, never a global sort."""
    from mercurygate_spark.functions import let1, r6, tokens

    t = load_tables(spark, sf_dir, "documents")
    tk = t["documents"].select(let1(tokens("text"), lambda x: x).alias("tk"))
    uni = tk.select(F.explode(F.col("tk")).alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("n_w"))
    utot = F.broadcast(uni.agg(F.count("*").alias("u")))
    pairs = tk.select(
        F.explode(let1(F.col("tk"), adjacent_pairs)).alias("pr")
    ).select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    pcnt = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= PMI_MIN_PAIRS)
    )
    ptot = F.broadcast(pairs.agg(F.count("*").alias("t")))
    a = ucnt.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))
    b = ucnt.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    scored = (
        pcnt.join(a, "w1")
        .join(b, "w2")
        .crossJoin(utot)
        .crossJoin(ptot)
        .select(
            "w1",
            "w2",
            F.col("n_ab").alias("n_pairs"),
            F.log(
                (F.col("n_ab").cast("double") * F.col("u") * F.col("u"))
                / (F.col("t").cast("double") * F.col("n_a") * F.col("n_b"))
            ).alias("pmi_raw"),
        )
    )
    # Rank on the r6-ROUNDED pmi (with the lexicographic tiebreak):
    # Spark's Math.log and the oracle's libm ln can differ in the
    # last ulp, so the rank-20 cutoff must be computed on values that
    # are bit-identical after rounding on both engines.
    return (
        scored.select(
            "w1", "w2", F.col("n_pairs"), r6(F.col("pmi_raw")).alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (Kudo, "Subword Regularization", ACL
# 2018 — the SentencePiece unigram model; public algorithm), in the
# deterministic integer-scored Viterbi-EM variant this engine's
# exact-replay doctrine requires: piece scores are INTEGER corpus
# frequencies (not float log-probs — a transcendental inside a DP
# argmin would let a last-ulp engine difference flip a segmentation),
# the Viterbi objective is lexicographic (fewest pieces, then
# highest-frequency pieces, then smallest piece sequence) encoded as a
# single fixed-width-cost || segmentation STRING whose MIN is the DP
# state — string min is bit-identical in Python, Spark, and DuckDB on
# ASCII — and each EM round is: Viterbi-segment every distinct word,
# re-count piece usage, prune pieces below the usage floor (single
# chars always survive: the coverage guarantee), re-score.
# ---------------------------------------------------------------------------

UNI_MAX_WLEN = 12        # words longer than this are excluded (bounds the DP
                         # unroll; the oracle applies the same filter)
UNI_MAX_PIECE = 4        # max piece length — bounds the seed vocab by the
                         # hard combinatorial cap Σ_{l≤4} 36^l ≈ 1.73M pieces
UNI_ALPHABET_SIZE = 36   # tokenizer output alphabet (a-z0-9) — the base of
                         # the vocab cap; _uni_bounded_collect enforces it
UNI_PEN = 100_000_000    # per-piece penalty base: cost = PEN - min(freq,
                         # PEN-1), so fewer pieces always beats higher freq
UNI_SEED_MIN = 5         # seed vocab floor (corpus occurrences)
UNI_PRUNE_MIN = 5        # EM prune floor (Viterbi usage, word-weighted)
UNI_TOPK = 40            # final vocabulary rows surfaced

_UNI_COST_W = 11         # fixed width of the zero-padded cost prefix:
                         # max cost = UNI_MAX_WLEN * UNI_PEN = 1.2e9 (10 digits)


def _uni_vocab_cap() -> int:
    """The hard combinatorial bound on any piece frame: at most
    Σ_{l ≤ UNI_MAX_PIECE} UNI_ALPHABET_SIZE^l distinct pieces exist
    (≈1.73 M at the shipped 36/4). Every driver-side unigram collect
    is bounded by THIS, not by corpus size — the reason the collects
    below are legal at 100 TB."""
    return sum(UNI_ALPHABET_SIZE**length for length in range(1, UNI_MAX_PIECE + 1))


def _uni_bounded_collect(df: DataFrame, what: str) -> list:
    """collect() with the vocab-cap contract ENFORCED at runtime (the
    operators/logreg.py 2^53-guard doctrine): if a future edit to
    UNI_MAX_PIECE / the tokenizer alphabet breaks the documented
    Σ alphabet^l cap's assumptions, this raises instead of silently
    turning a bounded driver collect into an unbounded one.

    The guard runs BEFORE the unbounded materialization, not after:
    collect via limit(cap + 1) so the driver never holds more than
    cap + 1 rows even when the contract is violated — a post-collect
    check would OOM first at the scale it exists to protect
    (ADVICE r10)."""
    cap = _uni_vocab_cap()
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"unigram {what} frame has {len(rows)} rows, above the "
            f"documented driver-collect cap Σ_(l≤{UNI_MAX_PIECE}) "
            f"{UNI_ALPHABET_SIZE}^l = {cap}. The tokenizer is emitting "
            "pieces outside the assumed alphabet (or UNI_MAX_PIECE / "
            "UNI_ALPHABET_SIZE were edited inconsistently) — the "
            "driver-side cost dicts are no longer corpus-independent; "
            "fix the alphabet assumption before scaling this key."
        )
    return rows


def _uni_words(docs: DataFrame) -> DataFrame:
    """(word, wcnt) over the standard tokenizer, length-capped."""
    from mercurygate_spark.functions import tokens

    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .where(F.length("word") <= UNI_MAX_WLEN)
        .groupBy("word")
        .agg(F.count("*").alias("wcnt"))
    )


def _uni_seed_vocab(words: DataFrame) -> DataFrame:
    """(piece, freq): every substring of length 1..UNI_MAX_PIECE of
    every distinct word, weighted by word count (overlapping
    occurrences all count — same rule in the oracle)."""
    pos = words.select(
        "word", "wcnt", F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i")
    )
    pieces = pos.select(
        "word",
        "wcnt",
        "i",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(F.lit(UNI_MAX_PIECE), F.length("word") - F.col("i") + 1),
            )
        ).alias("l"),
    ).select(F.expr("substring(word, i, l)").alias("piece"), "wcnt")
    return pieces.groupBy("piece").agg(F.sum("wcnt").alias("freq"))


def _uni_viterbi(words: DataFrame, cost: dict) -> DataFrame:
    """Viterbi-segment each distinct word under the integer piece
    costs: per prefix length j, best state = MIN over pieces ending at
    j of (11-digit zero-padded total cost || ' '-joined segmentation)
    — the exact string the oracle's unrolled b{j} CTEs minimize.
    One Arrow pass over the DISTINCT-WORD frame (vocabulary-bounded,
    the er_blocked_match doctrine — corpus size only enters through
    wcnt); ``cost`` is the closure-captured piece→cost dict, bounded
    by the Σ 36^l seed cap."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("word", StringType()),
            StructField("wcnt", LongType()),
            StructField("seg", StringType()),
        ]
    )
    zero = "0" * _UNI_COST_W

    def seg_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            segs = []
            for w in pdf["word"]:
                n = len(w)
                best: list[str | None] = [zero] + [None] * n
                for j in range(1, n + 1):
                    cands = []
                    for length in range(1, min(UNI_MAX_PIECE, j) + 1):
                        piece = w[j - length : j]
                        c = cost.get(piece)
                        prev = best[j - length]
                        if c is None or prev is None:
                            continue
                        tot = int(prev[:_UNI_COST_W]) + c
                        cands.append(
                            f"{tot:0{_UNI_COST_W}d}" + prev[_UNI_COST_W:] + " " + piece
                        )
                    best[j] = min(cands) if cands else None
                # single chars always in vocab → the DP always completes
                segs.append(best[n][_UNI_COST_W:])
            yield pd.DataFrame(
                {"word": pdf["word"], "wcnt": pdf["wcnt"], "seg": segs}
            )

    return words.select("word", "wcnt").mapInPandas(seg_batch, schema)


def _uni_usage(seg: DataFrame) -> DataFrame:
    """(piece, n_uses): Viterbi usage counts, word-count-weighted."""
    return (
        seg.select("wcnt", F.explode(F.split(F.trim("seg"), " ")).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wcnt").alias("n_uses"))
    )


def _uni_dp_sql(rnd: int, cost_cte: str) -> str:
    """Unrolled Viterbi CTEs for one EM round: b0..b{UNI_MAX_WLEN}
    (prefix-length DP states over uwords), then seg + usage."""
    p = f"u{rnd}_"
    zero = "0" * _UNI_COST_W
    parts = [
        f"{p}b0 AS MATERIALIZED (SELECT word, wcnt, '{zero}' AS best FROM uwords)"
    ]
    for j in range(1, UNI_MAX_WLEN + 1):
        branches = []
        for length in range(1, min(UNI_MAX_PIECE, j) + 1):
            branches.append(f"""SELECT w.word, w.wcnt,
               lpad(CAST(CAST(substr(p.best, 1, {_UNI_COST_W}) AS BIGINT)
                         + c.cost AS VARCHAR), {_UNI_COST_W}, '0')
                 || substr(p.best, {_UNI_COST_W + 1}) || ' ' || c.piece AS cand
        FROM uwords w
        JOIN {p}b{j - length} p ON p.word = w.word
        JOIN {cost_cte} c ON c.piece = substr(w.word, {j - length + 1}, {length})
        WHERE len(w.word) >= {j}""")
        u = "\n        UNION ALL\n        ".join(branches)
        parts.append(
            f"""{p}b{j} AS MATERIALIZED (
      SELECT word, wcnt, min(cand) AS best FROM (
        {u}
      ) GROUP BY word, wcnt
    )"""
        )
    seg_union = "\n        UNION ALL\n        ".join(
        f"SELECT word, wcnt, substr(best, {_UNI_COST_W + 1}) AS seg "
        f"FROM {p}b{j} WHERE len(word) = {j}"
        for j in range(1, UNI_MAX_WLEN + 1)
    )
    parts.append(f"""{p}seg AS MATERIALIZED (
        {seg_union}
    )""")
    parts.append(f"""{p}usage AS MATERIALIZED (
      SELECT piece, sum(wcnt) AS n_uses
      FROM {p}seg, UNNEST(string_split(trim(seg), ' ')) AS t(piece)
      GROUP BY piece
    )""")
    return ",\n    ".join(parts)


def _unigram_train_oracle() -> str:
    """Generated oracle replaying BOTH EM rounds end to end: seed
    vocab → round-1 Viterbi (12 unrolled prefix CTEs) → usage → prune
    → round-2 Viterbi → final top-{UNI_TOPK} vocabulary."""
    return f"""
    WITH uwords AS MATERIALIZED (
      SELECT word, count(*) AS wcnt FROM (
        SELECT unnest({_DUCK_TK}) AS word FROM documents
      ) WHERE len(word) <= {UNI_MAX_WLEN} GROUP BY word
    ),
    useed AS MATERIALIZED (
      SELECT piece, sum(wcnt) AS freq FROM (
        SELECT substr(w.word, CAST(i AS INT), CAST(l AS INT)) AS piece, w.wcnt
        FROM uwords w,
             UNNEST(range(1, len(w.word) + 1)) AS u(i),
             UNNEST(range(1, {UNI_MAX_PIECE + 1})) AS v(l)
        WHERE i + l - 1 <= len(w.word)
      ) GROUP BY piece
    ),
    uc1 AS MATERIALIZED (
      SELECT piece, {UNI_PEN} - least(freq, {UNI_PEN - 1}) AS cost
      FROM useed WHERE freq >= {UNI_SEED_MIN} OR len(piece) = 1
    ),
    {_uni_dp_sql(1, "uc1")},
    uc2 AS MATERIALIZED (
      SELECT piece, {UNI_PEN} - least(n_uses, {UNI_PEN - 1}) AS cost
      FROM u1_usage WHERE n_uses >= {UNI_PRUNE_MIN} AND len(piece) > 1
      UNION ALL
      SELECT c.piece,
             {UNI_PEN} - least(coalesce(u.n_uses, 0), {UNI_PEN - 1}) AS cost
      FROM uc1 c LEFT JOIN u1_usage u ON u.piece = c.piece
      WHERE len(c.piece) = 1
    ),
    {_uni_dp_sql(2, "uc2")},
    final AS (
      SELECT piece, CAST(n_uses AS BIGINT) AS n_uses,
             CAST(len(piece) AS BIGINT) AS piece_len,
             row_number() OVER (ORDER BY n_uses DESC, piece) AS rk
      FROM u2_usage
    )
    SELECT piece, n_uses, piece_len, rk FROM final WHERE rk <= {UNI_TOPK}
    """


@query("text_unigram_train", oracle=_unigram_train_oracle())
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece-style, Kudo 2018)
    in the engine's deterministic exact-replay variant — the tokenizer
    family's second trainer next to text_bpe_train: seed a substring
    vocabulary (lengths 1..{UNI_MAX_PIECE}, corpus-frequency-scored),
    then two Viterbi-EM rounds of segment → re-count usage → prune
    (usage < {UNI_PRUNE_MIN}, single chars immortal for coverage) →
    re-score, and surface the final top-{UNI_TOPK} vocabulary with
    usage counts.

    Exactness doctrine (why no log-probs): piece scores stay INTEGER
    corpus counts and the Viterbi objective is lexicographic — fewest
    pieces, then highest total piece frequency, then smallest piece
    sequence — encoded as one fixed-width zero-padded cost prefix
    concatenated with the growing segmentation string; the DP state is
    the string MIN, which Python (engine pass), and DuckDB (12
    unrolled prefix CTEs per round) compute bit-identically over
    ASCII. A float log-prob inside the argmin would expose the whole
    trajectory to a last-ulp libm difference.

    Scale shape: corpus-sized work is ONE tokenize+explode groupBy
    (map-side combined) producing the distinct-word frame; everything
    after — seeding, both DP passes, usage counts — runs on frames
    bounded by vocabulary size, not corpus size (er_blocked_match
    doctrine). The two driver-side cost dicts are bounded by the hard
    Σ_{{l≤{UNI_MAX_PIECE}}} 36^l ≈ 1.73M-piece cap (the IVF-centroid
    bounded-collect pattern). Words longer than {UNI_MAX_WLEN} chars
    are excluded by spec on both engines (bounds the DP unroll)."""
    t = load_tables(spark, sf_dir, "documents")
    words = _uni_words(t["documents"]).localCheckpoint(eager=True)
    seed = _uni_seed_vocab(words)
    v1 = _uni_bounded_collect(
        seed.where((F.col("freq") >= UNI_SEED_MIN) | (F.length("piece") == 1)),
        "seed-vocab",
    )  # bounded: ≤ Σ 36^l pieces — enforced
    cost1 = {r["piece"]: UNI_PEN - min(r["freq"], UNI_PEN - 1) for r in v1}
    usage1 = {
        r["piece"]: r["n_uses"]
        for r in _uni_bounded_collect(
            _uni_usage(_uni_viterbi(words, cost1)), "usage"
        )  # bounded: ⊆ vocab — enforced
    }
    cost2 = {
        p: UNI_PEN - min(u, UNI_PEN - 1)
        for p, u in usage1.items()
        if u >= UNI_PRUNE_MIN and len(p) > 1
    }
    for p in cost1:
        if len(p) == 1:
            cost2[p] = UNI_PEN - min(usage1.get(p, 0), UNI_PEN - 1)
    usage2 = _uni_usage(_uni_viterbi(words, cost2))
    w = Window.orderBy(F.col("n_uses").desc(), "piece")
    return (
        usage2.select(
            "piece",
            F.col("n_uses").cast("long").alias("n_uses"),
            F.length("piece").cast("long").alias("piece_len"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= UNI_TOPK)
    )


def _unigram_apply_oracle() -> str:
    """Oracle for text_unigram_apply: the full two-round training
    replay, a THIRD Viterbi pass under the final pruned vocabulary,
    and the corpus-level application summary."""
    npieces = "len(string_split(trim(seg), ' '))"
    return f"""
    WITH uwords AS MATERIALIZED (
      SELECT word, count(*) AS wcnt FROM (
        SELECT unnest({_DUCK_TK}) AS word FROM documents
      ) WHERE len(word) <= {UNI_MAX_WLEN} GROUP BY word
    ),
    useed AS MATERIALIZED (
      SELECT piece, sum(wcnt) AS freq FROM (
        SELECT substr(w.word, CAST(i AS INT), CAST(l AS INT)) AS piece, w.wcnt
        FROM uwords w,
             UNNEST(range(1, len(w.word) + 1)) AS u(i),
             UNNEST(range(1, {UNI_MAX_PIECE + 1})) AS v(l)
        WHERE i + l - 1 <= len(w.word)
      ) GROUP BY piece
    ),
    uc1 AS MATERIALIZED (
      SELECT piece, {UNI_PEN} - least(freq, {UNI_PEN - 1}) AS cost
      FROM useed WHERE freq >= {UNI_SEED_MIN} OR len(piece) = 1
    ),
    {_uni_dp_sql(1, "uc1")},
    uc2 AS MATERIALIZED (
      SELECT piece, {UNI_PEN} - least(n_uses, {UNI_PEN - 1}) AS cost
      FROM u1_usage WHERE n_uses >= {UNI_PRUNE_MIN} AND len(piece) > 1
      UNION ALL
      SELECT c.piece,
             {UNI_PEN} - least(coalesce(u.n_uses, 0), {UNI_PEN - 1}) AS cost
      FROM uc1 c LEFT JOIN u1_usage u ON u.piece = c.piece
      WHERE len(c.piece) = 1
    ),
    {_uni_dp_sql(2, "uc2")},
    uc3 AS MATERIALIZED (
      SELECT piece, {UNI_PEN} - least(n_uses, {UNI_PEN - 1}) AS cost
      FROM u2_usage WHERE n_uses >= {UNI_PRUNE_MIN} AND len(piece) > 1
      UNION ALL
      SELECT c.piece,
             {UNI_PEN} - least(coalesce(u.n_uses, 0), {UNI_PEN - 1}) AS cost
      FROM uc2 c LEFT JOIN u2_usage u ON u.piece = c.piece
      WHERE len(c.piece) = 1
    ),
    {_uni_dp_sql(3, "uc3")},
    summary AS (
      SELECT CAST(sum(wcnt) AS BIGINT) AS n_words,
             CAST(sum(wcnt * {npieces}) AS BIGINT) AS n_pieces,
             floor((CAST(sum(wcnt * {npieces}) AS DOUBLE) / sum(wcnt))
                   * 1000000 + 0.5) / 1000000 AS pieces_per_word,
             CAST(sum(CASE WHEN {npieces} = 1 THEN wcnt ELSE 0 END) AS BIGINT)
               AS n_whole_words
      FROM u3_seg
    ),
    distinct_pieces AS (
      SELECT CAST(count(*) AS BIGINT) AS n_distinct_pieces FROM u3_usage
    )
    SELECT * FROM summary CROSS JOIN distinct_pieces
    """


@query("text_unigram_apply", oracle=_unigram_apply_oracle())
def text_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram-LM tokenizer to the corpus — the
    text_bpe_apply twin for the unigram family: re-run the two
    training rounds, prune to the FINAL vocabulary (same floor,
    single chars immortal), Viterbi-segment every distinct word under
    it, and emit the corpus-level application summary a tokenizer
    deployment reports: words tokenized, emitted pieces,
    pieces-per-word (the compression the vocab buys), whole-word
    hits, and the distinct pieces actually used. Same bounded shapes
    as text_unigram_train (one corpus-sized groupBy, everything else
    vocabulary-bounded; the two 1-row summary frames cross-join —
    bounded, exempt-listed). The oracle replays training AND the
    third application pass in one generated CTE chain."""
    t = load_tables(spark, sf_dir, "documents")
    words = _uni_words(t["documents"]).localCheckpoint(eager=True)
    seed = _uni_seed_vocab(words)
    v1 = _uni_bounded_collect(
        seed.where((F.col("freq") >= UNI_SEED_MIN) | (F.length("piece") == 1)),
        "seed-vocab",
    )  # bounded: ≤ Σ 36^l pieces — enforced
    cost1 = {r["piece"]: UNI_PEN - min(r["freq"], UNI_PEN - 1) for r in v1}

    def next_cost(prev_cost: dict) -> tuple[dict, DataFrame]:
        seg = _uni_viterbi(words, prev_cost)
        usage_df = _uni_usage(seg)
        usage = {
            r["piece"]: r["n_uses"]
            for r in _uni_bounded_collect(usage_df, "usage")
        }  # bounded: ⊆ vocab — enforced
        cost = {
            p: UNI_PEN - min(u, UNI_PEN - 1)
            for p, u in usage.items()
            if u >= UNI_PRUNE_MIN and len(p) > 1
        }
        for p in prev_cost:
            if len(p) == 1:
                cost[p] = UNI_PEN - min(usage.get(p, 0), UNI_PEN - 1)
        return cost, seg

    cost2, _ = next_cost(cost1)
    cost3, _ = next_cost(cost2)
    seg3 = _uni_viterbi(words, cost3).localCheckpoint(eager=True)

    npieces = F.size(F.split(F.trim("seg"), " "))
    r6d = lambda c: F.floor(c * F.lit(10**6) + F.lit(0.5)) / 10**6  # noqa: E731
    summary = seg3.agg(
        F.sum("wcnt").cast("long").alias("n_words"),
        F.sum(F.col("wcnt") * npieces).cast("long").alias("n_pieces"),
        r6d(
            F.sum(F.col("wcnt") * npieces).cast("double") / F.sum("wcnt")
        ).alias("pieces_per_word"),
        F.sum(F.when(npieces == 1, F.col("wcnt")).otherwise(0))
        .cast("long")
        .alias("n_whole_words"),
    )
    distinct_pieces = _uni_usage(seg3).agg(
        F.count("*").cast("long").alias("n_distinct_pieces")
    )
    return summary.crossJoin(F.broadcast(distinct_pieces))


# ---------------------------------------------------------------------------
# Pretraining-corpus filter frontier (round 11): Gopher rule filter and
# CCNet-style n-gram-LM perplexity bucketing.
#
# Public-knowledge basis: Rae et al. 2021 (Gopher, §A1.1 quality rules);
# Wenzek et al. 2020 (CCNet: score a crawl by the perplexity of a
# reference-domain LM, bucket per language into head/middle/tail).
# Reference parity: the reference ETL (mm_bronze_silver.py) has no text
# surface at all — these extend the engine's LLM-pipeline frontier.
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50       # Gopher: 50 <= word count <= 100k
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3.0         # mean word length in [3, 10]
GOPHER_MWL_HI = 10.0
GOPHER_SYM_MAX = 0.1        # symbol-to-word ratio ('#' and '...') < 0.1
GOPHER_ALPHA_MIN = 0.8      # >= 80% of words contain an alphabetic char
GOPHER_MIN_STOP = 2         # >= 2 distinct English stopwords present
GOPHER_BULLET_MAX = 0.9     # <= 90% of lines start with a bullet
GOPHER_ELLIPSIS_MAX = 0.3   # <= 30% of lines end with an ellipsis

_DUCK_STOPLIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"


# The gopher-survivor id set with funnel-local CTE names (gtk/gfeat/
# grules) so pipeline_filter_funnel can compose it next to the LM CTEs
# (whose names tk/p_all/p/c12/c1/v must stay free). Same rounded-ratio
# rule tests as the key's oracle above.
_DUCK_GOPHER_PASS_CTES = f"""
    gtk AS (
      SELECT doc_id, lang, text, {_DUCK_TK} AS tk,
             regexp_split_to_array(text, '\n') AS lines
      FROM documents
    ),
    gfeat AS (
      SELECT doc_id, lang,
             len(tk) AS n_words,
             CAST(list_sum(list_transform(tk, w -> length(w))) AS BIGINT) AS n_word_chars,
             len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) AS n_alpha_words,
             len(list_intersect(list_distinct(tk), {_DUCK_STOPLIST})) AS n_stop,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) // 3 AS n_symbols,
             len(lines) AS n_lines,
             len(list_filter(lines, x -> starts_with(trim(x), '- ')
                                       OR starts_with(trim(x), '* ')
                                       OR starts_with(trim(x), '•'))) AS n_bullet,
             len(list_filter(lines, x -> trim(x) LIKE '%...')) AS n_ellipsis
      FROM gtk
    ),
    grules AS (
      SELECT doc_id, lang, n_words, n_stop,
             round(n_word_chars * 1.0 / n_words, 6) AS mean_word_len,
             round(n_symbols * 1.0 / n_words, 6) AS symbol_ratio,
             round(n_alpha_words * 1.0 / n_words, 6) AS alpha_frac,
             round(n_bullet * 1.0 / n_lines, 6) AS bullet_frac,
             round(n_ellipsis * 1.0 / n_lines, 6) AS ellipsis_frac
      FROM gfeat WHERE n_words > 0
    ),
    gpass AS (
      SELECT doc_id, lang FROM grules
      WHERE (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
        AND mean_word_len >= {GOPHER_MWL_LO} AND mean_word_len <= {GOPHER_MWL_HI}
        AND symbol_ratio < {GOPHER_SYM_MAX}
        AND alpha_frac >= {GOPHER_ALPHA_MIN}
        AND n_stop >= {GOPHER_MIN_STOP}
        AND bullet_frac <= {GOPHER_BULLET_MAX}
        AND ellipsis_frac <= {GOPHER_ELLIPSIS_MAX}
    )"""




@query(
    "text_gopher_filter",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, lang, text, {_DUCK_TK} AS tk,
             regexp_split_to_array(text, '\n') AS lines
      FROM documents
    ), feat AS (
      SELECT doc_id, lang,
             len(tk) AS n_words,
             CAST(list_sum(list_transform(tk, w -> length(w))) AS BIGINT) AS n_word_chars,
             len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) AS n_alpha_words,
             len(list_intersect(list_distinct(tk), {_DUCK_STOPLIST})) AS n_stop,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) // 3 AS n_symbols,
             len(lines) AS n_lines,
             len(list_filter(lines, x -> starts_with(trim(x), '- ')
                                       OR starts_with(trim(x), '* ')
                                       OR starts_with(trim(x), '•'))) AS n_bullet,
             len(list_filter(lines, x -> trim(x) LIKE '%...')) AS n_ellipsis
      FROM tk
    ), rules AS (
      SELECT doc_id, lang, n_words, n_stop,
             round(n_word_chars * 1.0 / n_words, 6) AS mean_word_len,
             round(n_symbols * 1.0 / n_words, 6) AS symbol_ratio,
             round(n_alpha_words * 1.0 / n_words, 6) AS alpha_frac,
             round(n_bullet * 1.0 / n_lines, 6) AS bullet_frac,
             round(n_ellipsis * 1.0 / n_lines, 6) AS ellipsis_frac
      FROM feat WHERE n_words > 0
    )
    SELECT doc_id, lang, n_words, mean_word_len, symbol_ratio, alpha_frac,
           n_stop, bullet_frac, ellipsis_frac,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS r_word_count,
           (mean_word_len >= {GOPHER_MWL_LO} AND mean_word_len <= {GOPHER_MWL_HI}) AS r_mean_word_len,
           (symbol_ratio < {GOPHER_SYM_MAX}) AS r_symbol_ratio,
           (alpha_frac >= {GOPHER_ALPHA_MIN}) AS r_alpha_words,
           (n_stop >= {GOPHER_MIN_STOP}) AS r_stopwords,
           (bullet_frac <= {GOPHER_BULLET_MAX}) AS r_bullets,
           (ellipsis_frac <= {GOPHER_ELLIPSIS_MAX}) AS r_ellipsis,
           ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
            AND mean_word_len >= {GOPHER_MWL_LO} AND mean_word_len <= {GOPHER_MWL_HI}
            AND symbol_ratio < {GOPHER_SYM_MAX}
            AND alpha_frac >= {GOPHER_ALPHA_MIN}
            AND n_stop >= {GOPHER_MIN_STOP}
            AND bullet_frac <= {GOPHER_BULLET_MAX}
            AND ellipsis_frac <= {GOPHER_ELLIPSIS_MAX}) AS gopher_pass
    FROM rules
    """,
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021 §A1.1): the seven
    document-level heuristics — word count in [50, 100k], mean word
    length in [3, 10], symbol-to-word ratio < 0.1, >= 80% alphabetic
    words, >= 2 distinct stopwords, <= 90% bullet lines, <= 30%
    ellipsis lines — each surfaced as its own boolean so downstream
    mixture jobs can ablate rules independently, plus the conjunctive
    gopher_pass verdict.

    Scale shape: one linear scan, pure whole-stage-codegen column
    expressions (array ops over the shared let1-bound token split —
    no UDF, no shuffle at all before the sink). At 100 TB this is the
    cheapest possible operator class: embarrassingly parallel,
    filter-pushdown-transparent, zero exchanges."""
    t = load_tables(spark, sf_dir, "documents")
    return gopher_frame(t["documents"])


def gopher_frame(docs: DataFrame) -> DataFrame:
    """The Gopher rule frame over any documents-shaped input — shared
    by text_gopher_filter and pipeline_filter_funnel."""
    from mercurygate_spark.functions import let1, r6

    d = docs.select(
        "doc_id",
        "lang",
        "text",
        let1(tokens("text"), lambda x: x).alias("tk"),
        F.split("text", "\n").alias("lines"),
    )
    feat = d.select(
        "doc_id",
        "lang",
        F.size("tk").alias("n_words"),
        F.aggregate(
            "tk", F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
        ).alias("n_word_chars"),
        F.size(F.filter("tk", lambda w: w.rlike("[a-z]"))).alias("n_alpha_words"),
        F.size(
            F.array_intersect(
                F.array_distinct("tk"),
                F.array(*[F.lit(w) for w in STOPWORDS_EN]),
            )
        ).alias("n_stop"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            + (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."))))
            / F.lit(3)
        ).cast("bigint").alias("n_symbols"),
        F.size("lines").alias("n_lines"),
        F.size(
            F.filter(
                "lines",
                lambda x: F.trim(x).startswith("- ")
                | F.trim(x).startswith("* ")
                | F.trim(x).startswith("•"),
            )
        ).alias("n_bullet"),
        F.size(F.filter("lines", lambda x: F.trim(x).endswith("..."))).alias(
            "n_ellipsis"
        ),
    ).where(F.col("n_words") > 0)
    rules = feat.select(
        "doc_id",
        "lang",
        "n_words",
        "n_stop",
        r6(F.col("n_word_chars") * F.lit(1.0) / F.col("n_words")).alias("mean_word_len"),
        r6(F.col("n_symbols") * F.lit(1.0) / F.col("n_words")).alias("symbol_ratio"),
        r6(F.col("n_alpha_words") * F.lit(1.0) / F.col("n_words")).alias("alpha_frac"),
        r6(F.col("n_bullet") * F.lit(1.0) / F.col("n_lines")).alias("bullet_frac"),
        r6(F.col("n_ellipsis") * F.lit(1.0) / F.col("n_lines")).alias("ellipsis_frac"),
    )
    r_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_mwl = (F.col("mean_word_len") >= GOPHER_MWL_LO) & (
        F.col("mean_word_len") <= GOPHER_MWL_HI
    )
    r_sym = F.col("symbol_ratio") < GOPHER_SYM_MAX
    r_alpha = F.col("alpha_frac") >= GOPHER_ALPHA_MIN
    r_stop = F.col("n_stop") >= GOPHER_MIN_STOP
    r_bullet = F.col("bullet_frac") <= GOPHER_BULLET_MAX
    r_ell = F.col("ellipsis_frac") <= GOPHER_ELLIPSIS_MAX
    return rules.select(
        "doc_id",
        "lang",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "alpha_frac",
        "n_stop",
        "bullet_frac",
        "ellipsis_frac",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        r_bullet.alias("r_bullets"),
        r_ell.alias("r_ellipsis"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop & r_bullet & r_ell).alias(
            "gopher_pass"
        ),
    )


LM_TRAIN_LANG = "en"  # the reference-domain LM trains on labeled-en docs
LM_ADD_K = 0.5        # add-k smoothing mass
LM_TOPK = 50          # bounded LM surface emitted by the train key

_DUCK_LM_CTES = f"""
    tk AS (
      SELECT doc_id, lang, {_DUCK_TK} AS tk FROM documents
    ),
    p_all AS (
      SELECT doc_id, lang, tk[i] AS w1, tk[i+1] AS w2
      FROM tk, UNNEST(range(1, len(tk))) AS t(i)
      WHERE len(tk) >= 2
    ),
    p AS (SELECT w1, w2 FROM p_all WHERE lang = '{LM_TRAIN_LANG}'),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM p GROUP BY 1),
    v AS (
      SELECT count(DISTINCT w) AS v
      FROM (SELECT unnest(tk) AS w FROM tk WHERE lang = '{LM_TRAIN_LANG}')
    )
"""


@query(
    "text_ngram_lm_train",
    oracle=f"""
    WITH {_DUCK_LM_CTES}
    SELECT c12.w1, c12.w2,
           c12.c12 AS n_pair, c1.c1 AS n_ctx,
           round(ln((c12.c12 + {LM_ADD_K}) / (c1.c1 + {LM_ADD_K} * v.v)), 6) AS logprob
    FROM c12 JOIN c1 USING (w1) CROSS JOIN v
    ORDER BY n_pair DESC, w1, w2 LIMIT {LM_TOPK}
    """,
)
def text_ngram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model training with add-k smoothing over the
    reference domain (labeled-{LM_TRAIN_LANG} docs) — the LM half of the
    CCNet quality pipeline (Wenzek et al. 2020 train a KenLM on
    Wikipedia; a smoothed count n-gram model is the same estimator
    family expressed as two aggregates).

    logprob(w2 | w1) = ln((c(w1,w2) + k) / (c(w1,·) + k·V)).

    Scale shape: bigrams come from the map-side adjacent_pairs zip (no
    posexplode+join), pair and context counts are two partially-
    aggregable groupBys, the context join keys on w1 with NO broadcast
    hint (web-scale vocabularies are unbounded — the tfidf doctrine),
    the 1-row vocab total broadcasts, and the bounded top-{LM_TOPK}
    rides TakeOrderedAndProject. The full LM (unbounded rows) would be
    sunk to a bucketed table in production; the key emits the bounded
    head as its stable surface."""
    from mercurygate_spark.functions import let1, r6

    t = load_tables(spark, sf_dir, "documents")
    en = t["documents"].where(F.col("lang") == LM_TRAIN_LANG)
    tk = en.select(let1(tokens("text"), lambda x: x).alias("tk"))
    pairs = tk.select(
        F.explode(let1(F.col("tk"), adjacent_pairs)).alias("pr")
    ).select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("n_ctx"))
    vocab = F.broadcast(
        tk.select(F.explode("tk").alias("w")).agg(
            F.countDistinct("w").alias("v")
        )
    )
    scored = (
        c12.join(c1, "w1")
        .crossJoin(vocab)
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_ctx",
            r6(
                F.log(
                    (F.col("n_pair") + F.lit(LM_ADD_K))
                    / (F.col("n_ctx") + F.lit(LM_ADD_K) * F.col("v"))
                )
            ).alias("logprob"),
        )
    )
    return scored.orderBy(
        F.col("n_pair").desc(), "w1", "w2"
    ).limit(LM_TOPK).select("w1", "w2", "n_pair", "n_ctx", "logprob")


@query(
    "text_perplexity_filter",
    oracle=f"""
    WITH {_DUCK_LM_CTES},
    scored AS (
      SELECT pa.doc_id, pa.lang,
             ln((COALESCE(c12.c12, 0) + {LM_ADD_K})
                / (COALESCE(c1.c1, 0) + {LM_ADD_K} * v.v)) AS lp
      FROM p_all pa
      LEFT JOIN c12 ON pa.w1 = c12.w1 AND pa.w2 = c12.w2
      LEFT JOIN c1 ON pa.w1 = c1.w1
      CROSS JOIN v
    ),
    docs AS (
      SELECT doc_id, lang,
             count(*) AS n_bigrams,
             round(-avg(lp), 6) AS cross_entropy
      FROM scored GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, percent_rank() OVER (
               PARTITION BY lang ORDER BY cross_entropy, doc_id
             ) AS pr
      FROM docs
    )
    SELECT doc_id, lang, n_bigrams, cross_entropy,
           CASE WHEN pr < 1.0/3 THEN 'head'
                WHEN pr < 2.0/3 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM ranked
    """,
)
def text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020): score EVERY
    document's bigrams under the reference-domain LM (trained on
    labeled-{LM_TRAIN_LANG} docs by text_ngram_lm_train's estimator),
    with add-k backoff for unseen contexts/pairs, then bucket each
    language's docs into head/middle/tail perplexity terciles — the
    split CCNet uses to keep 'head' for pretraining.

    Scale shape: the doc-bigram frame left-joins the LM count frames
    on (w1,w2) and (w1) with no broadcast hints (LM size is unbounded;
    AQE picks the strategy at runtime), the 1-row vocab total
    broadcasts, the per-doc reduce is a partially-aggregable groupBy
    on doc_id, and the tercile window partitions by lang — bounded
    per-partition state, never a global unpartitioned sort. Ranking
    uses the r6-ROUNDED cross-entropy with a doc_id tiebreak so the
    tercile cut is bit-identical across engines (the PMI doctrine)."""
    t = load_tables(spark, sf_dir, "documents")
    docs = ppl_cross_entropy(t["documents"], t["documents"])
    return docs.select(
        "doc_id", "lang", "n_bigrams", "cross_entropy",
        ppl_tercile_bucket().alias("ppl_bucket"),
    )


def ppl_cross_entropy(corpus: DataFrame, score_set: DataFrame) -> DataFrame:
    """Per-doc cross-entropy of `score_set` under the add-k bigram LM
    trained on `corpus`'s labeled-{LM_TRAIN_LANG} docs — shared by
    text_perplexity_filter (score_set == corpus) and
    pipeline_filter_funnel (score_set == the gopher survivors).
    Returns (doc_id, lang, n_bigrams, cross_entropy r6-rounded)."""
    from mercurygate_spark.functions import let1, r6

    def _pairs(docs: DataFrame) -> DataFrame:
        tk = docs.select(
            "doc_id", "lang", let1(tokens("text"), lambda x: x).alias("tk")
        )
        return tk.select(
        "doc_id",
        "lang",
        F.explode(let1(F.col("tk"), adjacent_pairs)).alias("pr"),
        ).select(
            "doc_id", "lang", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2")
        )

    en_docs = corpus.where(F.col("lang") == LM_TRAIN_LANG)
    en_pairs = _pairs(en_docs)
    c12 = en_pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = en_pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = F.broadcast(
        en_docs.select(F.explode(tokens("text")).alias("w")).agg(
            F.countDistinct("w").alias("v")
        )
    )
    lp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(LM_ADD_K))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(LM_ADD_K) * F.col("v"))
    )
    scored = (
        _pairs(score_set)
        .join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(vocab)
        .select("doc_id", "lang", lp.alias("lp"))
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_bigrams"),
        r6(-F.avg("lp")).alias("cross_entropy"),
    )


def ppl_tercile_bucket():
    """head/middle/tail label from the per-lang percent_rank over the
    r6-rounded cross-entropy (doc_id tiebreak)."""
    w = Window.partitionBy("lang").orderBy("cross_entropy", "doc_id")
    return (
        F.when(F.percent_rank().over(w) < 1.0 / 3, "head")
        .when(F.percent_rank().over(w) < 2.0 / 3, "middle")
        .otherwise("tail")
    )


# Gopher §A1.2 repetition battery thresholds (Rae et al. 2021 Table A1)
GOPHER_TOP_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_FRAC = {5: 0.15, 10: 0.10}
_REP_NS = sorted(set(GOPHER_TOP_FRAC) | set(GOPHER_DUP_FRAC))


def _duck_gram(n: int) -> str:
    """n-gram string array over {tk} (space-joined), empty below n."""
    joined = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(tk) >= {n} THEN "
        f"list_transform(range(1, len(tk) - {n - 2}), i -> {joined}) "
        f"ELSE [] END"
    )


def _duck_repetition_ctes(src: str = "documents", prefix: str = "rep_") -> str:
    """CTE chain for the repetition battery over `src` (any CTE/table
    with doc_id + text), ending in `{prefix}sum` (doc_id, fracs,
    repetition_pass). `prefix` namespaces the CTEs so the funnel can
    embed this next to the gopher/LM chains."""
    tkl, grams, cnt, ranked, per_n = (
        f"{prefix}tkl", f"{prefix}grams", f"{prefix}cnt",
        f"{prefix}ranked", f"{prefix}per_n",
    )
    gram_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, norm_len, {n} AS n, unnest({_duck_gram(n)}) AS g "
        f"FROM {tkl}"
        for n in _REP_NS
    )
    top_cols = ",\n           ".join(
        f"round(COALESCE(max(CASE WHEN n = {n} THEN top_frac END), 0.0), 6) "
        f"AS top{n}_frac"
        for n in GOPHER_TOP_FRAC
    )
    dup_cols = ",\n           ".join(
        f"round(COALESCE(max(CASE WHEN n = {n} THEN dup_frac END), 0.0), 6) "
        f"AS dup{n}_frac"
        for n in GOPHER_DUP_FRAC
    )
    checks = " AND ".join(
        [
            f"round(COALESCE(max(CASE WHEN n = {n} THEN top_frac END), 0.0), 6)"
            f" <= {t}"
            for n, t in GOPHER_TOP_FRAC.items()
        ]
        + [
            f"round(COALESCE(max(CASE WHEN n = {n} THEN dup_frac END), 0.0), 6)"
            f" <= {t}"
            for n, t in GOPHER_DUP_FRAC.items()
        ]
    )
    return f"""{tkl} AS MATERIALIZED (
      SELECT doc_id, tk,
             CAST(list_sum(list_transform(tk, w -> length(w)))
                  + len(tk) - 1 AS BIGINT) AS norm_len
      FROM (SELECT doc_id, {_DUCK_TK} AS tk FROM {src})
      WHERE len(tk) > 0
    ),
    {grams} AS MATERIALIZED (
{gram_selects}
    ),
    {cnt} AS (
      SELECT doc_id, norm_len, n, g, count(*) AS c, length(g) AS gl
      FROM {grams} GROUP BY 1, 2, 3, 4
    ),
    {ranked} AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id, n ORDER BY c DESC, g
             ) AS rk
      FROM {cnt}
    ),
    {per_n} AS (
      SELECT doc_id, norm_len, n,
             least(1.0, max(CASE WHEN rk = 1 THEN c * gl END)
                        * 1.0 / norm_len) AS top_frac,
             least(1.0, COALESCE(sum(CASE WHEN c > 1 THEN (c - 1) * gl END), 0)
                        * 1.0 / norm_len) AS dup_frac
      FROM {ranked} GROUP BY 1, 2, 3
    ),
    {prefix}sum AS (
      SELECT doc_id,
           {top_cols},
           {dup_cols},
           ({checks}) AS repetition_pass
      FROM {per_n}
      GROUP BY doc_id
    )"""


def _gopher_repetition_oracle() -> str:
    cols = ", ".join(
        [f"top{n}_frac" for n in GOPHER_TOP_FRAC]
        + [f"dup{n}_frac" for n in GOPHER_DUP_FRAC]
    )
    return (
        "WITH " + _duck_repetition_ctes("documents", "rep_")
        + f" SELECT doc_id, {cols}, repetition_pass FROM rep_sum"
    )


def _gram_array(tk, n: int):
    """Spark twin of _duck_gram: space-joined n-gram array."""
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", *[tk[i + j] for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


@query("text_gopher_repetition", oracle=_gopher_repetition_oracle())
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.2 repetition battery (Rae et al. 2021 Table A1): per
    document, the fraction of (normalized) characters inside the MOST
    FREQUENT {2,3,4}-gram and inside DUPLICATED {5,10}-grams, with the
    paper's thresholds conjoined into repetition_pass. Coverage uses
    the standard occurrence-counting simplification (chars of repeat
    occurrences beyond the first, capped at 1.0 — the DataTrove/NeMo
    convention) rather than exact interval union; the exact-coverage
    operator is dedup_substring_exact. Top-gram selection ranks
    (count DESC, gram) so ties break textually on both engines;
    fractions are r6-rounded BEFORE threshold comparison.

    Scale shape: one tokenize pass fans out to the five gram widths
    map-side (explode, no join); per-(doc, n, gram) counts are one
    partially-aggregable groupBy; the top-gram window partitions by
    (doc, n). Shuffle rows carry the gram STRING here because the
    per-doc count reduce needs it — at 100 TB swap the gram for its
    md5 (the dedup_substring trick) at the cost of losing the textual
    tiebreak; both shapes are linear in corpus size."""
    t = load_tables(spark, sf_dir, "documents")
    return repetition_frame(t["documents"])


def repetition_frame(docs: DataFrame) -> DataFrame:
    """The §A1.2 repetition frame over any documents-shaped input —
    shared by text_gopher_repetition and pipeline_filter_funnel."""
    from mercurygate_spark.functions import let1, r6

    tkl = (
        docs
        .select("doc_id", let1(tokens("text"), lambda x: x).alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            "tk",
            (
                F.aggregate(
                    "tk", F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
                )
                + F.size("tk")
                - 1
            ).alias("norm_len"),
        )
    )
    # One explode over the concatenated (n, gram) struct arrays — NOT a
    # 5-way union: a union whose children share a partitioning makes
    # Spark claim that partitioning for the concatenated output (8
    # claimed vs 5×8 actual partitions), and a downstream forced
    # SortMergeJoin then dies with "Can't zip RDDs with unequal
    # numbers of partitions" (found by the bcast_off plan-matrix
    # config). The single Generate is also simply the better plan:
    # one pass, no repeated scan of the token frame per gram width.
    def _tag(n: int):
        # a ONE-argument lambda is mandatory here: pyspark's
        # F.transform passes (element, index) to binary lambdas, so
        # the idiomatic `lambda g, n=n:` default-arg capture silently
        # receives the ARRAY INDEX as n (found by the oracle diff)
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    all_grams = F.concat(
        *[
            F.transform(_gram_array(F.col("tk"), n), _tag(n))
            for n in _REP_NS
        ]
    )
    grams = tkl.select(
        "doc_id", "norm_len", F.explode(all_grams).alias("ng")
    ).select("doc_id", "norm_len", F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
    cnt = grams.groupBy("doc_id", "norm_len", "n", "g").agg(
        F.count("*").alias("c")
    ).withColumn("gl", F.length("g"))
    w = Window.partitionBy("doc_id", "n").orderBy(F.col("c").desc(), "g")
    ranked = cnt.withColumn("rk", F.row_number().over(w))
    per_n = ranked.groupBy("doc_id", "norm_len", "n").agg(
        F.least(
            F.lit(1.0),
            F.max(F.when(F.col("rk") == 1, F.col("c") * F.col("gl")))
            * F.lit(1.0)
            / F.col("norm_len"),
        ).alias("top_frac"),
        F.least(
            F.lit(1.0),
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, (F.col("c") - 1) * F.col("gl"))),
                F.lit(0).cast("bigint"),
            )
            * F.lit(1.0)
            / F.col("norm_len"),
        ).alias("dup_frac"),
    )
    top_aggs = [
        r6(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("top_frac"))), F.lit(0.0)
            )
        ).alias(f"top{n}_frac")
        for n in GOPHER_TOP_FRAC
    ]
    dup_aggs = [
        r6(
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("dup_frac"))), F.lit(0.0)
            )
        ).alias(f"dup{n}_frac")
        for n in GOPHER_DUP_FRAC
    ]
    out = per_n.groupBy("doc_id").agg(*top_aggs, *dup_aggs)
    passes = [
        F.col(f"top{n}_frac") <= t for n, t in GOPHER_TOP_FRAC.items()
    ] + [F.col(f"dup{n}_frac") <= t for n, t in GOPHER_DUP_FRAC.items()]
    verdict = passes[0]
    for p in passes[1:]:
        verdict = verdict & p
    return out.withColumn("repetition_pass", verdict)


# ---------------------------------------------------------------------------
# Benchmark decontamination (round 12 frontier): the GPT-3/PaLM/Dolma
# eval-overlap check — flag every training document sharing any
# K-token gram with the held-out evaluation set, BEFORE training data
# ships. Public-knowledge basis: Brown et al. 2020 (GPT-3 appendix C,
# 13-gram decontamination), Dolma (Soldaini et al. 2024). The eval
# set here is a deterministic md5 slice of the corpus (~3%) standing
# in for a benchmark suite; at production scale the eval side is a
# benchmark dump — tiny — which is why the gram-set join broadcasts.
# ---------------------------------------------------------------------------

DECON_K = 8      # gram width (tokens); GPT-3 used 13 on web-scale docs
DECON_MOD = 37   # eval slice: md5_long(doc_id) % DECON_MOD == 0 (~3%)


def _decon_oracle() -> str:
    from mercurygate_spark.functions import sql_r6

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
      SELECT g.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(eh.h) AS BIGINT) AS n_contam
      FROM g LEFT JOIN eh ON g.h = eh.h
      WHERE NOT g.is_eval GROUP BY 1
    )
    SELECT doc_id, n_grams, n_contam,
           {sql_r6('n_contam * 1.0 / n_grams')} AS contam_frac,
           (n_contam > 0) AS contaminated
    FROM tr
    """


def decon_gram_frame(d: DataFrame) -> DataFrame:
    """(doc_id, is_eval, h): every {DECON_K}-token gram hash of every
    document with ≥ {DECON_K} tokens, plus the deterministic eval-slice
    flag (md5(doc_id) % {DECON_MOD} == 0). The shared gram side of
    dedup_decontaminate and the corpus capstone — one copy of the
    gram/slice contract so the two keys can't drift."""
    from mercurygate_spark.functions import md5_long, tokens

    docs = (
        d.select("doc_id", tokens("text").alias("tk"))
        .withColumn("n", F.size("tk"))
        .where(F.col("n") >= DECON_K)
        .withColumn(
            "is_eval", md5_long(F.col("doc_id").cast("string")) % DECON_MOD == 0
        )
    )
    return docs.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - DECON_K),
                lambda i: F.md5(F.array_join(F.slice("tk", i + 1, DECON_K), " ")),
            )
        ).alias("h"),
    )


@query("dedup_decontaminate", oracle=_decon_oracle())
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-overlap decontamination: every training document's
    {DECON_K}-token grams are checked against the DISTINCT gram-hash
    set of the evaluation slice (deterministic md5 bucket — the same
    doc split both engines derive); a single shared gram flags the doc
    (the GPT-3 rule), and the overlap fraction is reported for
    graded policies. Output is the per-doc audit frame a curation run
    publishes next to its attrition table.

    Scale shape: gram hashing is one map-side pass (48-byte hashes,
    never text — the dedup_substring_exact contract); the eval gram
    set (a benchmark suite — tiny in production) broadcasts into a
    LEFT join, so the training corpus never shuffles at all for the
    membership test; the per-doc reduce carries (doc_id, two longs).
    Cites /root/reference semantics: none — this operator extends the
    reference's dedup surface for LLM-corpus curation."""
    from mercurygate_spark.functions import r6

    t = load_tables(spark, sf_dir, "documents")
    grams = decon_gram_frame(t["documents"])
    eh = grams.where(F.col("is_eval")).select("h").distinct()
    joined = grams.where(~F.col("is_eval")).join(
        F.broadcast(eh.withColumn("__hit", F.lit(1))), "h", "left"
    )
    per = joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.count("__hit").cast("long").alias("n_contam"),
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_contam",
        r6(F.col("n_contam") / F.col("n_grams")).alias("contam_frac"),
        (F.col("n_contam") > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (round 12 frontier): the redaction pass every public
# corpus release runs (C4, Dolma, FineWeb all ship email/phone/IP
# scrubbers). The synthetic testdata contains no organic PII, so the
# key INJECTS deterministic PII spans (derived from doc_id, identical
# on both engines) into a slice of the corpus, then redacts — which
# turns the key into a round-trip proof: the audit counts say what was
# found, the residual count proves removal, and the md5 fingerprint of
# the redacted text pins the exact rewrite. Patterns are chosen to
# parse identically under Java regex (Spark) and RE2 (DuckDB).
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+\d{2}-\d{3}-\d{4}"
PII_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


def _pii_oracle() -> str:
    inject = (
        "text || CASE doc_id % 4 "
        "WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com .' "
        "WHEN 1 THEN ' call +12-345-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' .' "
        "WHEN 2 THEN ' host 10." + "' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 up.' "
        "ELSE '' END"
    )
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(aug, "
        f"'{PII_EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII_PHONE_RE}', '<PHONE>', 'g'), "
        f"'{PII_IP_RE}', '<IP>', 'g')"
    )
    return f"""
    WITH aug AS (
      SELECT doc_id, {inject} AS aug FROM documents
    ), red AS (
      SELECT doc_id, aug, {red} AS clean FROM aug
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '{PII_EMAIL_RE}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(aug, '{PII_PHONE_RE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(aug, '{PII_IP_RE}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(clean, '{PII_EMAIL_RE}'))
              + len(regexp_extract_all(clean, '{PII_PHONE_RE}'))
              + len(regexp_extract_all(clean, '{PII_IP_RE}')) AS BIGINT) AS n_residual,
           md5(clean) AS clean_fp
    FROM red
    """


@query("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction round-trip: inject deterministic
    email/phone/IP spans into doc_id % 4 slices, count matches per
    type, redact (email → phone → ip, fixed order — order is part of
    the spec since patterns could in principle overlap), and emit the
    residual match count (must be 0 — asserted by a unit test) plus
    the md5 fingerprint of the redacted text (so both engines must
    produce the IDENTICAL rewritten string, not just equal counts).

    Scale shape: pure per-row projection — regexp count + triple
    regexp_replace + md5 all inside one codegen stage, no shuffle, no
    UDF, no driver traffic. At 100 TB this is a map-only pass, the
    cheapest shape there is; the audit aggregate downstream reduces
    (3 longs)/doc."""
    t = load_tables(spark, sf_dir, "documents")
    inject = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com ."),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" call +12-345-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" ."),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1 up."),
            ),
        )
        .otherwise(F.lit("")),
    )
    aug = t["documents"].select("doc_id", inject.alias("aug"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    red = aug.withColumn("clean", clean)

    def n_matches(col: str, pat: str):
        return F.size(F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(0))).cast(
            "long"
        )

    return red.select(
        "doc_id",
        n_matches("aug", PII_EMAIL_RE).alias("n_email"),
        n_matches("aug", PII_PHONE_RE).alias("n_phone"),
        n_matches("aug", PII_IP_RE).alias("n_ip"),
        (
            n_matches("clean", PII_EMAIL_RE)
            + n_matches("clean", PII_PHONE_RE)
            + n_matches("clean", PII_IP_RE)
        ).alias("n_residual"),
        F.md5("clean").alias("clean_fp"),
    )


def _keep_best_oracle() -> str:
    from mercurygate_spark.operators.dedup import (
        duck_connected_components_sql,
        duck_minhash_pairs_sql,
    )

    cc = duck_connected_components_sql(
        "SELECT id_a, id_b FROM ("
        + duck_minhash_pairs_sql()
        + ") WHERE n_shared_bands >= 2"
    ).replace(
        "SELECT node, least(node, min(r)) AS component",
        "SELECT node AS doc_id, least(node, min(r)) AS component_id",
    )
    return f"""
    WITH comps AS MATERIALIZED ({cc}),
    toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '')) AS n_tokens
      FROM documents
    ), scored AS (
      SELECT c.doc_id, c.component_id, t.n_tokens
      FROM comps c JOIN toks t USING (doc_id)
    ), ranked AS (
      SELECT *, first_value(doc_id) OVER (
               PARTITION BY component_id
               ORDER BY n_tokens DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS kept_doc
      FROM scored
    )
    SELECT doc_id, component_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           kept_doc, (doc_id <> kept_doc) AS removed
    FROM ranked
    """


@query("dedup_keep_best_quality", oracle=_keep_best_oracle())
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical pick — the Dolma rule next to
    dedup_keep_canonical's min-id rule: within each transitive
    near-dup cluster (MinHash-LSH ≥2 shared bands → connected
    components), KEEP the member with the most tokens (ties → min
    doc_id) and remove the rest. Min-id is arbitrary; keeping the
    longest member preserves the most training signal per cluster,
    which is why Dolma/RefinedWeb pick a quality representative
    rather than an id. Output: every clustered doc with its cluster,
    the cluster's kept representative, and its removal verdict — the
    auditable decision frame.

    Scale shape: candidates are band-bucketed (never all-pairs), CC is
    the O(log² n) star-contraction over candidate edges only, the
    token counts ride a doc_id join of cluster members (a tiny
    fraction of the corpus), and the representative pick is a
    per-cluster window — bounded by cluster size."""
    from mercurygate_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    pairs = minhash_candidate_pairs(docs, "doc_id").where(
        F.col("n_shared_bands") >= 2
    )
    comps = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    )
    toks = docs.select("doc_id", F.size(tokens("text")).alias("n_tokens"))
    scored = comps.join(toks, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_tokens").desc(), "doc_id"
    )
    return scored.select(
        "doc_id",
        "component_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.first("doc_id").over(w).alias("kept_doc"),
    ).withColumn("removed", F.col("doc_id") != F.col("kept_doc"))
