"""Deduplication operators (north-star surface, BASELINE.json):
exact, MinHash+LSH banding, SimHash, n-gram Jaccard.

Design for 100 TB:
- every hash is md5-derived (cross-engine deterministic → DuckDB
  oracle can replay it; Spark's murmur hash() could not be checked);
- candidate generation is always BUCKETED (LSH bands, source buckets,
  hash prefixes) — never an all-pairs cross join; the shuffle key is
  the bucket, so work scales with bucket sizes, not n²;
- signatures are computed in ONE aggregation pass over exploded
  shingles (16 min-aggregates), not 16 passes.

Public-knowledge basis: Broder's MinHash (1997), Charikar's SimHash
(2002), standard LSH banding from Mining of Massive Datasets.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mercurygate_spark.functions import md5_long, tokens

# MinHash parameters — single source of truth for BOTH the Spark
# implementation and the generated DuckDB oracle SQL.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; (a*h+b) stays < 2^62 — no int64 overflow
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
# (a, b) pairs for the affine permutations h_j = (a_j*h0 + b_j) mod p.
HASH_PARAMS = [(2 * j + 1, 97 * j + 31) for j in range(N_HASHES)]

SHINGLE_K = 3  # word-trigram shingles


def _shingles_from_tokens(tk_col: str) -> Column:
    """Distinct word-trigram shingles from a materialized token-array
    column; texts shorter than K tokens fall back to one whole-text
    shingle. 0-based Spark SQL array indexing; the DuckDB twin uses
    1-based lists — see duck_shingles_sql()."""
    tri = F.expr(
        f"transform(sequence(0, size({tk_col}) - 3), i -> "
        f"concat({tk_col}[i], ' ', {tk_col}[i+1], ' ', {tk_col}[i+2]))"
    )
    return F.when(F.size(F.col(tk_col)) >= SHINGLE_K, F.array_distinct(tri)).otherwise(
        F.array(F.array_join(F.col(tk_col), " "))
    )


def duck_shingles_sql(text_expr: str = "text") -> str:
    """DuckDB twin of shingles(): CTE body producing (…, shingles LIST)."""
    tk = (
        f"list_filter(regexp_split_to_array(lower({text_expr}), '[^a-z0-9]+'),"
        " t -> t <> '')"
    )
    return f"""
      CASE WHEN len({tk}) >= {SHINGLE_K}
           THEN list_distinct(list_transform(range(1, len({tk}) - 1),
                i -> {tk}[i] || ' ' || {tk}[i+1] || ' ' || {tk}[i+2]))
           ELSE [array_to_string({tk}, ' ')]
      END
    """


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Explode-heavy operators amplify rows ~100×; a small input that
    arrived in 1-2 file partitions would run that blowup single-
    threaded. Repartition up to the cluster's parallelism ONLY when the
    input reads from fewer files than the cluster has cores — on a real
    100 TB table the scan already yields thousands of files/partitions
    and this is a no-op. Gate on ``inputFiles()`` (scan metadata, no
    job) rather than ``df.rdd.getNumPartitions()``: touching ``df.rdd``
    forces a logical→RDD plan conversion that hides the plan from AQE.

    ``inputFiles()`` is empty for non-file-backed frames
    (createDataFrame, shuffle/checkpoint outputs) — those are already
    partitioned by their producer (defaultParallelism slices or
    spark.sql.shuffle.partitions), so leave them alone rather than
    inserting an unconditional extra shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files == 0 or n_files >= target:
        return df
    return df.repartition(target)


def with_shingles(
    df: DataFrame, id_col: str, text_col: str = "text", extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    return ensure_parallelism(df).withColumn("__tk", tokens(text_col)).select(
        id_col, *extra_cols, _shingles_from_tokens("__tk").alias("shingles")
    )


def _tokenize_py(text: str) -> list[str]:
    """Python twin of functions.tokens (same regex class, same
    empty-token filtering) for the Arrow-batched hot path."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _shingles_py(text: str) -> list[str]:
    """Python twin of _shingles_from_tokens (distinct, order-free)."""
    tk = _tokenize_py(text)
    if len(tk) >= SHINGLE_K:
        return list(dict.fromkeys(
            " ".join(tk[i : i + SHINGLE_K]) for i in range(len(tk) - SHINGLE_K + 1)
        ))
    return [" ".join(tk)]


def minhash_signature_arrow(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Arrow-batched minhash signature: tokenize→shingle→md5→K affine
    mins per doc inside one mapInPandas pass (hashlib md5 == SQL md5,
    so the DuckDB oracle is unaffected).

    Why not pure Column expressions (explode the shingles, then one
    grouped aggregation of K affine min() columns): Spark
    evaluates higher-order-function lambdas and conv() in interpreted
    mode — ~50µs per shingle; the vectorized numpy path is ~100×
    faster and stays fully distributed (per-partition batches, no
    driver involvement). This is the 'UDFs are the slow path — unless
    the built-in path can't codegen' tradeoff made explicit."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    a_vec = np.array([a for a, _ in HASH_PARAMS], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in HASH_PARAMS], dtype=np.int64)[:, None]
    schema = StructType(
        [StructField(id_col, LongType())]
        + [StructField(f"m{j}", LongType()) for j in range(N_HASHES)]
    )

    def sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _shingles_py(text)
                h0 = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_PRIME
                     for s in sh),
                    dtype=np.int64, count=len(sh),
                )
                mins = ((a_vec * h0 + b_vec) % MINHASH_PRIME).min(axis=1)
                out.append((int(did), *mins.tolist()))
            yield pd.DataFrame(out, columns=[id_col] + [f"m{j}" for j in range(N_HASHES)])

    return df.select(id_col, text_col).mapInPandas(sigs, schema)


def lsh_bands(sig: DataFrame, id_col: str) -> DataFrame:
    """Signature → (id, band_idx, band_key): md5 over each band's
    concatenated minhashes. Docs agreeing on ALL rows of any band
    share a band_key — the LSH bucket join key."""
    band_cols = []
    for b in range(N_BANDS):
        parts = [F.col(f"m{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)]
        band_cols.append(F.md5(F.concat_ws(",", *parts)))
    return sig.select(
        id_col, F.posexplode(F.array(*band_cols)).alias("band_idx", "band_key")
    )


def minhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """End-to-end MinHash LSH: docs → signatures → band buckets →
    candidate pairs (id_a < id_b) with the number of agreeing bands.
    The only join is bucket-equi on (band_idx, band_key)."""
    bands = lsh_bands(minhash_signature_arrow(df, id_col, text_col), id_col)
    # Small frame (N_BANDS rows/doc), self-joined next. Without
    # materialization Spark computes the whole shingle→signature
    # pipeline twice (no ReusedExchange across the differently-aliased
    # join sides — verified on the physical plan). localCheckpoint
    # scopes the materialized copy to THIS call's lineage: both join
    # sides share one checkpointed RDD, and its storage is released
    # when the result goes out of scope — no module-global cache that
    # concurrent queries could unpersist from under each other.
    bands = bands.localCheckpoint(eager=False)
    a = bands.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_key"
    )
    b = bands.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    return (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def duck_minhash_pairs_sql(id_col: str = "doc_id", table: str = "documents") -> str:
    """Generated DuckDB oracle replaying the exact same MinHash LSH
    pipeline (same md5-base hash, same HASH_PARAMS, same banding)."""
    p = MINHASH_PRIME
    mins = ",\n             ".join(
        f"min(({a} * h0 + {b}) % {p}) AS m{j}" for j, (a, b) in enumerate(HASH_PARAMS)
    )
    band_rows = []
    for bi in range(N_BANDS):
        parts = " || ',' || ".join(
            f"m{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT {id_col}, {bi} AS band_idx, md5({parts}) AS band_key FROM sig"
        )
    bands_union = "\n      UNION ALL\n      ".join(band_rows)
    return f"""
    WITH sh AS (
      SELECT {id_col}, {duck_shingles_sql()} AS shingles FROM {table}
    ), ex AS (
      SELECT {id_col}, unnest(shingles) AS s FROM sh
    ), hashed AS (
      SELECT {id_col}, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h0 FROM ex
    ), sig AS (
      SELECT {id_col},
             {mins}
      FROM hashed GROUP BY {id_col}
    ), bands AS (
      {bands_union}
    )
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, count(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.{id_col} < b.{id_col}
    GROUP BY 1, 2
    """


def lsh_star_edges(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Skew-safe LSH candidate generation: per (band_idx, band_key)
    bucket emit only STAR edges (bucket-min id → every other member)
    instead of all pairs.

    Why: a duplicate FAMILY holding fraction f of the corpus lands in
    shared band buckets, and all-pairs generation emits Θ((fN)²)
    candidates — at f=0.1, 100× the corpus size squared. No salting
    can fix that: the quadratic cost is the OUTPUT, not the shuffle.
    Star edges emit ≤ N_BANDS·N rows total while preserving exactly
    the connectivity all-pairs gives (every member of a bucket is
    connected through the bucket's min), so transitive clustering
    (connected_components) produces IDENTICAL components — proven by
    tests and by scripts/dedup_skew_probe.py on a head-heavy corpus.

    Plan: bucket→min is a map-side-combinable groupBy (a hot bucket
    collapses to one row per task before the shuffle); the join back
    is bucket-equi and its output is linear; AQE skew-join splits the
    hot bucket's probe side if needed. No windows over hot partitions,
    no collect."""
    bands = lsh_bands(minhash_signature_arrow(df, id_col, text_col), id_col)
    bands = bands.localCheckpoint(eager=False)
    roots = bands.groupBy("band_idx", "band_key").agg(F.min(id_col).alias("id_a"))
    return (
        bands.join(roots, ["band_idx", "band_key"])
        .where(F.col(id_col) != F.col("id_a"))
        .groupBy("id_a", F.col(id_col).alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def duck_lsh_star_edges_sql(id_col: str = "doc_id", table: str = "documents") -> str:
    """Generated DuckDB oracle replaying lsh_star_edges: same bands,
    bucket-min roots, star edges with shared-band counts."""
    p = MINHASH_PRIME
    mins = ",\n             ".join(
        f"min(({a} * h0 + {b}) % {p}) AS m{j}" for j, (a, b) in enumerate(HASH_PARAMS)
    )
    band_rows = []
    for bi in range(N_BANDS):
        parts = " || ',' || ".join(
            f"m{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT {id_col}, {bi} AS band_idx, md5({parts}) AS band_key FROM sig"
        )
    bands_union = "\n      UNION ALL\n      ".join(band_rows)
    return f"""
    WITH sh AS (
      SELECT {id_col}, {duck_shingles_sql()} AS shingles FROM {table}
    ), ex AS (
      SELECT {id_col}, unnest(shingles) AS s FROM sh
    ), hashed AS (
      SELECT {id_col}, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h0 FROM ex
    ), sig AS (
      SELECT {id_col},
             {mins}
      FROM hashed GROUP BY {id_col}
    ), bands AS (
      {bands_union}
    ), roots AS (
      SELECT band_idx, band_key, min({id_col}) AS id_a
      FROM bands GROUP BY 1, 2
    )
    SELECT r.id_a, b.{id_col} AS id_b, count(*) AS n_shared_bands
    FROM bands b JOIN roots r
      ON b.band_idx = r.band_idx AND b.band_key = r.band_key
    WHERE b.{id_col} <> r.id_a
    GROUP BY 1, 2
    """


# Incremental cross-batch dedup: deterministic corpus/new-batch split
# (same role as the reference's first-load-vs-refresh routing,
# mm_source_to_bronze.py:156-167, transposed to the dedup domain).
INCR_SPLIT_MOD = 5  # doc_id % 5 == 0 → "new batch"; else → indexed corpus


def duck_incremental_append_sql(
    id_col: str = "doc_id", table: str = "documents"
) -> str:
    """Generated DuckDB oracle for dedup_incremental_append — the full
    continuous-ingestion loop: batch1 (doc_id%5=4) probes the corpus
    index (%5 in 1..3), its bands are APPENDED to the index, then
    batch2 (%5=0) probes the grown index. Replayed as pure SQL over
    the same three deterministic splits."""
    p = MINHASH_PRIME
    mins = ",\n             ".join(
        f"min(({a} * h0 + {b}) % {p}) AS m{j}" for j, (a, b) in enumerate(HASH_PARAMS)
    )

    def bands_union(sig_cte: str) -> str:
        rows = []
        for bi in range(N_BANDS):
            parts = " || ',' || ".join(
                f"m{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            )
            rows.append(
                f"SELECT {id_col}, {bi} AS band_idx, md5({parts}) AS band_key"
                f" FROM {sig_cte}"
            )
        return "\n      UNION ALL\n      ".join(rows)

    def side(prefix: str, pred: str) -> str:
        return f"""{prefix}_sh AS (
      SELECT {id_col}, {duck_shingles_sql()} AS shingles
      FROM {table} WHERE {pred}
    ), {prefix}_ex AS (
      SELECT {id_col}, unnest(shingles) AS s FROM {prefix}_sh
    ), {prefix}_hashed AS (
      SELECT {id_col}, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h0
      FROM {prefix}_ex
    ), {prefix}_sig AS (
      SELECT {id_col},
             {mins}
      FROM {prefix}_hashed GROUP BY {id_col}
    ), {prefix}_bands AS (
      {bands_union(prefix + "_sig")}
    )"""

    def probe(cand_cte: str, bands: str, index: str, batch_no: int) -> str:
        return f"""{cand_cte} AS (
      SELECT b.{id_col} AS new_id, c.{id_col} AS match_id,
             count(*) AS shared
      FROM {bands} b JOIN {index} c
        ON b.band_idx = c.band_idx AND b.band_key = c.band_key
      GROUP BY 1, 2
    ), out{batch_no} AS (
      SELECT {batch_no} AS batch_no, new_id, match_id, shared,
             CAST(count(*) OVER (PARTITION BY new_id) AS BIGINT)
               AS n_candidates,
             row_number() OVER (
               PARTITION BY new_id ORDER BY shared DESC, match_id
             ) AS rn
      FROM {cand_cte}
    )"""

    m = INCR_SPLIT_MOD
    return f"""
    WITH {side("corpus", f"{id_col} % {m} NOT IN (0, {m - 1})")},
    {side("b1", f"{id_col} % {m} = {m - 1}")},
    {side("b2", f"{id_col} % {m} = 0")},
    {probe("cand1", "b1_bands", "corpus_bands", 1)},
    idx2 AS (
      SELECT * FROM corpus_bands UNION ALL SELECT * FROM b1_bands
    ),
    {probe("cand2", "b2_bands", "idx2", 2)}
    SELECT batch_no, new_id, match_id,
           CAST(shared AS BIGINT) AS shared_bands, n_candidates
    FROM (SELECT * FROM out1 UNION ALL SELECT * FROM out2)
    WHERE rn = 1
    """


def duck_incremental_dedup_sql(id_col: str = "doc_id", table: str = "documents") -> str:
    """Generated DuckDB oracle for dedup_incremental_index: replays
    the SAME minhash/banding pipeline over both halves of the
    deterministic corpus/batch split, joins batch bands against
    corpus bands, and picks each new doc's best match
    (max shared bands, then min corpus id)."""
    p = MINHASH_PRIME
    mins = ",\n             ".join(
        f"min(({a} * h0 + {b}) % {p}) AS m{j}" for j, (a, b) in enumerate(HASH_PARAMS)
    )

    def bands_union(sig_cte: str) -> str:
        rows = []
        for bi in range(N_BANDS):
            parts = " || ',' || ".join(
                f"m{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            )
            rows.append(
                f"SELECT {id_col}, {bi} AS band_idx, md5({parts}) AS band_key"
                f" FROM {sig_cte}"
            )
        return "\n      UNION ALL\n      ".join(rows)

    def side(prefix: str, pred: str) -> str:
        return f"""{prefix}_sh AS (
      SELECT {id_col}, {duck_shingles_sql()} AS shingles
      FROM {table} WHERE {pred}
    ), {prefix}_ex AS (
      SELECT {id_col}, unnest(shingles) AS s FROM {prefix}_sh
    ), {prefix}_hashed AS (
      SELECT {id_col}, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h0
      FROM {prefix}_ex
    ), {prefix}_sig AS (
      SELECT {id_col},
             {mins}
      FROM {prefix}_hashed GROUP BY {id_col}
    ), {prefix}_bands AS (
      {bands_union(prefix + "_sig")}
    )"""

    return f"""
    WITH {side("corpus", f"{id_col} % {INCR_SPLIT_MOD} <> 0")},
    {side("batch", f"{id_col} % {INCR_SPLIT_MOD} = 0")},
    cand AS (
      SELECT b.{id_col} AS new_id, c.{id_col} AS match_id,
             count(*) AS shared
      FROM batch_bands b JOIN corpus_bands c
        ON b.band_idx = c.band_idx AND b.band_key = c.band_key
      GROUP BY 1, 2
    ), ranked AS (
      SELECT new_id, match_id, shared,
             CAST(count(*) OVER (PARTITION BY new_id) AS BIGINT)
               AS n_candidates,
             row_number() OVER (
               PARTITION BY new_id ORDER BY shared DESC, match_id
             ) AS rn
      FROM cand
    )
    SELECT new_id, match_id,
           CAST(shared AS BIGINT) AS shared_bands,
           n_candidates
    FROM ranked WHERE rn = 1
    """


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    on_round=None,
) -> DataFrame:
    """Distributed connected components over a candidate-pair graph via
    alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014 — public algorithm).
    Returns (node, component) where component = min node id of the
    node's component; every node that appears in a pair is present.

    Why this and not label propagation: min-label propagation needs
    O(diameter) rounds (a chain a~b~c~… takes one round per hop);
    star contractions converge in O(log² n) rounds regardless of
    shape — the property that holds up when a 100 TB corpus contains
    million-document near-dup chains (boilerplate families).

    Scale shape per round: two groupBy-min shuffles keyed on node id,
    edges localCheckpointed each round to truncate the iterative
    lineage (else the plan doubles per round). Deterministic: min-based
    contraction has no tie to break."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        # For each node u with neighborhood Γ(u) (symmetric view) and
        # m = min(Γ(u) ∪ {u}): connect every LARGER neighbor to m.
        nbrs = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), "v")  # m ≤ u < v ⇒ canonical (u < v)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # Key each edge by its LARGER endpoint u with smaller neighbors
        # Γ(u); m = min(Γ(u)): connect every smaller neighbor AND u to m.
        d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        rewired = d.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
        self_links = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return (
            rewired.unionAll(self_links)
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )

    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    converged = False
    for rnd in range(max_iter):
        _t0 = _time.monotonic() if on_round else 0.0
        # One star round per localCheckpoint. Chaining two rounds
        # lazily per checkpoint was measured worse: the second round's
        # large_star/small_star each reference their un-materialized
        # input twice (nbrs groupBy + join), so the first round's whole
        # subtree re-evaluates — dedup_connected_components went 32→62
        # jobs / 3.4→9.9 s, er_cluster 50→68 / 3.1→6.2, pair_cluster
        # 38→68 / 4.4→9.0 (docs/cc_cadence_probe_r16.json).
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        # Both frames are distinct by construction, so set equality is
        # |new| == |old| plus new ⊆ old — one exceptAll job instead of
        # two, on already-materialized (checkpointed) inputs.
        n_new = new_edges.count()
        converged = n_new == n_edges and new_edges.exceptAll(edges).isEmpty()
        edges, n_edges = new_edges, n_new
        if on_round is not None:  # instrumentation hook (scripts/stage_probe.py)
            on_round(rnd, n_new, _time.monotonic() - _t0)
        if converged:
            break
    if not converged:
        # A non-fixpoint labeling would silently drop/keep documents on
        # wrong components downstream — fail loudly instead. O(log² n)
        # convergence means 25 rounds covers any realistic graph; hitting
        # this indicates a bug or a pathological input worth inspecting.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"large-star/small-star rounds; raise max_iter or inspect the pair graph"
        )
    # Fixpoint = star graphs: every edge is (component_min, node).
    return (
        edges.select(F.col("v").alias("node"), F.col("u").alias("component"))
        .unionAll(edges.select(F.col("u").alias("node"), F.col("u").alias("component")))
        .distinct()
    )


def duck_connected_components_sql(
    pairs_sql: str,
    a_col: str = "id_a",
    b_col: str = "id_b",
    final_select: str | None = None,
) -> str:
    """DuckDB oracle twin of connected_components(): recursive
    reachability closure, component = min reachable node (fine at
    oracle scale; the Spark side exists because this closure is
    quadratic in component size). ``final_select`` optionally replaces
    the default tail — it may open with further CTE definitions
    (", sizes AS (...) SELECT ...") that build on __cc_reach."""
    tail = final_select or (
        "SELECT node, least(node, min(r)) AS component\n"
        "    FROM __cc_reach GROUP BY node"
    )
    return f"""
    WITH RECURSIVE __cc_pairs AS (
      {pairs_sql}
    ), __cc_edges AS (
      SELECT {a_col} AS u, {b_col} AS v FROM __cc_pairs
      UNION
      SELECT {b_col}, {a_col} FROM __cc_pairs
    ), __cc_reach(node, r) AS (
      SELECT u, v FROM __cc_edges
      UNION
      SELECT w.node, e.v FROM __cc_reach w JOIN __cc_edges e ON e.u = w.r
    )
    {tail}
    """


SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Per-doc SimHash over token-count-weighted md5 token hashes:
    bit i of the fingerprint is 1 iff sum over tokens of
    count * (2*bit_i(h)-1) > 0. Two explodes (tokens, then 32 bit
    positions) — linear in tokens × 32, no joins."""
    tok = ensure_parallelism(df).select(id_col, F.explode(tokens(text_col)).alias("t"))
    counted = tok.groupBy(id_col, "t").agg(F.count("*").alias("c"))
    hashed = counted.select(id_col, "c", (md5_long(F.col("t"))).alias("h"))
    bits = (
        hashed.select(id_col, "c", "h")
        .select(
            id_col,
            "c",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("i"),
        )
        .select(
            id_col,
            F.col("i"),
            (F.col("c") * (F.expr("cast((h >> i) & 1 as bigint)") * 2 - 1)).alias("contrib"),
        )
    )
    return (
        bits.groupBy(id_col, "i")
        .agg(F.sum("contrib").alias("s"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("cast(pow(2, i) as bigint)")).otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def duck_simhash_sql(id_col: str = "doc_id", table: str = "documents") -> str:
    """DuckDB oracle replaying simhash() exactly."""
    tk = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    return f"""
    WITH tok AS (
      SELECT {id_col}, unnest({tk}) AS t FROM {table}
    ), counted AS (
      SELECT {id_col}, t, count(*) AS c FROM tok GROUP BY {id_col}, t
    ), hashed AS (
      SELECT {id_col}, c, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM counted
    ), bits AS (
      SELECT {id_col}, i, c * ((((h >> i) & 1) * 2) - 1) AS contrib
      FROM hashed, (SELECT unnest(range({SIMHASH_BITS})) AS i)
    ), sums AS (
      SELECT {id_col}, i, sum(contrib) AS s FROM bits GROUP BY {id_col}, i
    )
    SELECT {id_col},
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
    FROM sums GROUP BY {id_col}
    """


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    bucket_col: str,
    text_col: str = "text",
    threshold: float = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing a
    bucket (blocking column — at scale, an LSH band or simhash prefix;
    here any low-cardinality key). jaccard = |A∩B| / (|A|+|B|-|A∩B|)
    over distinct shingle sets, computed by a shingle-equi join —
    intersection counts come from the join, set sizes from one
    aggregate; integer arithmetic end-to-end until the final division."""
    sh = with_shingles(df.withColumn("bucket", F.col(bucket_col)), id_col, text_col, ("bucket",))
    sizes = sh.select(id_col, "bucket", F.size("shingles").alias("n_sh"))
    ex = sh.select(id_col, "bucket", F.explode("shingles").alias("s"))
    a = ex.select(F.col(id_col).alias("id_a"), "bucket", "s")
    b = ex.select(F.col(id_col).alias("id_b"), "bucket", "s")
    inter = (
        a.join(b, ["bucket", "s"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("bucket", "id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("bucket"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("bucket"), F.col("n_sh").alias("n_b"))
    j = (
        inter.join(sa, ["bucket", "id_a"])
        .join(sb, ["bucket", "id_b"])
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return j.where(F.col("jaccard") >= threshold)


def winnow_fingerprints_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 12,
    w: int = 8,
    base: int = 27,
    mod: int = 2147483647,
) -> DataFrame:
    """Arrow-batched winnowing fingerprints (Schleimer, Wilkerson,
    Aiken — SIGMOD 2003): normalize → polynomial k-gram hashes →
    min per sliding window of w grams → distinct selected hashes,
    exploded to one (id, fp) row per fingerprint.

    Same tradeoff as minhash_signature_arrow above: the pure-Column
    version (transform/sequence/least lambdas) evaluates interpreted
    at ~µs per gram; the numpy path (sliding_window_view + one int64
    matmul per doc) measured 6× faster at sf0.1 (docs/SCALING.md)
    and stays fully distributed. Every intermediate is an exact
    int64 — max 12-term sum 122·Σ27^j < 7.2e17 < 2^63 — so
    fingerprints are bit-identical to the SQL/DuckDB polynomial by
    construction (guarded below for non-default k/base)."""
    import re
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.types import LongType, StructField, StructType

    # int64 safety for the flat polynomial sum: numpy would wrap
    # silently past 2^63 while the SQL twin errors — fail fast instead
    # (122 = max codepoint after the [a-z0-9] normalization, 'z')
    if 122 * (base**k - 1) // (base - 1) >= 2**63:
        raise ValueError(
            f"winnowing polynomial overflows int64 for k={k}, base={base}"
        )
    pow_vec = np.array(
        [base ** (k - 1 - j) for j in range(k)], dtype=np.int64
    )
    strip = re.compile(r"[^a-z0-9]")
    schema = StructType(
        [StructField(id_col, LongType()), StructField("fp", LongType())]
    )

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sels = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                s = strip.sub("", (text or "").lower())
                if len(s) < k + w - 1:
                    continue
                codes = np.frombuffer(
                    s.encode("ascii"), dtype=np.uint8
                ).astype(np.int64)
                g = (sliding_window_view(codes, k) @ pow_vec) % mod
                sel = np.unique(sliding_window_view(g, w).min(axis=1))
                ids.append(np.full(len(sel), int(did), dtype=np.int64))
                sels.append(sel)
            if ids:
                yield pd.DataFrame(
                    {id_col: np.concatenate(ids), "fp": np.concatenate(sels)}
                )

    return df.select(id_col, text_col).mapInPandas(fps, schema)
