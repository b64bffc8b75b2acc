"""Similarity-search queries over the embeddings table (north-star
surface): brute-force cosine top-k baseline + LSH-bucketed ANN.

Both are oracle-checked: the LSH planes are md5-derived constants, so
even the ANN bucketing replays exactly in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mercurygate_spark.functions import r6
from mercurygate_spark.operators.similarity import (
    EMBED_DIMS,
    KMEANS_ITERS,
    N_CENTROIDS,
    N_PROBE,
    QUANT,
    TRAIN_SAMPLE_KEEP,
    TRAIN_SAMPLE_MOD,
    _as_double,
    cosine,
    cosine_pre,
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
    cosine_topk_lsh_multi,
    duck_bucket_sql,
    duck_ivf_kmeans_sql,
    norm,
)
from mercurygate_spark.queries.registry import load_tables, query

N_QUERIES = 5  # vec_id < 5 are the designated query vectors
TOP_K = 10

_DUCK_COS = """
    round(
      list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
      4)
"""


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
             {_DUCK_COS} AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOP_K} for {N_QUERIES} query vectors:
    broadcast(queries) × corpus scan, rank by (4-dp cosine desc, id).
    The baseline every ANN variant is measured against."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    return cosine_topk(q, e, k=TOP_K)


@query(
    "sim_cosine_ann_lsh",
    oracle=f"""
    WITH bq AS (
      SELECT vec_id, embedding, {duck_bucket_sql('embedding')} AS bucket
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), bc AS (
      SELECT vec_id, embedding, {duck_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
             {_DUCK_COS} AS cos
      FROM bq q JOIN bc c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def sim_cosine_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: 8 deterministic md5-derived
    hyperplanes → sign-bit bucket; cosine scored only within the
    query's bucket. Candidate generation is a bucket-equi join, not a
    corpus scan per query. Recall vs the brute-force baseline is
    asserted in unit tests."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    return cosine_topk_lsh(q, e, k=TOP_K)


_IVF_ORACLE = f"""
    WITH {duck_ivf_kmeans_sql()},
    assign_final AS (
      SELECT e.vec_id, e.embedding, c.cidx,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_sum(list_transform(range(1, {EMBED_DIMS + 1}),
                          j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j]))),
                        c.cidx
             ) AS probe_rank
      FROM qemb e CROSS JOIN cent{KMEANS_ITERS} c
    ), corpus_lists AS (
      SELECT vec_id AS candidate_id, embedding AS cv, cidx
      FROM assign_final WHERE probe_rank = 1
    ), query_probes AS (
      SELECT vec_id AS query_id, embedding AS qv, cidx
      FROM assign_final WHERE vec_id < {N_QUERIES} AND probe_rank <= {N_PROBE}
    ), scored AS (
      SELECT p.query_id, c.candidate_id,
             round(
               list_dot_product(p.qv::DOUBLE[], c.cv::DOUBLE[]) /
               (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) *
                sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))),
               4) AS cos
      FROM query_probes p JOIN corpus_lists c
        ON p.cidx = c.cidx AND p.query_id <> c.candidate_id
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """


@query("sim_cosine_ivf", oracle=_IVF_ORACLE)
def sim_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN with TRAINED centroids: deterministic Lloyd's
    k-means on a quantized integer grid (md5-ordered init, fixed
    {KMEANS_ITERS} iterations — operators.similarity.train_ivf_centroids)
    partitions the corpus into {N_CENTROIDS} inverted lists; queries
    probe their {N_PROBE} nearest lists. The oracle replays the whole
    training loop in SQL (unrolled CTE per iteration) — possible
    because every training step is integer-exact on both engines."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    return cosine_topk_ivf(q, e, k=TOP_K)


@query("sim_ivf_persisted_probe", oracle=_IVF_ORACLE)
def sim_ivf_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_cosine_ivf with the inverted lists PERSISTED — the vector
    index a production ANN service actually serves from: the assigned
    corpus (vec_id, embedding, centroid_id) is written ONCE as a
    catalog table bucketed by centroid_id, and queries probe their
    {N_PROBE} nearest lists via a bucket-equi join whose index side
    reads the bucketed layout with no Exchange — the similarity twin
    of dedup_incremental_index's persisted band index. At 100 TB the
    index build amortizes across every query batch, and probe I/O
    touches only the probed lists' buckets. Oracle: identical to
    sim_cosine_ivf — persistence must be value-invisible."""
    import os as _os

    from mercurygate_spark.io.bucketing import write_bucketed
    from mercurygate_spark.io.tmp_tables import register_tmp_table
    from mercurygate_spark.operators.similarity import (
        cosine,
        ivf_assign,
        train_ivf_centroids,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    cmat = train_ivf_centroids(e)
    assigned = ivf_assign(e, cmat, "vec_id", "embedding", n_probe=1).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("cv"),
        "centroid_id",
    )
    name = f"mg_ivf_lists_{_os.getpid()}"
    write_bucketed(assigned, name, "centroid_id", 8, sort_by="centroid_id")
    register_tmp_table(spark, name)
    lists = spark.table(name)
    q = e.where(F.col("vec_id") < N_QUERIES)
    # norms once per vector, not per (query, candidate) pair — the
    # list-equi join has fanout = list occupancy (cosine_pre;
    # bit-identical)
    query_probes = ivf_assign(q, cmat, "vec_id", "embedding", n_probe=N_PROBE).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "centroid_id"
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    scored = (
        query_probes.join(lists.withColumn("cn", norm(_as_double(F.col("cv")))), "centroid_id")
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**4 + F.lit(0.5)
            ) / 10**4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("candidate_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= TOP_K)


@query(
    "sim_filtered_topk",
    oracle=f"""
    WITH {duck_ivf_kmeans_sql()},
    assign_final AS (
      SELECT e.vec_id, e.embedding, c.cidx,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_sum(list_transform(range(1, {EMBED_DIMS + 1}),
                          j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j]))),
                        c.cidx
             ) AS probe_rank
      FROM qemb e CROSS JOIN cent{KMEANS_ITERS} c
    ), corpus_lists AS (
      SELECT a.vec_id AS candidate_id, a.embedding AS cv, a.cidx, m.label
      FROM assign_final a JOIN embeddings m ON a.vec_id = m.vec_id
      WHERE a.probe_rank = 1
    ), query_probes AS (
      SELECT a.vec_id AS query_id, a.embedding AS qv, a.cidx, m.label
      FROM assign_final a JOIN embeddings m ON a.vec_id = m.vec_id
      WHERE a.vec_id < {N_QUERIES} AND a.probe_rank <= {N_PROBE}
    ), scored AS (
      SELECT p.query_id, p.label, c.candidate_id,
             round(
               list_dot_product(p.qv::DOUBLE[], c.cv::DOUBLE[]) /
               (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) *
                sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))),
               4) AS cos
      FROM query_probes p JOIN corpus_lists c
        ON p.cidx = c.cidx AND p.label = c.label
           AND p.query_id <> c.candidate_id
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, label, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — the production vector-DB query shape (search
    within a tenant/category/language) every plain ANN key lacks: each
    query retrieves its top-{TOP_K} cosine neighbors among ONLY the
    corpus vectors satisfying a metadata predicate (here: same `label`
    as the query — the per-query filter, harder than a constant one).

    This is the PRE-FILTER strategy: the predicate attribute rides the
    inverted lists (ivf_assign carries `label` through the same Arrow
    assignment pass — zero extra shuffles), and the probe join adds
    label to the equi-key, so non-matching candidates are never even
    scored. The alternative — post-filtering a plain ANN top-k' — loses
    recall whenever the unfiltered top-k' is dominated by non-matching
    vectors (at 10% selectivity, k'=k keeps ~k/10 usable results);
    measured head-to-head at equal candidate budget in
    docs/filtered_ann_r11.json (scripts/filtered_ann_probe.py).

    At 100 TB: same probe shape as sim_cosine_ivf — the label join key
    only SHRINKS the join fan-out; selective predicates cut scored
    candidates proportionally. A persisted variant would bucket the
    index by (centroid_id) and cluster files by label for file skipping.
    Oracle: full Lloyd replay + label-filtered probe join."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    from mercurygate_spark.operators.similarity import ivf_assign, train_ivf_centroids

    cmat = train_ivf_centroids(e)
    corpus_assigned = ivf_assign(
        e, cmat, "vec_id", "embedding", n_probe=1, extra_cols=("label",)
    ).select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("cv"),
        "centroid_id",
        "label",
    )
    q = e.where(F.col("vec_id") < N_QUERIES)
    query_probes = ivf_assign(
        q, cmat, "vec_id", "embedding", n_probe=N_PROBE, extra_cols=("label",)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "centroid_id",
        "label",
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    # norms once per vector, not per pair (cosine_pre; bit-identical)
    scored = (
        query_probes.join(
            corpus_assigned.withColumn("cn", norm(_as_double(F.col("cv")))),
            ["centroid_id", "label"],
        )
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "label",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**4 + F.lit(0.5)
            ) / 10**4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("candidate_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= TOP_K)


# The 100 TB training path: centroids learned on the deterministic
# md5-bucket sample (~30%), assignment/scoring over the full corpus.
_SAMPLE_TABLE = (
    "(SELECT * FROM embeddings WHERE "
    f"(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT "
    f"% {TRAIN_SAMPLE_MOD}) < {TRAIN_SAMPLE_KEEP})"
)


@query(
    "sim_cosine_ivf_sampled",
    oracle=f"""
    WITH {duck_ivf_kmeans_sql(table=_SAMPLE_TABLE)},
    qemb_full AS (
      SELECT vec_id, embedding,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {QUANT} + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ), assign_final AS (
      SELECT e.vec_id, e.embedding, c.cidx,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_sum(list_transform(range(1, {EMBED_DIMS + 1}),
                          j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j]))),
                        c.cidx
             ) AS probe_rank
      FROM qemb_full e CROSS JOIN cent{KMEANS_ITERS} c
    ), corpus_lists AS (
      SELECT vec_id AS candidate_id, embedding AS cv, cidx
      FROM assign_final WHERE probe_rank = 1
    ), query_probes AS (
      SELECT vec_id AS query_id, embedding AS qv, cidx
      FROM assign_final WHERE vec_id < {N_QUERIES} AND probe_rank <= {N_PROBE}
    ), scored AS (
      SELECT p.query_id, c.candidate_id,
             round(
               list_dot_product(p.qv::DOUBLE[], c.cv::DOUBLE[]) /
               (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) *
                sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))),
               4) AS cos
      FROM query_probes p JOIN corpus_lists c
        ON p.cidx = c.cidx AND p.query_id <> c.candidate_id
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def sim_cosine_ivf_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose k-means runs on the deterministic md5-bucket
    training sample ({TRAIN_SAMPLE_KEEP}/{TRAIN_SAMPLE_MOD} buckets,
    ~30%) instead of the full corpus — the 100 TB training path: the
    sample is materialized once (localCheckpoint) and the (iters+1)
    training passes scan it, not the corpus. Full corpus is still
    assigned and scored. The oracle replays the sampled training
    bit-for-bit (same md5 bucket predicate in SQL)."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    return cosine_topk_ivf(
        q, e, k=TOP_K, train_sample=(TRAIN_SAMPLE_KEEP, TRAIN_SAMPLE_MOD)
    )


def _multi_bucket_union_sql(source: str) -> str:
    """UNION ALL of per-table seeded buckets over ``source`` — the
    DuckDB twin of lsh_bucket_multi (literal ±1 sign lists)."""
    from mercurygate_spark.operators.similarity import (
        N_PLANES_MULTI,
        N_TABLES,
        duck_bucket_sql_seeded,
    )

    return " UNION ALL ".join(
        f"SELECT {t} AS lsh_table, vec_id, embedding, "
        f"{duck_bucket_sql_seeded('embedding', f't{t}', N_PLANES_MULTI)} AS bucket "
        f"FROM {source}"
        for t in range(N_TABLES)
    )


@query(
    "sim_cosine_ann_lsh_multi",
    oracle=f"""
    WITH bq AS (
      {_multi_bucket_union_sql(f'(SELECT * FROM embeddings WHERE vec_id < {N_QUERIES})')}
    ), bc AS (
      {_multi_bucket_union_sql('embeddings')}
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS candidate_id
      FROM bq q JOIN bc c
        ON q.lsh_table = c.lsh_table AND q.bucket = c.bucket
       AND q.vec_id <> c.vec_id
    ), scored AS (
      SELECT p.query_id, p.candidate_id, {_DUCK_COS} AS cos
      FROM cand p
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings c ON c.vec_id = p.candidate_id
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """,
)
def sim_cosine_ann_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN (the recall amplifier the single-table
    variant lacks): candidates are the union of 4 independent 5-plane
    hash tables' bucket matches, deduped before scoring. Measured at
    sf0.1 (docs/SCALING.md): recall far above single-table at a still
    ~10x candidate reduction. Seeded planes are md5-derived constants,
    so the whole construction replays exactly in DuckDB."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    q = e.where(F.col("vec_id") < N_QUERIES)
    return cosine_topk_lsh_multi(q, e, k=TOP_K)


@query(
    "sim_embedding_centroid",
    oracle="""
    WITH e AS (
      SELECT label, i, embedding[i + 1] AS v
      FROM embeddings, UNNEST(range(len(embedding))) AS r(i)
    ), comp AS (
      SELECT label, i, round(avg(v), 6) AS c FROM e GROUP BY 1, 2
    ), cent AS (
      SELECT label, list(c ORDER BY i) AS centroid FROM comp GROUP BY label
    ), n AS (
      SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label
    )
    SELECT n.label, n.n_vecs, cent.centroid,
           round(sqrt(list_sum(list_transform(centroid, x -> x * x))), 6)
             AS centroid_norm
    FROM n JOIN cent USING (label)
    """,
)
def sim_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector AGGREGATION (the reduce half of the embedding toolkit —
    the search keys query vectors, this one summarizes them): per-
    label mean embedding via posexplode → (label, position) partial
    avg → ordered reassembly with array_sort(collect_list(struct)).
    No UDF anywhere: component averaging is plain codegen aggregation
    and shuffles (labels × dims) rows of scalars, never whole vectors
    — at 100 TB the shuffle volume is the CENTROID table size,
    independent of corpus size (same contract as IVF training,
    operators/similarity.py, which collects exactly k×dims to the
    driver). Components are r6-rounded BEFORE the norm so the derived
    scalar is computed from bit-identical inputs in both engines."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"].select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    comp = e.groupBy("label", "pos").agg(r6(F.avg("v")).alias("c"))
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    n = t["embeddings"].groupBy("label").agg(F.count("*").alias("n_vecs"))
    return n.join(cent, "label").select(
        "label",
        "n_vecs",
        "centroid",
        r6(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("centroid"), lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
        ).alias("centroid_norm"),
    )


from mercurygate_spark.operators.similarity import duck_pq_sql, pq_adc_topk  # noqa: E402


@query("sim_pq_adc_topk", oracle=duck_pq_sql(N_QUERIES, TOP_K))
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): per-subspace
    deterministic Lloyd's codebooks (same integer-grid training as
    IVF), corpus encoded as PQ_M small codes, queries scored by
    asymmetric distance — a precomputed query×codebook distance table
    summed over the candidate's codes. The 100 TB memory path: 256 B
    of floats per vector become PQ_M=16 B of codes, and the scoring
    pass reads ONLY the codes frame (one lookup per subspace per
    candidate), never the float vectors. The oracle replays all
    PQ_M=16 per-subspace training loops (prefixed unrolled-CTE
    chains), the code assignment, and the ADC ranking — integer-exact
    end to end."""
    t = load_tables(spark, sf_dir, "embeddings")
    return pq_adc_topk(t["embeddings"], k=TOP_K, n_queries=N_QUERIES)


from mercurygate_spark.operators.similarity import duck_opq_sql, opq_adc_topk  # noqa: E402


@query("sim_opq_topk", oracle=duck_opq_sql(N_QUERIES, TOP_K))
def sim_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ANN (Ge et al. 2013, Optimized Product Quantization,
    parametric variant restricted to permutation rotations): learn a
    variance-balancing dimension permutation (integer-exact variance
    numerators n*Σq²−(Σq)², rank desc, round-robin allocation so each
    subspace gets one dim per variance tier), rotate the corpus with a
    pure codegen projection (no UDF, no shuffle), then the unchanged
    PQ train/encode/ADC pipeline in the rotated space. The permutation
    is the SQL-replayable member of OPQ's rotation family — a dense
    learned rotation needs SVD, which no oracle can replay.

    Measured (docs/opq_recall_r11.json, pinned in tests): on
    variance-skewed corpora — OPQ's actual premise — the permutation
    recovers PQ recall@10 from 0.05 to ~0.78 at IDENTICAL budget
    (16 bytes/vector, same K' scored); a dense Hadamard rotation
    manages only 0.15. On this repo's native isotropic testdata no
    rotation helps (exact PCA included: 0.320 vs identity 0.328), so
    this key's value vs sim_pq_adc_topk is parity there — the uplift
    claim lives where the premise holds, and the negative finding is
    pinned so it can't regress into folklore.

    At 100 TB: the rotation adds ONE partial-aggregable variance pass
    (driver sees one 129-long row) and a zero-cost projection; encode/
    scoring costs are unchanged from PQ."""
    t = load_tables(spark, sf_dir, "embeddings")
    return opq_adc_topk(t["embeddings"], k=TOP_K, n_queries=N_QUERIES)


from mercurygate_spark.operators.similarity import (  # noqa: E402
    duck_ivfpq_sql,
    ivfpq_adc_topk,
)


@query("sim_ivfpq_topk", oracle=duck_ivfpq_sql(N_QUERIES, TOP_K))
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ — the composed production 100 TB ANN shape (FAISS IVFADC,
    Jégou et al. 2011 §V): IVF partition-pruning (each query probes its
    {N_PROBE} nearest trained inverted lists) THEN PQ asymmetric-
    distance scoring of ONLY the probed lists' candidates. Composes the
    two oracle-green parents unchanged — sim_cosine_ivf's Lloyd-trained
    coarse quantizer and sim_pq_adc_topk's per-subspace codebooks
    (codes over raw vectors, FAISS by_residual=false) — so the oracle
    is the union of both parents' exact-replay CTE chains plus the
    probe-restricted ADC ranking. Engine plan: ONE Arrow pass builds
    the (id, list, 16 codes) index frame, a broadcast inner join on the
    list id prunes it to probed lists, and the scoring pass does PQ_M
    integer table lookups per candidate — float vectors are never read
    at query time. Recall-vs-candidates vs IVF/LSH at equal budgets:
    scripts/ann_recall.py → docs/SCALING.md."""
    t = load_tables(spark, sf_dir, "embeddings")
    return ivfpq_adc_topk(t["embeddings"], k=TOP_K, n_queries=N_QUERIES)


from mercurygate_spark.operators.similarity import (  # noqa: E402
    IVFPQ_RERANK_R,
    duck_ivfpq_rerank_sql,
    ivfpq_rerank_topk,
)


@query("sim_ivfpq_rerank", oracle=duck_ivfpq_rerank_sql(N_QUERIES, TOP_K))
def sim_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN serving stack (FAISS IVFADC +
    refinement): IVF prunes to each query's probed lists, 16-byte PQ
    codes rank those candidates, the top {IVFPQ_RERANK_R} per query
    are re-scored with EXACT cosine over the float vectors, and the
    final top-{TOP_K} comes from the exact scores — the standard fix
    for the measured PQ recall ceiling (docs/SCALING.md: quantization
    error, not candidate coverage, binds IVFPQ recall). Float-vector
    reads collapse to {IVFPQ_RERANK_R} point lookups per query,
    joined as a broadcast of the bounded winner frame — the corpus is
    scanned once, never shuffled. The oracle nests the complete IVFPQ
    exact replay and re-ranks in SQL."""
    t = load_tables(spark, sf_dir, "embeddings")
    return ivfpq_rerank_topk(t["embeddings"], k=TOP_K, n_queries=N_QUERIES)


@query("sim_ivfpq_persisted_probe", oracle=duck_ivfpq_sql(N_QUERIES, TOP_K))
def sim_ivfpq_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivfpq_topk with the (id, list, 16-codes) index PERSISTED as
    a catalog table bucketed by the list id — the exact frame an IVFPQ
    serving deployment stores and probes: ~24 B/vector at rest, built
    once at ingest, probed by every query batch with NO index-side
    Exchange (the bucket layout satisfies the join's distribution —
    plan-pinned in tests/test_plans.py, same contract as the dedup
    band index and the IVF float-list table). Probe I/O touches only
    the probed lists' buckets; the float vectors never leave parquet.
    Oracle: identical to sim_ivfpq_topk — persistence must be
    value-invisible."""
    import os as _os

    from mercurygate_spark.io.bucketing import write_bucketed
    from mercurygate_spark.io.tmp_tables import register_tmp_table
    from mercurygate_spark.operators.similarity import (
        ivfpq_encode,
        train_ivfpq_quantizers,
    )

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    cmat, cmats = train_ivfpq_quantizers(e)
    name = f"mg_ivfpq_index_{_os.getpid()}"
    write_bucketed(
        ivfpq_encode(e, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id",
    )
    register_tmp_table(spark, name)
    return ivfpq_adc_topk(
        e, k=TOP_K, n_queries=N_QUERIES, index=spark.table(name)
    )


from mercurygate_spark.operators.similarity import (  # noqa: E402
    INCR_ANN_MOD,
    duck_ivfpq_incr_sql,
    ivfpq_encode,
    pq_train_codebooks,
    train_ivf_centroids,
    train_ivfpq_quantizers,
)


@query(
    "sim_ivfpq_incremental_append",
    oracle=duck_ivfpq_incr_sql(N_QUERIES, TOP_K),
)
def sim_ivfpq_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index growth under FROZEN quantizers — the
    similarity twin of dedup_incremental_append, and what a production
    vector index actually does between retrains: the coarse centroids
    and PQ codebooks train ONCE on the original corpus
    (vec_id % {INCR_ANN_MOD} ≠ 0); the new batch (% {INCR_ANN_MOD} = 0)
    is encoded with those frozen quantizers and APPENDED to the
    persisted bucketed codes table under the same bucket spec (one
    batch-sized bucketed write — never a corpus re-encode, never a
    retrain); queries then rank the GROWN index, so results can hit
    appended vectors. The oracle trains on the corpus split only and
    encodes/assigns every vector under the frozen chains — append
    mechanics must be value-invisible. Plan contract (pinned): the
    grown table still reads bucketed, probed with zero index-side
    Exchange."""
    import os as _os

    from mercurygate_spark.io.bucketing import write_bucketed
    from mercurygate_spark.io.tmp_tables import register_tmp_table

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    corpus = e.where(F.col("vec_id") % INCR_ANN_MOD != 0)
    batch = e.where(F.col("vec_id") % INCR_ANN_MOD == 0)
    cmat, cmats = train_ivfpq_quantizers(corpus)
    name = f"mg_ivfpq_incr_{_os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(
        ivfpq_encode(corpus, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id",
    )
    register_tmp_table(spark, name)
    # nightly append: encode ONLY the batch under the frozen quantizers
    write_bucketed(
        ivfpq_encode(batch, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id", mode="append",
    )
    return ivfpq_adc_topk(
        e, k=TOP_K, n_queries=N_QUERIES,
        index=spark.table(name), train_on=corpus, query_source=e,
    )


_SQ8_ORACLE = f"""
    WITH stats AS (
      SELECT i, min(v) AS lo, max(v) AS hi FROM (
        SELECT i, embedding[i + 1]::DOUBLE AS v
        FROM embeddings, UNNEST(range(len(embedding))) AS r(i)
      ) GROUP BY i
    ), statarr AS (
      SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM stats
    ), dec AS (
      SELECT vec_id,
             list_transform(range(1, {EMBED_DIMS + 1}), j ->
               (CASE WHEN s.hi[j] = s.lo[j] THEN 0.0
                     ELSE floor((embedding[j]::DOUBLE - s.lo[j])
                                / (s.hi[j] - s.lo[j]) * 255 + 0.5) END)
               * (s.hi[j] - s.lo[j]) / 255 + s.lo[j]
             ) AS dv
      FROM embeddings, statarr s
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
             floor(
               list_dot_product(q.embedding::DOUBLE[], c.dv) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[],
                                      q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.dv, c.dv)))
               * 10000 + 0.5) / 10000 AS cos
      FROM embeddings q JOIN dec c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """


@query("sim_sq8_topk", oracle=_SQ8_ORACLE)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN — the quantization family's fourth
    member next to LSH / IVF / PQ, and the production alternative when
    PQ's recall ceiling is unacceptable: each dimension is quantized
    independently to an 8-bit code on the corpus's per-dimension
    [min, max] grid (64 floats / 256 B → 64 B, 4× compression vs PQ's
    16× — the recall/compression midpoint, FAISS SQ8), queries score
    asymmetrically (exact query vector against the DECODED candidate).
    Unlike PQ, the grid is pure deterministic IEEE arithmetic — no
    training loop — so rebuilds are trivial and drift only moves the
    per-dim min/max (64 numbers, recomputed in one agg).

    Engine shape for 100 TB: the per-dim stats are ONE posexplode agg
    collapsing to 64 (lo, hi) rows (driver-bounded — the IVF-seed
    collect doctrine); encode/decode/cosine are pure codegen
    zip_with/aggregate expressions — NO UDF, no Python in the scoring
    path, and the stored index would be the 64 B code rows scanned in
    a quarter the I/O of the float column. Exactness: subtract /
    divide / multiply are correctly-rounded IEEE ops computed in the
    same order by both engines, so codes, decoded values, and cosines
    replay bit-for-bit — only the final 4-dp ranking round is ever
    applied."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    stats = (
        e.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()  # bounded by construction: EMBED_DIMS rows
    )
    lo = {r["pos"]: r["lo"] for r in stats}
    hi = {r["pos"]: r["hi"] for r in stats}
    lo_arr = F.array(*[F.lit(lo[j]) for j in range(EMBED_DIMS)])
    hi_arr = F.array(*[F.lit(hi[j]) for j in range(EMBED_DIMS)])

    def decoded(col):
        ev = col.cast("array<double>")
        code = F.zip_with(
            F.zip_with(ev, lo_arr, lambda x, l: x - l),
            F.zip_with(hi_arr, lo_arr, lambda h, l: h - l),
            lambda d, r: F.when(r == 0, F.lit(0.0)).otherwise(
                F.floor(d / r * 255 + F.lit(0.5))
            ),
        )
        return F.zip_with(
            F.zip_with(code, F.zip_with(hi_arr, lo_arr, lambda h, l: h - l),
                       lambda c, r: c * r / 255),
            lo_arr,
            lambda t_, l: t_ + l,
        )

    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("candidate_id"), decoded(F.col("embedding")).alias("cv")
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    # norms once per vector, not per pair: the cross join has fanout
    # |queries| per candidate (cosine_pre; bit-identical)
    scored = (
        F.broadcast(q.withColumn("qn", norm(_as_double(F.col("qv")))))
        .crossJoin(c)
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**4 + F.lit(0.5)
            ) / 10**4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "candidate_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= TOP_K)


_IVFSQ_ORACLE = f"""
    WITH {duck_ivf_kmeans_sql()},
    assign_final AS (
      SELECT e.vec_id, e.embedding, c.cidx,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_sum(list_transform(range(1, {EMBED_DIMS + 1}),
                          j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j]))),
                        c.cidx
             ) AS probe_rank
      FROM qemb e CROSS JOIN cent{KMEANS_ITERS} c
    ),
    stats AS (
      SELECT i, min(v) AS lo, max(v) AS hi FROM (
        SELECT i, embedding[i + 1]::DOUBLE AS v
        FROM embeddings, UNNEST(range(len(embedding))) AS r(i)
      ) GROUP BY i
    ), statarr AS (
      SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM stats
    ),
    corpus_lists AS (
      SELECT a.vec_id AS candidate_id, a.cidx,
             list_transform(range(1, {EMBED_DIMS + 1}), j ->
               (CASE WHEN s.hi[j] = s.lo[j] THEN 0.0
                     ELSE floor((a.embedding[j]::DOUBLE - s.lo[j])
                                / (s.hi[j] - s.lo[j]) * 255 + 0.5) END)
               * (s.hi[j] - s.lo[j]) / 255 + s.lo[j]
             ) AS dv
      FROM assign_final a, statarr s WHERE a.probe_rank = 1
    ),
    query_probes AS (
      SELECT vec_id AS query_id, embedding AS qv, cidx
      FROM assign_final WHERE vec_id < {N_QUERIES} AND probe_rank <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, c.candidate_id,
             floor(
               list_dot_product(p.qv::DOUBLE[], c.dv) /
               (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])) *
                sqrt(list_dot_product(c.dv, c.dv)))
               * 10000 + 0.5) / 10000 AS cos
      FROM query_probes p JOIN corpus_lists c
        ON p.cidx = c.cidx AND p.query_id <> c.candidate_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, candidate_id
             ) AS rk
      FROM scored
    )
    SELECT query_id, candidate_id, cos, rk FROM ranked WHERE rk <= {TOP_K}
    """


@query("sim_ivfsq_topk", oracle=_IVFSQ_ORACLE)
def sim_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + SQ8 — the FAISS "IVF,SQ8" composition, SQ8's SCALE path
    (sim_sq8_topk is the full-scan form): IVF partition-pruning
    restricts each query to its {N_PROBE} nearest trained lists, then
    the asymmetric SQ8 cosine (exact query vs per-dimension-decoded
    candidate) ranks only the probed lists' candidates. The
    production trade vs IVFPQ at the SAME candidate budget: 4× codes
    instead of 16× but nearly exact scoring (SQ8 recall 0.98 vs
    PQ16's 0.42 full-scan) — at 100 TB the probe reads 64 B/candidate
    from only nprobe/N_CENTROIDS of the index, and the decode+cosine
    stays pure codegen (zip_with/aggregate — no Python in the scoring
    path; the coarse assignment is the one Arrow pass). Oracle: the
    IVF training-replay chain joined with the SQ8 grid decode, ranked
    within probed lists."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    from mercurygate_spark.operators.similarity import ivf_assign

    cmat = train_ivf_centroids(e)
    stats = (
        e.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()  # bounded by construction: EMBED_DIMS rows
    )
    lo = {r["pos"]: r["lo"] for r in stats}
    hi = {r["pos"]: r["hi"] for r in stats}
    lo_arr = F.array(*[F.lit(lo[j]) for j in range(EMBED_DIMS)])
    rng_arr = F.array(*[F.lit(hi[j] - lo[j]) for j in range(EMBED_DIMS)])

    def decoded(col):
        ev = col.cast("array<double>")
        code = F.zip_with(
            F.zip_with(ev, lo_arr, lambda x, l: x - l),
            rng_arr,
            lambda d, r: F.when(r == 0, F.lit(0.0)).otherwise(
                F.floor(d / r * 255 + F.lit(0.5))
            ),
        )
        return F.zip_with(
            F.zip_with(code, rng_arr, lambda c, r: c * r / 255),
            lo_arr,
            lambda t_, l: t_ + l,
        )

    lists = ivf_assign(e, cmat, "vec_id", "embedding", n_probe=1).select(
        F.col("vec_id").alias("candidate_id"),
        decoded(F.col("embedding")).alias("cv"),
        "centroid_id",
    )
    q = e.where(F.col("vec_id") < N_QUERIES)
    probes = ivf_assign(q, cmat, "vec_id", "embedding", n_probe=N_PROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        "centroid_id",
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    # norms once per vector, not per pair (cosine_pre; bit-identical)
    scored = (
        probes.join(lists.withColumn("cn", norm(_as_double(F.col("cv")))), "centroid_id")
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            (F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**4 + F.lit(0.5)
            ) / 10**4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "candidate_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= TOP_K)


def _drift_stats_oracle() -> str:
    """Oracle for sim_index_drift_stats: the frozen-chain prefix
    (duck_frozen_chains_sql — trainset = base corpus, fullset =
    everything), then per-subspace MIN code distance (the chosen
    code's reconstruction error — min over the codebook, tie-break
    irrelevant since ties have equal distance), coarse assignment, and
    the per-list integer aggregation."""
    from mercurygate_spark.operators.similarity import (
        EMBED_DIMS,
        INCR_ANN_MOD as MOD,
        KMEANS_ITERS,
        PQ_M,
        PQ_SUBDIM,
        duck_frozen_chains_sql,
    )

    prefix = duck_frozen_chains_sql(
        corpus_select=(
            f"SELECT vec_id, embedding FROM embeddings WHERE vec_id % {MOD} <> 0"
        ),
        full_select="SELECT vec_id, embedding FROM embeddings",
    )
    dist = (
        f"list_sum(list_transform(range(1, {EMBED_DIMS + 1}), "
        "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
    )
    sdist = (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), "
        "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
    )
    rec_ctes = ",\n    ".join(
        f"rec{m} AS (SELECT e.vec_id, min({sdist}) AS d "
        f"FROM fs{m} e CROSS JOIN s{m}_cent{KMEANS_ITERS} c GROUP BY e.vec_id)"
        for m in range(PQ_M)
    )
    code_ctes = ",\n    ".join(
        f"""code{m} AS (
      SELECT vec_id, cidx AS code FROM (
        SELECT e.vec_id, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {sdist}, c.cidx) AS rn
        FROM fs{m} e CROSS JOIN s{m}_cent{KMEANS_ITERS} c
      ) WHERE rn = 1
    )"""
        for m in range(PQ_M)
    )
    rec_joins = " ".join(f"JOIN rec{m} r{m} USING (vec_id)" for m in range(1, PQ_M))
    rec_sum = " + ".join(f"r{m}.d" for m in range(PQ_M))
    cw_joins = " ".join(f"JOIN code{m} c{m} USING (vec_id)" for m in range(1, PQ_M))
    cw_concat = " || ',' || ".join(
        f"CAST(c{m}.code AS VARCHAR)" for m in range(PQ_M)
    )
    return f"""
    WITH {prefix},
    {rec_ctes},
    {code_ctes},
    rec AS (
      SELECT r0.vec_id, CAST({rec_sum} AS BIGINT) AS rec_err
      FROM rec0 r0 {rec_joins}
    ),
    cw AS (
      SELECT vec_id, {cw_concat} AS code_word
      FROM code0 c0 {cw_joins}
    ),
    assign AS (
      SELECT vec_id, cidx AS centroid_id, coarse_err FROM (
        SELECT e.vec_id, c.cidx, CAST({dist} AS BIGINT) AS coarse_err,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.cidx) AS rn
        FROM fq e CROSS JOIN cent{KMEANS_ITERS} c
      ) WHERE rn = 1
    )
    SELECT a.centroid_id,
           CAST(sum(CASE WHEN a.vec_id % {MOD} <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corpus,
           CAST(sum(CASE WHEN a.vec_id % {MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_batch,
           CAST(count(DISTINCT CASE WHEN a.vec_id % {MOD} <> 0 THEN code_word END)
                AS BIGINT) AS n_codes_corpus,
           CAST(count(DISTINCT CASE WHEN a.vec_id % {MOD} = 0 THEN code_word END)
                AS BIGINT) AS n_codes_batch,
           CAST(sum(CASE WHEN a.vec_id % {MOD} <> 0 THEN coarse_err ELSE 0 END)
                AS BIGINT) AS coarse_err_corpus,
           CAST(sum(CASE WHEN a.vec_id % {MOD} = 0 THEN coarse_err ELSE 0 END)
                AS BIGINT) AS coarse_err_batch,
           CAST(sum(CASE WHEN a.vec_id % {MOD} <> 0 THEN rec_err ELSE 0 END) AS BIGINT)
             AS rec_err_corpus,
           CAST(sum(CASE WHEN a.vec_id % {MOD} = 0 THEN rec_err ELSE 0 END) AS BIGINT)
             AS rec_err_batch
    FROM assign a JOIN rec USING (vec_id) JOIN cw USING (vec_id)
    GROUP BY a.centroid_id
    """


@query("sim_index_drift_stats", oracle=_drift_stats_oracle())
def sim_index_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index drift MONITOR — the decision input between the cheap
    append (sim_ivfpq_incremental_append) and the scheduled repair
    (sim_ivfpq_reindex_swap), closing the maintenance loop: under the
    FROZEN serving quantizers (trained on the vec_id % {INCR_ANN_MOD}
    ≠ 0 corpus), every vector of the grown set gets its coarse list
    assignment and its PQ reconstruction error (Σ over subspaces of
    the chosen code's integer squared distance — the quantity whose
    growth on new data IS codebook drift; docs/reindex_recall_r10.json
    shows exactly this collapsing recall 0.288→0.026). Emitted per
    inverted list: corpus/batch occupancy counts and exact integer
    error sums. The two production alarms read straight off it:
    batch occupancy piling into few lists (coarse-quantizer drift →
    probe-cost blowup) and batch error sums far above corpus error at
    comparable counts (codebook drift → ADC precision collapse).
    One Arrow pass + one 16-row groupBy — monitoring costs one corpus
    scan, no index rebuild. All-integer output, bit-exact in both
    engines."""
    from mercurygate_spark.operators.similarity import ivfpq_drift_stats

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    corpus = e.where(F.col("vec_id") % INCR_ANN_MOD != 0)
    cmat, cmats = train_ivfpq_quantizers(corpus)
    return ivfpq_drift_stats(
        e, cmat, cmats, batch_flag=(F.col("vec_id") % INCR_ANN_MOD == 0)
    )


def _stream_drift_oracle() -> str:
    """The batch drift oracle minus the code-word columns — exactly
    the columns the streamed monitor can maintain with bounded state."""
    return f"""
    SELECT centroid_id, n_corpus, n_batch,
           coarse_err_corpus, coarse_err_batch,
           rec_err_corpus, rec_err_batch
    FROM ({_drift_stats_oracle()})
    """


@query("stream_index_drift_stats", oracle=_stream_drift_oracle())
def stream_index_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor RUNNING CONTINUOUSLY — sim_index_drift_stats'
    production deployment shape: the appended batch arrives as a
    STREAM (same availableNow parquet source as stream_ivfpq_probe),
    each micro-batch goes through the STATELESS Arrow stats pass
    (operators.similarity.ivfpq_vector_stats — frozen coarse
    assignment + its distance + PQ reconstruction error), and a
    streaming complete-mode groupBy keeps the per-list running
    occupancy and error sums: the pager signal is live after every
    micro-batch, and the aggregation state is EXACTLY N_CENTROIDS
    rows regardless of stream length — the smallest stateful
    streaming operator in the repo. The distinct-code-word diagnostic
    is deliberately NOT streamed: count(DISTINCT) is unsupported in
    streaming aggregations and a collect_set would grow state with
    the code vocabulary — at 100 TB the words diagnostic stays a
    batch job (sim_index_drift_stats); the 16-row alarm streams.
    Corpus-side columns are computed once statically and
    full-outer-joined after the sink (a list can hold only corpus or
    only batch vectors — coalesce(0) both sides). Oracle: the batch
    drift oracle minus the code-word columns — streaming must be
    value-invisible."""
    import os as _os
    import tempfile as _tf

    from mercurygate_spark.io.tmp_tables import register_tmp_dir
    from mercurygate_spark.operators.similarity import (
        ivfpq_drift_stats,
        ivfpq_vector_stats,
    )
    from mercurygate_spark.streaming.windows import run_to_memory

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    corpus = e.where(F.col("vec_id") % INCR_ANN_MOD != 0)
    cmat, cmats = train_ivfpq_quantizers(corpus)

    corpus_stats = ivfpq_drift_stats(
        corpus, cmat, cmats, batch_flag=F.lit(False)
    ).select("centroid_id", "n_corpus", "coarse_err_corpus", "rec_err_corpus")

    d = _os.path.join(
        _tf.gettempdir(),
        f"mercurygate_stream_drift_{_os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    _os.makedirs(d, exist_ok=True)
    register_tmp_dir(_os.path.dirname(d))
    from mercurygate_spark.streaming.windows import link_parquet_into_dir

    link_parquet_into_dir(d, f"{sf_dir}/embeddings.parquet", "embeddings.parquet")
    stream_batch = (
        spark.readStream.schema(e.schema)
        .parquet(d)
        .where(F.col("vec_id") % INCR_ANN_MOD == 0)
    )
    batch_agg = (
        ivfpq_vector_stats(stream_batch, cmat, cmats, batch_flag=F.lit(True))
        .groupBy("centroid_id")
        .agg(
            F.count("*").cast("long").alias("n_batch"),
            F.sum("coarse_err").cast("long").alias("coarse_err_batch"),
            F.sum("rec_err").cast("long").alias("rec_err_batch"),
        )
    )
    sunk = run_to_memory(batch_agg, output_mode="complete")
    joined = corpus_stats.join(sunk, "centroid_id", "full_outer")
    fill = {
        "n_corpus": 0, "n_batch": 0,
        "coarse_err_corpus": 0, "coarse_err_batch": 0,
        "rec_err_corpus": 0, "rec_err_batch": 0,
    }
    out = joined
    for c, v in fill.items():
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(v)).cast("long"))
    return out.select(
        "centroid_id", "n_corpus", "n_batch",
        "coarse_err_corpus", "coarse_err_batch",
        "rec_err_corpus", "rec_err_batch",
    )


def _vector_ingest_oracle() -> str:
    """Oracle for pipeline_vector_ingest: the frozen-quantizer IVFPQ
    replay (duck_ivfpq_frozen_sql) whose FULL corpus is the composed
    ingest result — base corpus ∪ (CDC log reduced to latest-per-key,
    deletes dropped, then content-key anti-joined against the base) —
    so the CDC apply, the dedup gate, and the ANN serving all sit
    under ONE value-hash gate."""
    from mercurygate_spark.operators.similarity import (
        INCR_ANN_MOD as MOD,
    )
    from mercurygate_spark.operators.similarity import (
        QUANT,
        duck_ivfpq_frozen_sql,
    )

    ckey = (
        "md5(list_aggregate(list_transform({v}::DOUBLE[], "
        f"x -> CAST(CAST(floor(x * {QUANT} + 0.5) AS BIGINT) AS VARCHAR)), "
        "'string_agg', ','))"
    )
    corpus_select = (
        f"SELECT vec_id, embedding FROM embeddings WHERE vec_id % {MOD} <> 0"
    )
    full_select = f"""
      {corpus_select}
      UNION ALL
      SELECT k AS vec_id, embedding FROM (
        SELECT k, embedding, op,
               row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM (
          SELECT vec_id AS k, embedding, 0 AS seq, 'I' AS op
          FROM embeddings WHERE vec_id % {MOD} = 0
          UNION ALL
          SELECT vec_id, list_reverse(embedding), 1, 'U'
          FROM embeddings WHERE vec_id % {2 * MOD} = 0
          UNION ALL
          SELECT b.vec_id, s.embedding, 1, 'U'
          FROM embeddings b JOIN embeddings s ON s.vec_id = b.vec_id - 4
          WHERE b.vec_id % {4 * MOD} = {3 * MOD}
          UNION ALL
          SELECT vec_id, embedding, 2, 'D'
          FROM embeddings WHERE vec_id % {4 * MOD} = {MOD}
        )
      ) f
      WHERE rn = 1 AND op <> 'D'
        AND {ckey.format(v='embedding')} NOT IN (
          SELECT {ckey.format(v='embedding')}
          FROM embeddings WHERE vec_id % {MOD} <> 0
        )
    """
    return duck_ivfpq_frozen_sql(
        N_QUERIES, TOP_K, corpus_select=corpus_select, full_select=full_select
    )


@query("pipeline_vector_ingest", oracle=_vector_ingest_oracle())
def pipeline_vector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-embedding ingest cycle under ONE hash gate — the
    medallion_e2e doctrine applied to vectors (round-9 verdict item 7):
    a CDC change batch is applied, gated against the existing index for
    content duplicates, encoded under the FROZEN serving quantizers,
    appended to the persisted bucketed index, and probed — composing
    pipeline_cdc_apply's log reduction, dedup_exact's content gate, and
    sim_ivfpq_incremental_append's frozen-append serving path, each
    already oracle-green alone, into the pipeline a production vector
    store actually runs between retrains (sim_ivfpq_reindex_swap being
    the scheduled repair).

    The batch is a Debezium-shaped log over the vec_id % {INCR_ANN_MOD}
    = 0 keys: every key INSERTs at seq 0; keys % {2 * INCR_ANN_MOD} = 0
    are re-embedded at seq 1 (component-reversed vector — an UPDATE);
    keys % {4 * INCR_ANN_MOD} = {3 * INCR_ANN_MOD} are updated at seq 1
    to a vector whose content DUPLICATES an existing corpus vector
    (vec_id − 4 — the re-crawled-document case the dedup gate exists
    for); keys % {4 * INCR_ANN_MOD} = {INCR_ANN_MOD} are tombstoned at
    seq 2. Reduction is one latest-per-key window (the
    window_dedupe_latest shape — ONE shuffle keyed on the business
    key); the dedup gate is a LEFT ANTI join on the md5 of the
    quantized-component string (shuffles carry 32-byte keys, never
    vectors — the dedup-family contract); the append is one
    batch-sized bucketed write under frozen quantizers; the probe
    reads the grown index bucketed with no index-side Exchange.

    Oracle: duck_ivfpq_frozen_sql whose fullset IS the composed ingest
    result, so a wrong CDC reduction, a leaky dedup gate, or an append
    that missed rows all break the final ADC hash."""
    import os as _os

    from mercurygate_spark.io.bucketing import write_bucketed
    from mercurygate_spark.io.tmp_tables import register_tmp_table

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    mod = INCR_ANN_MOD
    corpus = e.where(F.col("vec_id") % mod != 0)

    def log_frame(df, key_col, emb, seq, op):
        return df.select(
            F.col(key_col).alias("k"),
            emb.alias("embedding"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    b = e.where(F.col("vec_id") % mod == 0)
    dup_src = (
        e.where(F.col("vec_id") % (4 * mod) == 3 * mod)
        .alias("b")
        .join(e.alias("s"), F.col("s.vec_id") == F.col("b.vec_id") - 4)
    )
    log = (
        log_frame(b, "vec_id", F.col("embedding"), 0, "I")
        .unionByName(
            log_frame(
                e.where(F.col("vec_id") % (2 * mod) == 0),
                "vec_id", F.reverse(F.col("embedding")), 1, "U",
            )
        )
        .unionByName(
            dup_src.select(
                F.col("b.vec_id").alias("k"),
                F.col("s.embedding").alias("embedding"),
                F.lit(1).alias("seq"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            log_frame(
                e.where(F.col("vec_id") % (4 * mod) == mod),
                "vec_id", F.col("embedding"), 2, "D",
            )
        )
    )
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    batch_final = (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(F.col("k").alias("vec_id"), "embedding")
    )

    def content_key(col):
        return F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    col.cast("array<double>"),
                    lambda x: F.floor(x * QUANT + F.lit(0.5)).cast("long").cast("string"),
                ),
            )
        )

    gated = (
        batch_final.withColumn("ck", content_key(F.col("embedding")))
        .join(
            corpus.select(content_key(F.col("embedding")).alias("ck")),
            "ck",
            "left_anti",
        )
        .drop("ck")
    )

    cmat, cmats = train_ivfpq_quantizers(corpus)
    name = f"mg_vector_ingest_{_os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(
        ivfpq_encode(corpus, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id",
    )
    register_tmp_table(spark, name)
    write_bucketed(
        ivfpq_encode(gated, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id", mode="append",
    )
    grown = corpus.select("vec_id", "embedding").unionByName(gated)
    return ivfpq_adc_topk(
        grown, k=TOP_K, n_queries=N_QUERIES,
        index=spark.table(name), quantizers=(cmat, cmats),
        query_source=grown,
    )


@query("sim_ivfpq_reindex_swap", oracle=duck_ivfpq_sql(N_QUERIES, TOP_K))
def sim_ivfpq_reindex_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRAIN + atomic reindex swap — the third index-maintenance
    operation, closing the lifecycle after append
    (sim_ivfpq_incremental_append) and compaction (dedup_index_compact),
    and the production answer to frozen-quantizer drift: the key first
    reproduces the append key's drifted state (quantizers trained on
    the vec_id % {INCR_ANN_MOD} ≠ 0 corpus, the % {INCR_ANN_MOD} = 0
    batch appended under them FROZEN), then runs the retrain cycle
    (operators.similarity.ivfpq_retrain_swap): retrain both quantizers
    on the GROWN corpus, re-encode everything into a NEW bucketed
    table built off the serving path, and swap it into the live name
    with two catalog renames + a drop (io.bucketing.swap_bucketed —
    the reference's snapshot-replace doctrine, mm_bronze_silver.py:230).
    Queries then probe the live name with the retrained quantizers.

    Oracle: duck_ivfpq_sql over the full corpus — i.e. the RETRAINED
    chains replayed end-to-end. The gate is sensitive to the swap
    actually landing: if the live name still held the frozen-encoded
    index, its codes would be looked up in the retrained distance
    tables and every ADC integer would disagree with the oracle.
    Measured payoff (frozen vs retrained recall on a drifted grown
    corpus): scripts/reindex_recall.py → docs/SCALING.md. Plan
    contract (pinned): the post-swap probe still reads the index
    bucketed with ZERO index-side Exchange."""
    import os as _os

    from mercurygate_spark.io.bucketing import write_bucketed
    from mercurygate_spark.io.tmp_tables import register_tmp_table
    from mercurygate_spark.operators.similarity import ivfpq_retrain_swap

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    corpus = e.where(F.col("vec_id") % INCR_ANN_MOD != 0)
    batch = e.where(F.col("vec_id") % INCR_ANN_MOD == 0)
    name = f"mg_ivfpq_swap_{_os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # The gen-1 RETRAIN (deterministic Lloyd's on the grown corpus)
    # depends only on `e`, never on the live table — run it in an
    # InheritableThread so its training scans overlap the gen-0
    # build/append below (guide §2.6). The encode+swap still waits for
    # the live name. Identical quantizers either way.
    from mercurygate_spark.concurrency import run_in_background

    _rt_job = run_in_background(lambda: train_ivfpq_quantizers(e), "ivfpq-retrain")
    try:
        # the drifted "before" state: frozen quantizers + appended batch
        cmat0, cmats0 = train_ivfpq_quantizers(corpus)
        write_bucketed(
            ivfpq_encode(corpus, cmat0, cmats0), name, "centroid_id", 8,
            sort_by="centroid_id",
        )
        register_tmp_table(spark, name)
        write_bucketed(
            ivfpq_encode(batch, cmat0, cmats0), name, "centroid_id", 8,
            sort_by="centroid_id", mode="append",
        )
    except BaseException:
        _rt_job.wait_quietly()  # don't leave orphaned training jobs
        raise
    # the retrain cycle: new quantizers on the grown corpus, re-encode,
    # atomic swap into the live name
    cmat, cmats = ivfpq_retrain_swap(e, name, quantizers=_rt_job.result())
    return ivfpq_adc_topk(
        e, k=TOP_K, n_queries=N_QUERIES,
        index=spark.table(name), quantizers=(cmat, cmats),
    )


from mercurygate_spark.operators.similarity import (  # noqa: E402
    ivfpq_score_distributed,
)


@query("stream_ivfpq_probe", oracle=duck_ivfpq_sql(N_QUERIES, TOP_K))
def stream_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING as a stream — the online half of the IVFPQ stack:
    queries arrive as a parquet-source STREAM (availableNow), each
    micro-batch is probe-assigned in an Arrow pass, stream-static-
    joined against the PERSISTED bucketed codes index (the static side
    is re-planned per micro-batch, so a nightly index append/compact
    is picked up at the next batch with no restart — MEASURED, not
    asserted: tests/test_streaming_semantics.py::
    test_stream_static_ivfpq_index_append_visible_next_microbatch
    appends mid-run inside foreachBatch and proves batch N sees it
    while batch N-1 didn't), and scored by
    the fully distributed ADC pass (ivfpq_score_distributed — zero
    driver-side query state, so query volume is unbounded). The final
    per-query top-k ranks batch-side on the bounded memory sink
    (candidates ≤ queries × probed-list sizes — the
    stream_incremental_dedup doctrine; Spark's one-aggregation-per-
    stream limit never binds because scoring is map-only). Oracle:
    identical to sim_ivfpq_topk — streaming AND persistence must be
    value-invisible, which holds because the distributed ADC computes
    the same integers the distance-table path looks up."""
    import os as _os
    import tempfile as _tf

    from mercurygate_spark.io.bucketing import write_bucketed
    from mercurygate_spark.io.tmp_tables import register_tmp_dir, register_tmp_table
    from mercurygate_spark.streaming.windows import run_to_memory

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    cmat, cmats = train_ivfpq_quantizers(e)
    name = f"mg_ivfpq_stream_{_os.getpid()}"
    write_bucketed(
        ivfpq_encode(e, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id",
    )
    register_tmp_table(spark, name)

    d = _os.path.join(
        _tf.gettempdir(),
        f"mercurygate_stream_vecs_{_os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    _os.makedirs(d, exist_ok=True)
    register_tmp_dir(_os.path.dirname(d))
    from mercurygate_spark.streaming.windows import link_parquet_into_dir

    link_parquet_into_dir(d, f"{sf_dir}/embeddings.parquet", "embeddings.parquet")
    stream_q = (
        spark.readStream.schema(e.schema)
        .parquet(d)
        .where(F.col("vec_id") < N_QUERIES)
    )
    scored = ivfpq_score_distributed(stream_q, spark.table(name), cmat, cmats)
    sunk = run_to_memory(scored, output_mode="append")
    w = Window.partitionBy("query_id").orderBy("adc", "candidate_id")
    return sunk.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= TOP_K)


@query("stream_vector_ingest", oracle=_vector_ingest_oracle())
def stream_vector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_vector_ingest with the CDC log arriving as a STREAM —
    the medallion streaming-silver doctrine applied to vectors: the
    three CDC waves (seq-0 inserts, seq-1 updates, seq-2 tombstones)
    land as separate files, a maxFilesPerTrigger=1 availableNow query
    delivers them as separate micro-batches, and a foreachBatch
    handler merges each into the persisted latest-per-key vector
    source (read → union → latest-wins window on (k, seq) →
    io.writers.publish — the Delta-free MERGE fallback; publish keeps
    either the old or the new state recoverable at every step and
    ``published`` restores a stranded one on entry, which is what
    makes checkpoint REPLAY safe — without it a replayed batch would
    see no prior state and silently become the whole 'latest' (ADVICE
    r10); latest-wins by seq makes the result independent of how the
    log is micro-batched, the same idempotency argument as the silver
    merge).
    After the stream drains, the rest of the cycle is the batch key
    unchanged: tombstone filter → content-key dedup gate → frozen
    encode → bucketed append → probe. Oracle: IDENTICAL to
    pipeline_vector_ingest — streaming the log must be
    value-invisible."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf
    import time as _time

    from mercurygate_spark.io.bucketing import write_bucketed
    from mercurygate_spark.io.tmp_tables import register_tmp_dir, register_tmp_table
    from mercurygate_spark.io.writers import publish, published, read_delta_or_parquet

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    mod = INCR_ANN_MOD
    corpus = e.where(F.col("vec_id") % mod != 0)

    root = _os.path.join(
        _tf.gettempdir(),
        f"mercurygate_stream_vi_{_os.getpid()}",
        sf_dir.strip("/").replace("/", "_"),
    )
    register_tmp_dir(_os.path.dirname(root))
    logdir = _os.path.join(root, "log")
    latest_path = _os.path.join(root, "latest")
    ckpt = _os.path.join(root, "ckpt")
    # clears the previous run's state wholesale, including publish's
    # latest__staging / latest__old siblings: a stale __old left by a
    # crashed run would otherwise be restored into this one
    _shutil.rmtree(root, ignore_errors=True)
    _os.makedirs(logdir)

    def log_frame(df, key_col, emb, seq, op):
        return df.select(
            F.col(key_col).alias("k"),
            emb.alias("embedding"),
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
        )

    dup_src = (
        e.where(F.col("vec_id") % (4 * mod) == 3 * mod)
        .alias("b")
        .join(e.alias("s"), F.col("s.vec_id") == F.col("b.vec_id") - 4)
    )
    waves = [
        log_frame(e.where(F.col("vec_id") % mod == 0), "vec_id",
                  F.col("embedding"), 0, "I"),
        log_frame(e.where(F.col("vec_id") % (2 * mod) == 0), "vec_id",
                  F.reverse(F.col("embedding")), 1, "U").unionByName(
            dup_src.select(
                F.col("b.vec_id").alias("k"),
                F.col("s.embedding").alias("embedding"),
                F.lit(1).alias("seq"),
                F.lit("U").alias("op"),
            )
        ),
        log_frame(e.where(F.col("vec_id") % (4 * mod) == mod), "vec_id",
                  F.col("embedding"), 2, "D"),
    ]
    now = _time.time()
    for i, wave in enumerate(waves):
        staging = _os.path.join(root, f"wave_stage_{i}")
        wave.coalesce(1).write.mode("overwrite").parquet(staging)
        part = _glob.glob(_os.path.join(staging, "part-*.parquet"))[0]
        dest = _os.path.join(logdir, f"wave_{i}.parquet")
        _shutil.move(part, dest)
        _os.utime(dest, (now - 60 * (3 - i), now - 60 * (3 - i)))
        _shutil.rmtree(staging, ignore_errors=True)

    log_schema = "k long, embedding array<double>, seq int, op string"
    stream = (
        spark.readStream.schema(log_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(logdir)
    )

    def merge_batch(bdf, batch_id):
        allr = bdf
        if published(bdf.sparkSession, latest_path):
            allr = read_delta_or_parquet(bdf.sparkSession, latest_path).unionByName(bdf)
        w = Window.partitionBy("k").orderBy(F.col("seq").desc())
        latest = (
            allr.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        publish(latest, latest_path)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_final = (
        read_delta_or_parquet(spark, latest_path)
        .where(F.col("op") != "D")
        .select(F.col("k").alias("vec_id"), "embedding")
    )

    def content_key(col):
        return F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    col.cast("array<double>"),
                    lambda x: F.floor(x * QUANT + F.lit(0.5)).cast("long").cast("string"),
                ),
            )
        )

    gated = (
        batch_final.withColumn("ck", content_key(F.col("embedding")))
        .join(
            corpus.select(content_key(F.col("embedding")).alias("ck")),
            "ck",
            "left_anti",
        )
        .drop("ck")
    )
    cmat, cmats = train_ivfpq_quantizers(corpus)
    name = f"mg_stream_vi_{_os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(
        ivfpq_encode(corpus, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id",
    )
    register_tmp_table(spark, name)
    write_bucketed(
        ivfpq_encode(gated, cmat, cmats), name, "centroid_id", 8,
        sort_by="centroid_id", mode="append",
    )
    grown = corpus.unionByName(gated)
    return ivfpq_adc_topk(
        grown, k=TOP_K, n_queries=N_QUERIES,
        index=spark.table(name), quantizers=(cmat, cmats),
        query_source=grown,
    )


# ---------------------------------------------------------------------------
# Range search (radius query) — the other production vector-DB query
# shape next to top-k: ALL pairs within a similarity radius, the
# building block for ε-neighbor graphs and radius-based dedup
# (FAISS range_search). Candidates come from the same deterministic
# hyperplane-LSH buckets as sim_cosine_ann_lsh; the radius test runs on
# the r4-ROUNDED cosine so the threshold cut is bit-identical across
# engines (the PMI ranking doctrine applied to a filter).
# ---------------------------------------------------------------------------

RANGE_TAU = 0.3  # cosine radius; ~4% of within-bucket candidate pairs at sf0.01


@query(
    "sim_range_search",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {duck_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS vec_id_a, c.vec_id AS vec_id_b,
             {_DUCK_COS} AS cos
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
    )
    SELECT vec_id_a, vec_id_b, cos
    FROM scored WHERE cos >= {RANGE_TAU}
    ORDER BY vec_id_a, vec_id_b
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-radius similarity search: every vector pair with cosine >=
    {RANGE_TAU}, candidates generated by the deterministic
    hyperplane-LSH bucket equi-join (never an all-pairs cross). Unlike
    the top-k family there is no per-query ranking window — the radius
    IS the result bound, which is exactly the ε-neighbor-graph /
    radius-dedup contract.

    Scale shape: one Arrow-batched bucket pass over the corpus, a
    bucket-equi self-join (pairwise work bounded by bucket occupancy,
    not corpus²), a codegen dot product per candidate, and a pushed
    filter on the rounded cosine. No window, no global sort at all —
    the ORDER BY lives only in the oracle SQL (the compare harness
    sort-normalizes both sides, so the Spark plan stays sort-free)."""
    from mercurygate_spark.operators.similarity import lsh_bucket

    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    b = lsh_bucket(e, "vec_id", "embedding")
    # norms once per vector, not per bucket pair (cosine_pre;
    # bit-identical)
    q = b.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("qv"), "bucket"
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    c = b.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("cv"), "bucket"
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    scored = (
        q.join(c, "bucket")
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            (
                F.floor(
                    cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                    * 10**4 + F.lit(0.5)
                )
                / 10**4
            ).alias("cos"),
        )
    )
    return scored.where(F.col("cos") >= RANGE_TAU)


KNN_GRAPH_K = 5  # neighbors per node in the corpus kNN graph


@query(
    "sim_knn_graph",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {duck_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS node_id, c.vec_id AS neighbor_id,
             {_DUCK_COS} AS cos
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY node_id ORDER BY cos DESC, neighbor_id
             ) AS rk
      FROM scored
    )
    SELECT node_id, neighbor_id, cos, rk FROM ranked WHERE rk <= {KNN_GRAPH_K}
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus k-NN graph construction: EVERY vector's top-{KNN_GRAPH_K}
    neighbors among its LSH bucket-mates — the all-nodes generalization
    of sim_cosine_ann_lsh (whose query set is 5 designated vectors) and
    the backbone structure for NN-descent refinement, graph-based ANN
    serving, and cluster-free semantic dedup.

    Scale shape: identical to the range-search key — one Arrow bucket
    pass, a bucket-equi self-join bounded by occupancy, a per-node
    WindowGroupLimit top-k (never a global sort). Pairwise work grows
    with bucket occupancy; the production dial is N_PLANES ∝ log2(N)
    (see SCALING.md round-11 wave 2)."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    g = cosine_topk_lsh(e, e, k=KNN_GRAPH_K)
    return g.select(
        F.col("query_id").alias("node_id"),
        F.col("candidate_id").alias("neighbor_id"),
        "cos",
        "rk",
    )


# ---------------------------------------------------------------------------
# Occupancy-dialed twins (VERDICT r11 next #1): sim_range_search and
# sim_knn_graph with N_PLANES derived from the corpus count so bucket
# occupancy — and hence per-row candidate work — stays constant as the
# corpus grows. The fixed-plane keys above stay as the documented
# oracle anchors; these two are the production scale path, and the 10×
# probe (docs/scale_probe_r12.json) is the evidence the dial collapses
# the 4.4× / 2.9× superlinear ratios.
# ---------------------------------------------------------------------------


def _scaled_bucket_oracle_cte() -> str:
    """Shared oracle CTE: derive np from count(*) (integer CASE chain,
    duck_scaled_np_sql), compute the OCC_MAX_PLANES-bit string once,
    and key buckets on its np-char prefix (signs_matrix prefix
    property)."""
    from mercurygate_spark.operators.similarity import (
        OCC_MAX_PLANES,
        duck_scaled_np_sql,
    )

    return f"""
    par AS MATERIALIZED (SELECT {duck_scaled_np_sql('embeddings')} AS np),
    b AS MATERIALIZED (
      SELECT vec_id, embedding,
             substr({duck_bucket_sql('embedding', OCC_MAX_PLANES)}, 1,
                    (SELECT np FROM par)) AS bucket
      FROM embeddings
    )"""


def _scaled_lsh_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with the occupancy-dialed bucket column: ONE count job
    derives n_planes = scaled_n_planes(N) on the driver (a scalar —
    legitimate at any scale), then one Arrow bucket pass computes
    exactly that many sign bits."""
    from mercurygate_spark.operators.similarity import (
        lsh_bucket,
        scaled_n_planes,
    )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    np_ = scaled_n_planes(e.count())
    return lsh_bucket(e, "vec_id", "embedding", n_planes=np_)


@query(
    "sim_range_search_scaled",
    oracle=f"""
    WITH {_scaled_bucket_oracle_cte()},
    scored AS (
      SELECT q.vec_id AS vec_id_a, c.vec_id AS vec_id_b,
             {_DUCK_COS} AS cos
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
    )
    SELECT vec_id_a, vec_id_b, cos
    FROM scored WHERE cos >= {RANGE_TAU}
    """,
)
def sim_range_search_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_range_search under the occupancy dial: N_PLANES =
    scaled_n_planes(count) — smallest p with OCC_TARGET·2^p ≥ N — so a
    10× corpus gets ~3-4 more sign bits, expected bucket occupancy
    stays ≈OCC_TARGET, and the bucket SELF-join's candidate count
    grows ∝ N instead of ∝ N² (the fixed-plane key's measured 4.4×
    at 10× — docs/SCALING.md r11 wave 2). The plane-count derivation
    is an integer CASE chain replicated verbatim in the oracle, and
    plane p's signs depend only on p, so the oracle buckets on a
    substr() prefix of the 16-bit string — bit-identical keys on both
    engines at ANY corpus size."""
    b = _scaled_lsh_frame(spark, sf_dir)
    # norms once per vector, not per bucket pair (cosine_pre;
    # bit-identical)
    q = b.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("qv"), "bucket"
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    c = b.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("cv"), "bucket"
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    scored = (
        q.join(c, "bucket")
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .select(
            "vec_id_a",
            "vec_id_b",
            (
                F.floor(
                    cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                    * 10**4 + F.lit(0.5)
                )
                / 10**4
            ).alias("cos"),
        )
    )
    return scored.where(F.col("cos") >= RANGE_TAU)


@query(
    "sim_knn_graph_scaled",
    oracle=f"""
    WITH {_scaled_bucket_oracle_cte()},
    scored AS (
      SELECT q.vec_id AS node_id, c.vec_id AS neighbor_id,
             {_DUCK_COS} AS cos
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY node_id ORDER BY cos DESC, neighbor_id
             ) AS rk
      FROM scored
    )
    SELECT node_id, neighbor_id, cos, rk FROM ranked WHERE rk <= {KNN_GRAPH_K}
    """,
)
def sim_knn_graph_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_knn_graph under the same occupancy dial: every node's
    top-{KNN_GRAPH_K} among bucket-mates, with the bucket width derived
    from the corpus count (constant expected occupancy ⇒ the per-node
    WindowGroupLimit sees a bounded candidate set at any N — the
    fixed-plane key's 2.9× 10× ratio collapses to ~linear). Same
    integer-threshold derivation + substr-prefix oracle as
    sim_range_search_scaled."""
    b = _scaled_lsh_frame(spark, sf_dir)
    # norms once per vector, not per bucket pair (cosine_pre;
    # bit-identical)
    q = b.select(
        F.col("vec_id").alias("node_id"), F.col("embedding").alias("qv"), "bucket"
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    c = b.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "bucket"
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    scored = (
        q.join(c, "bucket")
        .where(F.col("node_id") != F.col("neighbor_id"))
        .select(
            "node_id",
            "neighbor_id",
            (
                F.floor(
                    cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                    * 10**4 + F.lit(0.5)
                )
                / 10**4
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("node_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= KNN_GRAPH_K
    )


PROTO_DROP_FRAC = 0.1  # drop the 10% most prototypical per label (SSL-prototypes)


@query(
    "sample_prototype_rank",
    oracle="""
    WITH e AS (
      SELECT label, i, embedding[i + 1] AS v
      FROM embeddings, UNNEST(range(len(embedding))) AS r(i)
    ), comp AS (
      SELECT label, i, round(avg(v), 6) AS c FROM e GROUP BY 1, 2
    ), cent AS MATERIALIZED (
      SELECT label, list(c ORDER BY i) AS centroid FROM comp GROUP BY label
    ), scored AS (
      SELECT q.vec_id, q.label,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.centroid::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[]))),
               6) AS proto_cos
      FROM embeddings q JOIN cent c USING (label)
    ), ranked AS (
      SELECT *, percent_rank() OVER (
               PARTITION BY label ORDER BY proto_cos DESC, vec_id
             ) AS pr
      FROM scored
    )
    SELECT vec_id, label, proto_cos, round(pr, 6) AS proto_rank,
           (pr < 0.1) AS drop_prototypical
    FROM ranked
    """,
)
def sample_prototype_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes / D4-style prototypicality pruning (Sorscher et
    al. 2022; Tirumala et al. 2023): rank every vector by cosine to its
    label centroid and flag the most prototypical {PROTO_DROP_FRAC:.0%}
    per label for dropping — the 'easy examples carry least signal'
    half of D4 (the near-dup half is dedup_semantic). Ranking runs on
    the r6-ROUNDED cosine against r6-rounded centroid components, so
    the drop cut is bit-identical across engines.

    Scale shape: the centroid reduce shuffles (labels × dims) scalars
    (never vectors — the sim_embedding_centroid contract), the
    centroid table broadcasts back onto one corpus pass, and the
    percent_rank window partitions by label. No UDF, no corpus-sized
    driver traffic."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"].select("label", F.posexplode("embedding").alias("pos", "v"))
    comp = e.groupBy("label", "pos").agg(r6(F.avg("v")).alias("c"))
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    ).withColumn("cvn", norm(_as_double(F.col("centroid"))))
    # centroid norm once per LABEL, not per member row (cosine_pre;
    # bit-identical — the embedding's own norm is per-row either way)
    scored = (
        t["embeddings"]
        .join(F.broadcast(cent), "label")
        .select(
            "vec_id",
            "label",
            (
                F.floor(
                    cosine_pre(
                        F.col("embedding"),
                        F.col("centroid"),
                        norm(_as_double(F.col("embedding"))),
                        F.col("cvn"),
                    ) * 10**6
                    + F.lit(0.5)
                )
                / 10**6
            ).alias("proto_cos"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("proto_cos").desc(), "vec_id")
    pr = F.percent_rank().over(w)
    return scored.select(
        "vec_id",
        "label",
        "proto_cos",
        r6(pr).alias("proto_rank"),
        (pr < PROTO_DROP_FRAC).alias("drop_prototypical"),
    )


MRL_DIMS = 16  # truncated prefix width (Matryoshka coarse stage)
MRL_SHORTLIST = 30  # truncated-space shortlist refined by full-dim rerank


@query(
    "sim_truncated_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding, embedding[1:{MRL_DIMS}] AS emb_t
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), c AS (
      SELECT vec_id, embedding, embedding[1:{MRL_DIMS}] AS emb_t
      FROM embeddings
    ), coarse AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
             q.embedding AS qe, c.embedding AS ce,
             round(
               list_dot_product(q.emb_t::DOUBLE[], c.emb_t::DOUBLE[]) /
               (sqrt(list_dot_product(q.emb_t::DOUBLE[], q.emb_t::DOUBLE[])) *
                sqrt(list_dot_product(c.emb_t::DOUBLE[], c.emb_t::DOUBLE[]))),
               4) AS cos_t
      FROM q JOIN c ON q.vec_id <> c.vec_id
    ), shortlist AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos_t DESC, candidate_id
             ) AS rk_t
      FROM coarse
    ), rerank AS (
      SELECT query_id, candidate_id, cos_t,
             round(
               list_dot_product(qe::DOUBLE[], ce::DOUBLE[]) /
               (sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[])) *
                sqrt(list_dot_product(ce::DOUBLE[], ce::DOUBLE[]))),
               4) AS cos_full
      FROM shortlist WHERE rk_t <= {MRL_SHORTLIST}
    )
    SELECT query_id, candidate_id, cos_t, cos_full,
           row_number() OVER (
             PARTITION BY query_id ORDER BY cos_full DESC, candidate_id
           ) AS rk
    FROM rerank
    QUALIFY rk <= {TOP_K}
    """,
)
def sim_truncated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style two-stage retrieval (Kusupati et al. 2022):
    stage 1 scores on the first 16 of 64 dims (4× less compute/IO per
    candidate — MRL embeddings front-load information so prefixes are
    usable embeddings), keeps a 30-candidate shortlist per query,
    stage 2 re-ranks the shortlist with the full vector. The
    coarse/fine split is the same economics as IVFPQ+rerank but along
    the DIMENSION axis instead of the quantization axis.

    Scale shape: the corpus pass reads only the prefix for stage 1
    (columnar layouts can physically prune trailing dims when stored
    as separate columns; here the slice happens post-read), the
    shortlist is 30×queries rows, and the full-dim rerank touches only
    the shortlist. Both rankings run on r4-rounded cosines with id
    tiebreaks (the cross-engine ranking doctrine). Brute-force stage 1
    mirrors sim_cosine_topk's broadcast shape: the 5-query side
    broadcasts and crosses one corpus pass."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"]
    trunc = F.slice("embedding", 1, MRL_DIMS)
    # all four norms once per VECTOR (truncated + full on both sides),
    # not per pair: the coarse cross has fanout |corpus| per query and
    # the full-dim rerank re-reads qe MRL_SHORTLIST times per query
    # (cosine_pre; bit-identical)
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        trunc.alias("qt"),
    ).withColumn("qtn", norm(_as_double(F.col("qt")))).withColumn(
        "qen", norm(_as_double(F.col("qe")))
    )
    c = e.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("ce"),
        trunc.alias("ct"),
    ).withColumn("ctn", norm(_as_double(F.col("ct")))).withColumn(
        "cen", norm(_as_double(F.col("ce")))
    )
    r4 = lambda col: F.floor(col * 10**4 + F.lit(0.5)) / 10**4  # noqa: E731
    coarse = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id", "candidate_id", "qe", "ce", "qen", "cen",
            r4(
                cosine_pre(F.col("qt"), F.col("ct"), F.col("qtn"), F.col("ctn"))
            ).alias("cos_t"),
        )
    )
    w_t = Window.partitionBy("query_id").orderBy(
        F.col("cos_t").desc(), "candidate_id"
    )
    shortlist = coarse.withColumn("rk_t", F.row_number().over(w_t)).where(
        F.col("rk_t") <= MRL_SHORTLIST
    )
    rerank = shortlist.select(
        "query_id", "candidate_id", "cos_t",
        r4(
            cosine_pre(F.col("qe"), F.col("ce"), F.col("qen"), F.col("cen"))
        ).alias("cos_full"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), "candidate_id"
    )
    return rerank.withColumn("rk", F.row_number().over(w_f)).where(
        F.col("rk") <= TOP_K
    )


KCENTER_K = 8  # coreset size (greedy Gonzalez rounds)


def _kcenter_cos_dist(b: str, s: str) -> str:
    return (
        f"round(1 - list_dot_product({b}.embedding::DOUBLE[], {s}.embedding::DOUBLE[]) / "
        f"(sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])) * "
        f"sqrt(list_dot_product({s}.embedding::DOUBLE[], {s}.embedding::DOUBLE[]))), 6)"
    )


def _kcenter_oracle() -> str:
    """Unrolled greedy k-center chain (the Lloyd-chain oracle doctrine:
    every generated CTE MATERIALIZED so DuckDB cannot multiplicatively
    inline the recursion)."""
    parts = [
        "base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        "sel0 AS MATERIALIZED (SELECT 0 AS rnd, vec_id, embedding FROM base "
        "WHERE vec_id = (SELECT min(vec_id) FROM base))",
    ]
    for r in range(1, KCENTER_K):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT b.vec_id, b.embedding, "
            f"min({_kcenter_cos_dist('b', 's')}) AS d "
            f"FROM base b, sel{r - 1} s GROUP BY 1, 2)"
        )
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT {r} AS rnd, vec_id, embedding, d "
            f"FROM d{r} ORDER BY d DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT rnd, vec_id, embedding FROM sel{r - 1} "
            f"UNION ALL SELECT rnd, vec_id, embedding FROM p{r})"
        )
    picks = " UNION ALL ".join(
        ["SELECT rnd, vec_id, CAST(0.0 AS DOUBLE) AS coverage_dist FROM sel0"]
        + [
            f"SELECT rnd, vec_id, d AS coverage_dist FROM p{r}"
            for r in range(1, KCENTER_K)
        ]
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({picks}) ORDER BY rnd"
    )


@query("sample_kcenter_coreset", oracle=_kcenter_oracle())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; Sener &
    Savarese 2018 for active learning / data selection): seed with the
    smallest vec_id, then 7 rounds of 'pick the point farthest (in
    r6-rounded cosine distance) from everything selected so far' —
    the classical 2-approximation of the k-center cover and the
    diversity-maximizing counterpart to sample_prototype_rank's
    redundancy pruning. Each pick's coverage_dist is the corpus cover
    radius at that step (monotonically non-increasing — pinned by a
    property test).

    Scale shape: each round is one corpus pass — the ≤K-row selected
    set broadcasts (a bounded BroadcastNestedLoopJoin, the
    sim_cosine_topk shape), the per-vector min reduces map-side, and
    the driver collects exactly ONE row per round (argmax by
    TakeOrderedAndProject), so driver traffic is K rows total
    regardless of corpus size. The argmax runs on the r6-ROUNDED
    distance with a vec_id tiebreak so every round's pick — and hence
    the whole recursion — is bit-identical across engines."""
    from mercurygate_spark.functions import r6

    t = load_tables(spark, sf_dir, "embeddings")
    # corpus-side norm once per VECTOR (not per selected seed: the
    # broadcast cross has fanout |selected| per row), seed norms ride
    # the collected rows — Spark computed them, so the re-injected
    # literals are the identical doubles (cosine_pre; bit-identical)
    e = t["embeddings"].select(
        "vec_id", "embedding", norm(_as_double(F.col("embedding"))).alias("en")
    )
    seed = e.orderBy("vec_id").limit(1).collect()[0]
    selected = [
        (0, int(seed["vec_id"]), [float(x) for x in seed["embedding"]],
         float(seed["en"]), 0.0)
    ]
    for r in range(1, KCENTER_K):
        sel_df = spark.createDataFrame(
            [(vid, emb, sn) for (_, vid, emb, sn, _) in selected],
            schema="svec_id long, semb array<double>, sn double",
        )
        dists = (
            e.crossJoin(F.broadcast(sel_df))
            .select(
                "vec_id",
                r6(
                    F.lit(1.0)
                    - cosine_pre(
                        F.col("embedding"), F.col("semb"),
                        F.col("en"), F.col("sn"),
                    )
                ).alias("d"),
            )
            .groupBy("vec_id")
            .agg(F.min("d").alias("d"))
        )
        pick = dists.orderBy(F.col("d").desc(), "vec_id").limit(1).collect()[0]
        prow = e.where(F.col("vec_id") == pick["vec_id"]).collect()[0]
        emb = [float(x) for x in prow["embedding"]]
        selected.append(
            (r, int(pick["vec_id"]), emb, float(prow["en"]), float(pick["d"]))
        )
    return spark.createDataFrame(
        [(rnd, vid, d) for (rnd, vid, _, _, d) in selected],
        schema="rnd int, vec_id long, coverage_dist double",
    )


# ---------------------------------------------------------------------------
# Batched k-center (VERDICT r11 next #2): the production-scale variant
# of sample_kcenter_coreset. Two changes, both standard (Sener &
# Savarese 2018's practical variant):
#   1. RUNNING min_dist state — each round scores the corpus against
#      only the round's NEW centers (min_dist folds in via least()),
#      so total work is O(K·N) instead of the anchor key's O(K²·N)
#      crossJoin-to-the-full-selected-set re-scoring;
#   2. BATCHED picks — the B farthest points per round (one TakeOrdered
#      job), so the ROUND COUNT is K/B, decoupled from K.
# The pick's embedding rides the same TakeOrdered row as its id and
# distance (the r11 advice nit: the anchor key fetched it with a
# second filter job per round).
# ---------------------------------------------------------------------------

KCB_B = 5        # picks per round
KCB_ROUNDS = 3   # rounds → 1 seed + 15 picks = 16 centers from 3 passes


def _kcenter_batched_oracle() -> str:
    """Unrolled batched-greedy chain: round r's B picks are the top-B
    by (min distance to sel{r-1}) DESC, vec_id — the same argmax chain
    as the anchor key with LIMIT B instead of LIMIT 1. MATERIALIZED
    per round (Lloyd-chain doctrine)."""
    parts = [
        "base AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        "sel0 AS MATERIALIZED (SELECT 0 AS rnd, vec_id, embedding FROM base "
        "WHERE vec_id = (SELECT min(vec_id) FROM base))",
    ]
    for r in range(1, KCB_ROUNDS + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT b.vec_id, b.embedding, "
            f"min({_kcenter_cos_dist('b', 's')}) AS d "
            f"FROM base b, sel{r - 1} s "
            f"WHERE b.vec_id NOT IN (SELECT vec_id FROM sel{r - 1}) "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT {r} AS rnd, vec_id, embedding, d "
            f"FROM d{r} ORDER BY d DESC, vec_id LIMIT {KCB_B})"
        )
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT rnd, vec_id, embedding FROM sel{r - 1} "
            f"UNION ALL SELECT rnd, vec_id, embedding FROM p{r})"
        )
    picks = " UNION ALL ".join(
        ["SELECT rnd, vec_id, CAST(0.0 AS DOUBLE) AS coverage_dist FROM sel0"]
        + [
            f"SELECT rnd, vec_id, d AS coverage_dist FROM p{r}"
            for r in range(1, KCB_ROUNDS + 1)
        ]
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({picks}) ORDER BY rnd, vec_id"
    )


@query("sample_kcenter_batched", oracle=_kcenter_batched_oracle())
def sample_kcenter_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched greedy k-center with running min_dist state — the
    O(K·N) scale path next to sample_kcenter_coreset's O(K²·N) oracle
    anchor. Seed with the smallest vec_id, then {KCB_ROUNDS} rounds of
    'take the {KCB_B} points farthest (r6-rounded cosine distance)
    from everything selected so far'.

    Scale shape, per round:
    - the corpus state frame carries ONE persisted min_dist column;
      the round folds in the previous round's B new centers as
      broadcast array literals via least() — a pure codegen
      PROJECTION, zero joins, zero shuffles;
    - the B picks come from one TakeOrderedAndProject job carrying
      (vec_id, min_d, embedding) in the same row — driver traffic is
      exactly K rows total, one collect per round, no second
      embedding-fetch job;
    - the state localCheckpoints each round (lineage-truncation
      doctrine), so round r never replays rounds 1..r-1.
    Round count is K/B — decoupled from K — and per-round cost is one
    corpus pass regardless of how many centers are already selected
    (the probe evidence: docs/scale_probe_r12.json). Exclusion of
    already-picked points is STATE-CARRIED (VERDICT r12 next #4):
    picked rows get a min_d = -1 sentinel inside the same least()
    projection and the pick filter is ``min_d >= 0`` — the logical
    plan never grows a K-length IN-list (at production K in the
    thousands the old ``~isin(*picked_ids)`` bloated the plan itself;
    now each round's plan mentions at most B id literals, pinned flat
    by tests/test_kcenter_plan_flat.py)."""
    t = load_tables(spark, sf_dir, "embeddings")
    e = t["embeddings"].select("vec_id", "embedding")
    rows = _kcenter_batched_rows(spark, e, KCB_B, KCB_ROUNDS)
    return spark.createDataFrame(
        rows, schema="rnd int, vec_id long, coverage_dist double"
    )


def _kcenter_batched_rows(
    spark: SparkSession,
    e: DataFrame,
    b: int,
    rounds: int,
    plan_sizes: list | None = None,
) -> list:
    """Core batched-greedy loop (shared by the key and the plan-flat
    probe). Cosine distance is ≥ 0, so the -1 sentinel survives every
    subsequent least() fold automatically — one when() per round over
    exactly this round's B ids keeps exclusion out of the plan."""
    # per-vector norm once, carried through the state checkpoints;
    # each pick's norm rides its own TakeOrdered row, so the re-lit
    # literal is the identical Spark-computed double (cosine_pre;
    # bit-identical — saves B redundant norm folds per row per round)
    ed = e.withColumn("en", norm(_as_double(F.col("embedding"))))
    seed = ed.orderBy("vec_id").limit(1).collect()[0]
    seed_emb = [float(x) for x in seed["embedding"]]
    rows = [(0, int(seed["vec_id"]), 0.0)]
    state = ed.withColumn(
        "min_d",
        F.when(F.col("vec_id") == int(seed["vec_id"]), F.lit(-1.0)).otherwise(
            r6(
                F.lit(1.0)
                - cosine_pre(
                    F.col("embedding"), F.lit(seed_emb),
                    F.col("en"), F.lit(float(seed["en"])),
                )
            )
        ),
    ).localCheckpoint(eager=True)
    for rnd in range(1, rounds + 1):
        pick_df = state.where(F.col("min_d") >= 0).orderBy(
            F.col("min_d").desc(), "vec_id"
        ).limit(b)
        if plan_sizes is not None:
            plan_sizes.append(pick_df._jdf.queryExecution().toString())
        picks = pick_df.collect()  # bounded by construction: B rows/round
        rows += [(rnd, int(p["vec_id"]), float(p["min_d"])) for p in picks]
        if rnd == rounds or not picks:
            break
        new_dists = [
            r6(
                F.lit(1.0)
                - cosine_pre(
                    F.col("embedding"),
                    F.lit([float(x) for x in p["embedding"]]),
                    F.col("en"),
                    F.lit(float(p["en"])),
                )
            )
            for p in picks
        ]
        round_ids = [int(p["vec_id"]) for p in picks]  # B literals, not K
        state = state.withColumn(
            "min_d",
            F.when(F.col("vec_id").isin(round_ids), F.lit(-1.0)).otherwise(
                F.least(F.col("min_d"), *new_dists)
            ),
        ).localCheckpoint(eager=True)
    return rows


# ---------------------------------------------------------------------------
# Per-IVF-list graph serving (VERDICT r11 next #4): the graph-ANN
# refinement the HNSW design note (docs/SCALING.md) names as the
# composition path — a small kNN graph per inverted list, probes
# served by deterministic fixed-round beam search over the graph
# instead of scanning the whole list. Recall-vs-scored-candidates vs
# the flat in-list scan is measured by scripts/ivf_graph_recall.py
# (docs/ivf_graph_recall_r12.json); this key pins the exact walk.
# ---------------------------------------------------------------------------

GRAPH_TOPK = 5  # final neighbors returned per query


def _ivf_graph_oracle(
    k_expr: str | None = None,
    e_count: int | None = None,
    beam: int | None = None,
    g: int | None = None,
    hops: int | None = None,
    n_probe: int = 1,
    adaptive: tuple | None = None,
) -> str:
    """Unrolled beam-search oracle. With ``k_expr`` (a scalar-subquery
    string), the k-means chain trains a COUNT-derived number of
    centroids — the list-count dial (sim_ivf_graph_scaled); the seed
    cut is a plain ``cidx < k`` comparison, so a subquery slots in
    where the fixed key uses the N_CENTROIDS literal. ``e_count``/
    ``beam``/``g``/``hops`` override the walk geometry (defaults =
    the fixed key's constants) — the multi-entry key passes the
    measured sweet spot. ``adaptive`` = (margin_pct, b2s, b1s): the
    boundary-adaptive policy — every query walks its top-1 list; the
    second list joins ONLY when the exact integer margin rule
    100·(d2−d1) <= pct·d1 fires (both distances are the quantized-grid
    int64 squared distances, so the two engines cannot disagree at the
    bound), and the per-hop beam is b2s[h] for gated queries / b1s[h]
    for interior ones (hops = len(b2s))."""
    from mercurygate_spark.operators.similarity import (
        GRAPH_B,
        GRAPH_G,
        GRAPH_HOPS,
        duck_scaled_k_sql,
    )

    e_count = 1 if e_count is None else e_count
    beam = GRAPH_B if beam is None else beam
    g = GRAPH_G if g is None else g
    hops = GRAPH_HOPS if hops is None else hops
    if adaptive is not None:
        adp_pct, adp_b2s, adp_b1s = adaptive
        hops = len(adp_b2s)
        n_probe = 2

    def dcos(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b}))), 4)"
        )

    dist = (
        f"list_sum(list_transform(range(1, {EMBED_DIMS + 1}), "
        "j -> (e.qe[j] - c.qc[j]) * (e.qe[j] - c.qc[j])))"
    )
    parts = []
    if k_expr is not None:
        parts.append(
            f"kpar AS MATERIALIZED (SELECT {duck_scaled_k_sql()} AS kk)"
        )
    parts += [
        duck_ivf_kmeans_sql(k=k_expr if k_expr is not None else N_CENTROIDS),
        f"""assign_final AS (
      SELECT e.vec_id, e.embedding, c.cidx, {dist} AS pdist,
             row_number() OVER (
               PARTITION BY e.vec_id ORDER BY {dist}, c.cidx
             ) AS probe_rank
      FROM qemb e CROSS JOIN cent{KMEANS_ITERS} c
    )""",
        """glists AS MATERIALIZED (
      SELECT vec_id, embedding, cidx FROM assign_final WHERE probe_rank = 1
    )""",
        f"""c2c AS MATERIALIZED (
      SELECT l.cidx, l.vec_id,
             {dcos('l.embedding::DOUBLE[]', 'c.qc::DOUBLE[]')} AS cc
      FROM glists l JOIN cent{KMEANS_ITERS} c ON l.cidx = c.cidx
    )""",
        """gentry AS MATERIALIZED (
      SELECT cidx, vec_id AS cand_id FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY cidx ORDER BY cc DESC, vec_id) AS rn
        FROM c2c) WHERE rn <= {e_count}
    )""".format(e_count=e_count),
        f"""gedges AS MATERIALIZED (
      SELECT cidx, node_id, neighbor_id FROM (
        SELECT a.cidx, a.vec_id AS node_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {dcos('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')} DESC,
                          b.vec_id) AS rk
        FROM glists a JOIN glists b
          ON a.cidx = b.cidx AND a.vec_id <> b.vec_id
      ) WHERE rk <= {g}
    )""",
        *(
            [
                f"""gq0 AS MATERIALIZED (
      SELECT vec_id, embedding, cidx, probe_rank, pdist,
             min(pdist) OVER (PARTITION BY vec_id) AS d1
      FROM assign_final WHERE vec_id < {N_QUERIES} AND probe_rank <= 2
    )""",
                f"""gqg AS MATERIALIZED (
      SELECT vec_id,
             max(CASE WHEN probe_rank = 2
                       AND 100 * (pdist - d1) <= {adp_pct} * d1
                 THEN 1 ELSE 0 END) AS g2
      FROM gq0 GROUP BY vec_id
    )""",
                f"""gq AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qv, cidx
      FROM gq0
      WHERE probe_rank = 1 OR 100 * (pdist - d1) <= {adp_pct} * d1
    )""",
            ]
            if adaptive is not None
            else [
                f"""gq AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qv, cidx
      FROM assign_final
      WHERE vec_id < {N_QUERIES} AND probe_rank <= {n_probe}
    )"""
            ]
        ),
        """gqv AS MATERIALIZED (
      SELECT DISTINCT query_id, qv FROM gq
    )""",
        """v0 AS MATERIALIZED (
      SELECT q.query_id, q.cidx, e.cand_id
      FROM gq q JOIN gentry e ON q.cidx = e.cidx
    )""",
        "f0 AS MATERIALIZED (SELECT * FROM v0)",
    ]
    for h in range(1, hops + 1):
        parts.append(
            f"""n{h} AS (
      SELECT DISTINCT f.query_id, f.cidx, g.neighbor_id AS cand_id
      FROM f{h - 1} f JOIN gedges g
        ON f.cidx = g.cidx AND f.cand_id = g.node_id
    )"""
        )
        parts.append(
            f"""v{h} AS MATERIALIZED (
      SELECT DISTINCT query_id, cidx, cand_id FROM (
        SELECT * FROM v{h - 1} UNION ALL SELECT * FROM n{h})
    )"""
        )
        parts.append(
            f"""s{h} AS MATERIALIZED (
      SELECT v.query_id, v.cidx, v.cand_id,
             {dcos('q.qv::DOUBLE[]', 'l.embedding::DOUBLE[]')} AS cos
      FROM v{h} v JOIN gqv q ON v.query_id = q.query_id
      JOIN glists l ON v.cand_id = l.vec_id
    )"""
        )
        if adaptive is not None:
            bcut = (
                f"CASE WHEN g2 = 1 THEN {adp_b2s[h - 1]} "
                f"ELSE {adp_b1s[h - 1]} END"
            )
            parts.append(
                f"""f{h} AS MATERIALIZED (
      SELECT query_id, cidx, cand_id FROM (
        SELECT s.*, g.g2, row_number() OVER (
                 PARTITION BY s.query_id ORDER BY s.cos DESC, s.cand_id) AS rn
        FROM s{h} s JOIN gqg g ON s.query_id = g.vec_id
      ) WHERE rn <= {bcut}
    )"""
            )
        else:
            parts.append(
                f"""f{h} AS MATERIALIZED (
      SELECT query_id, cidx, cand_id FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rn
        FROM s{h}) WHERE rn <= {beam}
    )"""
            )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT query_id, cand_id AS candidate_id, cos, rk FROM (
      SELECT query_id, cand_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rk
      FROM s{hops} WHERE cand_id <> query_id
    ) WHERE rk <= {GRAPH_TOPK}
    """
    )


@query("sim_ivf_graph_topk", oracle=_ivf_graph_oracle())
def sim_ivf_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-refined IVF serving: train centroids (the deterministic
    quantized-grid Lloyd's every IVF key shares), assign the corpus to
    inverted lists, build a {GRAPH_G}-out-degree kNN graph WITHIN each
    list (ivf_list_knn_graph — a list-equi self-join bounded by list
    occupancy), then serve each designated query by deterministic beam
    search: enter at the list's most-central member (top cosine to the
    quantized centroid, vec_id tiebreak), expand graph neighbors for
    {GRAPH_HOPS} fixed rounds keeping a beam of {GRAPH_B}, and return
    the top-{GRAPH_TOPK} of everything scored. Every step — entry
    choice, hop membership, beam cut, final rank — runs on the
    r4-rounded cosine with id tiebreaks, so the oracle replays the
    ENTIRE walk in unrolled CTEs (the BPE/k-center chain doctrine
    applied to graph traversal).

    Scale shape: graph build is per-list parallel (the occupancy-
    bounded join, same contract as the LSH bucket join — at 100 TB
    each list's graph lives with its bucket partition); the assigned
    corpus and edge frames localCheckpoint once and every hop reuses
    them; a probe scores ~1+{GRAPH_G}+{GRAPH_HOPS}·{GRAPH_B}·{GRAPH_G}
    candidates instead of the whole list — the dial that matters when
    lists hold millions of vectors. Driver traffic: the k×dims
    centroid matrix only."""
    from mercurygate_spark.operators.similarity import train_ivf_centroids

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cmat = train_ivf_centroids(e)
    return _ivf_graph_serve(spark, e, cmat)


# test hook (tests/test_plans.py::test_ivf_graph_scores_delta_only):
# when a list, _ivf_graph_serve's score() appends the analyzed plan of
# every frame it is asked to score — the pin that hops score only the
# anti-joined delta, never the full visited set
_GRAPH_SCORE_TRACE: list | None = None


def _ivf_graph_serve(
    spark: SparkSession,
    e: DataFrame,
    cmat,
    e_count: int = 1,
    beam: int | None = None,
    g: int | None = None,
    hops: int | None = None,
    n_probe: int = 1,
    adaptive: tuple | None = None,
) -> DataFrame:
    """The shared beam-search serve path: assign to cmat's lists,
    build the per-list graph, walk it. cmat decides the list count —
    the fixed key trains N_CENTROIDS, the scaled key a count-derived
    power of two.

    Frontier-DELTA scoring (VERDICT r12 next #3): the visited frame
    carries its cosine, so each hop scores ONLY the newly discovered
    neighbors (anti-join against the visited set) and unions them in —
    the old shape re-scored the entire visited set every hop (3×
    redundant cosine work at hops·beam·degree). The visited frame
    localCheckpoints per hop: it is referenced three times per hop
    (seen-check, union, frontier cut), so without materialization the
    single final job re-evaluates hop i's subtree 3^(H-i) times.
    Scores are bit-identical to the oracle's unrolled replay — only
    WHEN each (query, candidate) pair is scored changes, never the
    value (pinned by tests/test_plans.py::test_ivf_graph_scores_delta_only)."""
    from mercurygate_spark.operators.similarity import (
        GRAPH_B,
        GRAPH_G,
        GRAPH_HOPS,
        ivf_assign,
        ivf_list_knn_graph,
    )

    beam = GRAPH_B if beam is None else beam
    g = GRAPH_G if g is None else g
    hops = GRAPH_HOPS if hops is None else hops
    if adaptive is not None:
        adp_pct, adp_b2s, adp_b1s = adaptive
        hops = len(adp_b2s)

    lists = (
        ivf_assign(e, cmat, "vec_id", "embedding", n_probe=1)
        .select("vec_id", "embedding", "centroid_id")
        .localCheckpoint(eager=True)
    )
    from mercurygate_spark.operators.similarity import (
        _as_double,
        cosine_pre,
        norm,
    )

    cents = spark.createDataFrame(
        [(i, [float(x) for x in cmat[i]]) for i in range(cmat.shape[0])],
        schema="cidx int, cvec array<double>",
    ).withColumn("cvn", norm(F.col("cvec")))  # centroid norm once, not per member

    def fcos_pre(a, b, na, nb):
        return F.floor(cosine_pre(a, b, na, nb) * 10**4 + F.lit(0.5)) / 10**4

    c2c = lists.join(
        F.broadcast(cents), lists["centroid_id"] == cents["cidx"]
    ).select(
        "centroid_id",
        "vec_id",
        fcos_pre(
            F.col("embedding"), F.col("cvec"),
            norm(_as_double(F.col("embedding"))), F.col("cvn"),
        ).alias("cc"),
    )
    w_e = Window.partitionBy("centroid_id").orderBy(F.col("cc").desc(), "vec_id")
    entry = (
        c2c.withColumn("rn", F.row_number().over(w_e))
        .where(F.col("rn") <= e_count)
        .select("centroid_id", F.col("vec_id").alias("cand_id"))
    )
    edges = ivf_list_knn_graph(lists, g=g).localCheckpoint(eager=True)
    gated = None
    if adaptive is not None:
        # boundary-adaptive probe gate (VERDICT r14 next #1): assign
        # each query to its top-2 lists WITH the exact int64 quantized
        # squared distances; the second list joins only when
        # 100·(d2−d1) <= pct·d1 (integer compare — engine-exact at the
        # bound, the drift-rule doctrine). The same gate decides the
        # per-hop beam: gated queries walk wide, interior queries walk
        # narrow (their 1-list ceiling caps what beam can buy anyway).
        qd = ivf_assign(
            e.where(F.col("vec_id") < N_QUERIES), cmat, "vec_id", "embedding",
            n_probe=2, with_dist=True,
        )
        w_m = Window.partitionBy("vec_id")
        qm = qd.withColumn("d1", F.min("probe_dist").over(w_m)).localCheckpoint(
            eager=True
        )
        gate = (
            100 * (F.col("probe_dist") - F.col("d1")) <= adp_pct * F.col("d1")
        )
        q = qm.where((F.col("probe_rank") == 1) | gate).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "centroid_id",
        )
        gated = qm.groupBy(F.col("vec_id").alias("query_id")).agg(
            F.max(((F.col("probe_rank") == 2) & gate).cast("int"))
            .cast("boolean")
            .alias("g2")
        )
        qvec = q.select("query_id", "qv").distinct()
    elif n_probe > 1:
        # the query probes its top-n_probe lists (a second bounded
        # Arrow pass over just the query rows); the corpus stays
        # single-assigned — the standard IVF multi-probe split
        q = ivf_assign(
            e.where(F.col("vec_id") < N_QUERIES), cmat, "vec_id", "embedding",
            n_probe=n_probe,
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "centroid_id",
        )
        # one qv row per query: a per-probe join would duplicate
        # every scored candidate
        qvec = q.select("query_id", "qv").distinct()
    else:
        q = lists.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "centroid_id",
        )
        qvec = q.select("query_id", "qv")
    # q is query-bounded (constant serving batch); entry is
    # list-bounded and grows with the corpus — broadcast the query
    # side explicitly (guide §3.1: stats at small SF would happily
    # pick the other build side; at 100 TB that broadcasts/shuffles a
    # corpus-order frame)
    v = F.broadcast(q.select("query_id", "centroid_id")).join(
        entry, "centroid_id"
    ).select("query_id", "centroid_id", "cand_id")
    # per-vector norms once (cosine_pre): qv's norm would otherwise
    # re-fold per scored candidate, cv's per query that reaches it
    qvec = qvec.withColumn("qn", norm(_as_double(F.col("qv"))))
    cand_vecs = lists.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    ).withColumn("cn", norm(_as_double(F.col("cv"))))

    def score(cands: DataFrame) -> DataFrame:
        if _GRAPH_SCORE_TRACE is not None:  # test hook: what gets scored
            _GRAPH_SCORE_TRACE.append(
                cands._jdf.queryExecution().analyzed().toString()
            )
        # cands ⋈ qvec is query-bounded (≤ beam·degree rows per query);
        # cand_vecs is the CORPUS. Pin the broadcast on the bounded
        # side: without the hint the small-SF plan builds on cand_vecs
        # (BuildRight over the corpus — a per-hop full-corpus
        # broadcast/shuffle at 100 TB, guide §3.1).
        return (
            F.broadcast(cands.join(qvec, "query_id"))
            .join(cand_vecs, "cand_id")
            .select(
                "query_id",
                "centroid_id",
                "cand_id",
                fcos_pre(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ).alias("cos"),
            )
        )

    frontier = v
    vs = score(v).localCheckpoint(eager=True)  # visited WITH carried cos
    w_q = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "cand_id")
    for hop in range(hops):
        ge = edges.select(
            F.col("centroid_id").alias("ecid"), "node_id", "neighbor_id"
        )
        # frontier is query-bounded (≤ beam rows per query); the edge
        # frame is corpus-order — broadcast the frontier so the edges
        # never shuffle (guide §3.1; the small-SF stats already pick
        # this, the hint pins it at scale)
        frontier = F.broadcast(frontier)
        nbrs = (
            frontier.join(
                ge,
                (frontier["centroid_id"] == ge["ecid"])
                & (frontier["cand_id"] == ge["node_id"]),
            )
            .select("query_id", "centroid_id", F.col("neighbor_id").alias("cand_id"))
            .distinct()
        )
        # score ONLY the unseen delta; seen rows keep their carried cos
        new = nbrs.join(
            vs.select("query_id", "cand_id"), ["query_id", "cand_id"], "left_anti"
        )
        vs = vs.unionByName(score(new))
        # the final hop's visited frame is referenced exactly once (the
        # top-k window below) — materializing it would be a pure extra
        # pass; every earlier hop is referenced 3× (seen-check, union,
        # frontier cut) and keeps its checkpoint
        if hop < hops - 1:
            vs = vs.localCheckpoint(eager=True)
        if adaptive is not None:
            # per-query annealed beam: the gated flag frame is bounded
            # by the (constant) query count — broadcast, never shuffle
            bcut = (
                F.when(F.col("g2"), F.lit(adp_b2s[hop]))
                .otherwise(F.lit(adp_b1s[hop]))
            )
            frontier = (
                vs.join(F.broadcast(gated), "query_id")
                .withColumn("rn", F.row_number().over(w_q))
                .where(F.col("rn") <= bcut)
                .select("query_id", "centroid_id", "cand_id")
            )
        else:
            frontier = (
                vs.withColumn("rn", F.row_number().over(w_q))
                .where(F.col("rn") <= beam)
                .select("query_id", "centroid_id", "cand_id")
            )
    final = vs.where(F.col("cand_id") != F.col("query_id"))
    return (
        final.withColumn("rk", F.row_number().over(w_q))
        .where(F.col("rk") <= GRAPH_TOPK)
        .select("query_id", F.col("cand_id").alias("candidate_id"), "cos", "rk")
    )


GRAPH_E_ME = 4     # entries per list (multi-entry walk)
GRAPH_B_ME = 8     # beam width at the measured sweet spot
GRAPH_G_ME = 8     # out-degree at the measured sweet spot
GRAPH_HOPS_ME = 3  # expansion rounds at the measured sweet spot


@query(
    "sim_ivf_graph_multi_entry",
    oracle=_ivf_graph_oracle(
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME, hops=GRAPH_HOPS_ME
    ),
)
def sim_ivf_graph_multi_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph walk at the MEASURED recall sweet spot
    (docs/ivf_graph_recall_r13.json): {GRAPH_E_ME} most-central
    entries per list, out-degree {GRAPH_G_ME}, beam {GRAPH_B_ME},
    {GRAPH_HOPS_ME} hops — recall 0.236 vs the flat full-list scan's
    0.244 ceiling at 54%% of its scored candidates (66.9 vs 124.6 per
    query), and strictly better than every single-entry config at
    equal-or-less work (E=1 B=16 recalls 0.22 at 85.5 cands). Extra
    seeds give the beam independent basins: a query whose single
    most-central entry sits in the wrong neighborhood of the list
    graph is unrecoverable at E=1 — the dial the r12 frontier was
    missing. Same fully-replayed oracle (entry cut rn <= E), same
    delta-scored walk, same occupancy-bounded shapes as
    sim_ivf_graph_topk."""
    from mercurygate_spark.operators.similarity import train_ivf_centroids

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cmat = train_ivf_centroids(e)
    return _ivf_graph_serve(
        spark, e, cmat,
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME, hops=GRAPH_HOPS_ME,
    )


@query("sim_ivf_graph_scaled", oracle=_ivf_graph_oracle(k_expr="(SELECT kk FROM kpar)"))
def sim_ivf_graph_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_graph_topk under the LIST-COUNT dial — the IVF twin of
    the round's LSH occupancy dial, closing the graph key's one
    superlinear stage: at a FIXED centroid count, 10× corpus ⇒ 10×
    list occupancy ⇒ 100× pairwise work in the per-list graph BUILD
    (the serving walk is occupancy-immune by construction). Here
    k = scaled_n_centroids(count) — the smallest power of two with
    LIST_OCC·k ≥ N — so expected occupancy, and hence graph-build
    pairs per row, stays constant as the corpus grows.

    The oracle derives the same k from count(*) (integer CASE chain)
    and feeds it into the unrolled k-means chain as a scalar subquery
    — the seed cut is a plain `cidx < k` comparison, so the ENTIRE
    training + assignment + graph + walk replay is count-parametric
    with zero float derivations. One count job on the Spark side is
    the only extra cost."""
    from mercurygate_spark.operators.similarity import (
        scaled_n_centroids,
        train_ivf_centroids,
    )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    k = scaled_n_centroids(e.count())
    cmat = train_ivf_centroids(e, k=k)
    return _ivf_graph_serve(spark, e, cmat)


@query(
    "sim_ivf_graph_me_scaled",
    oracle=_ivf_graph_oracle(
        k_expr="(SELECT kk FROM kpar)",
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME, hops=GRAPH_HOPS_ME,
    ),
)
def sim_ivf_graph_me_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_graph_multi_entry under the LIST-COUNT dial — the
    anchor+dial pair completed for the multi-entry geometry: the
    fixed-k anchor measures 6.1× at 10× (quadratic per-list graph
    BUILD, same as the single-entry anchor's 6.4×), and this twin
    derives k = scaled_n_centroids(count) so expected list occupancy
    — and hence graph-build pairs per row — stays constant as the
    corpus grows. The oracle derives the same k from count(*) and
    replays the identical multi-entry walk (entry cut rn <= E)."""
    from mercurygate_spark.operators.similarity import (
        scaled_n_centroids,
        train_ivf_centroids,
    )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    k = scaled_n_centroids(e.count())
    cmat = train_ivf_centroids(e, k=k)
    return _ivf_graph_serve(
        spark, e, cmat,
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME, hops=GRAPH_HOPS_ME,
    )


GRAPH_NPROBE = 2  # lists walked per query (the IVF multi-probe lever)


@query(
    "sim_ivf_graph_nprobe",
    oracle=_ivf_graph_oracle(
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME,
        hops=GRAPH_HOPS_ME, n_probe=GRAPH_NPROBE,
    ),
)
def sim_ivf_graph_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-PROBE graph walk (VERDICT r13 next #7): each query walks
    its top-{GRAPH_NPROBE} inverted lists instead of one. The measured
    justification (docs/ivf_graph_recall_r14.json): the single-list
    frontier tops out at recall 0.24 against the 1-list flat ceiling
    0.244 because a query near a Voronoi boundary cannot recover
    neighbors living in the adjacent list at ANY entries/beam/hops;
    probing 2 lists moves the CEILING itself to 0.400, and this walk
    (E={GRAPH_E_ME} G={GRAPH_G_ME} B={GRAPH_B_ME} hops={GRAPH_HOPS_ME})
    reaches 0.288 at 99.5 scored candidates/query — ABOVE the entire
    1-list ceiling at 20%% fewer candidates than its flat scan, with
    E=2 hitting 0.28 at just 85. Per-probe list walks share one beam
    (global per-query top-B), the standard IVF lever composed with
    the multi-entry/delta-scored machinery.

    Scale shape: the second probe list doubles the bounded entry/
    expansion work and nothing else; the query-side assignment is a
    second Arrow pass over the QUERY rows only (the corpus stays
    single-assigned — no index change at all, which is what makes
    n_probe the cheapest recall lever in production IVF serving).
    Oracle: the same fully-unrolled walk with the probe cut
    probe_rank <= {GRAPH_NPROBE} and a deduplicated query-vector
    frame (a per-probe join would double-score every candidate)."""
    from mercurygate_spark.operators.similarity import train_ivf_centroids

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cmat = train_ivf_centroids(e)
    return _ivf_graph_serve(
        spark, e, cmat,
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME,
        hops=GRAPH_HOPS_ME, n_probe=GRAPH_NPROBE,
    )


@query(
    "sim_ivf_graph_np_scaled",
    oracle=_ivf_graph_oracle(
        k_expr="(SELECT kk FROM kpar)",
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME,
        hops=GRAPH_HOPS_ME, n_probe=GRAPH_NPROBE,
    ),
)
def sim_ivf_graph_np_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_graph_nprobe under the LIST-COUNT dial — the anchor+dial
    pair completed for the multi-probe geometry (the doctrine every
    fixed-parameter quadratic-build anchor follows): k =
    scaled_n_centroids(count) holds expected list occupancy — and
    hence graph-build pairs per row — constant as the corpus grows,
    while each query still walks its top-{GRAPH_NPROBE} lists with the
    multi-entry delta-scored beam. The oracle derives the same k from
    count(*) and replays the identical walk with probe_rank <=
    {GRAPH_NPROBE}."""
    from mercurygate_spark.operators.similarity import (
        scaled_n_centroids,
        train_ivf_centroids,
    )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    k = scaled_n_centroids(e.count())
    cmat = train_ivf_centroids(e, k=k)
    return _ivf_graph_serve(
        spark, e, cmat,
        e_count=GRAPH_E_ME, beam=GRAPH_B_ME, g=GRAPH_G_ME,
        hops=GRAPH_HOPS_ME, n_probe=GRAPH_NPROBE,
    )


GRAPH_ADP_MARGIN_PCT = 11        # probe list 2 iff 100*(d2-d1) <= 11*d1
GRAPH_ADP_B2 = [24, 18, 12, 8]   # per-hop beam, boundary (gated) queries
GRAPH_ADP_B1 = [12, 8, 6, 6]     # per-hop beam, interior queries
_GRAPH_ADP = (GRAPH_ADP_MARGIN_PCT, GRAPH_ADP_B2, GRAPH_ADP_B1)


@query(
    "sim_ivf_graph_adaptive",
    oracle=_ivf_graph_oracle(
        e_count=GRAPH_E_ME, g=GRAPH_G_ME, adaptive=_GRAPH_ADP,
    ),
)
def sim_ivf_graph_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDARY-ADAPTIVE multi-probe graph walk (VERDICT r14 next #1):
    the IMI/ADC margin trick composed with the delta-scored beam
    machinery. Each query assigns to its top-2 lists WITH the exact
    int64 quantized squared distances; the second list is walked ONLY
    when the margin rule 100·(d2−d1) <= {GRAPH_ADP_MARGIN_PCT}·d1
    fires (an integer compare — the engines cannot disagree at the
    bound), and the same gate picks the per-hop ANNEALED beam:
    boundary queries walk {GRAPH_ADP_B2} (wide early hops pick
    basins, narrow late hops refine), interior queries walk
    {GRAPH_ADP_B1} (their 1-list ceiling caps what beam can buy).
    Measured (docs/ivf_graph_recall_r15.json): recall 0.352 at 149.4
    scored candidates/query — above the r14 promoted walk's 0.288 AND
    the uniform-beam n_probe=2 walk's 0.328@135, at 59%% of the flat
    2-list scan's 251.7-candidate cost, meeting the r14 mandate point
    (recall ≥ 0.35 at ≤ 150 cands/query). 84%% of queries gate on
    this corpus (near-uniform embeddings sit close to Voronoi
    boundaries — margin p50 is 7.4%% of d1); on a clustered production
    corpus the gated fraction falls and the policy's saving grows.

    Scale shape: identical to sim_ivf_graph_nprobe — the corpus stays
    single-assigned (no index change), the query-side top-2 assignment
    is one bounded Arrow pass over the query rows, the gate/beam flag
    frame is query-count-bounded and broadcasts, and every hop scores
    only the anti-joined delta. Oracle: the same fully-unrolled walk
    with the margin-gated probe cut and per-hop CASE beam."""
    from mercurygate_spark.operators.similarity import train_ivf_centroids

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    cmat = train_ivf_centroids(e)
    return _ivf_graph_serve(
        spark, e, cmat, e_count=GRAPH_E_ME, g=GRAPH_G_ME, adaptive=_GRAPH_ADP,
    )


@query(
    "sim_ivf_graph_adp_scaled",
    oracle=_ivf_graph_oracle(
        k_expr="(SELECT kk FROM kpar)",
        e_count=GRAPH_E_ME, g=GRAPH_G_ME, adaptive=_GRAPH_ADP,
    ),
)
def sim_ivf_graph_adp_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_graph_adaptive under the LIST-COUNT dial — the
    anchor+dial pair completed for the adaptive geometry (standing
    doctrine): k = scaled_n_centroids(count) holds expected list
    occupancy — and hence graph-build pairs per row — constant as the
    corpus grows, while each query keeps the margin-gated second probe
    and the annealed per-hop beam. The oracle derives the same k from
    count(*) and replays the identical gated walk."""
    from mercurygate_spark.operators.similarity import (
        scaled_n_centroids,
        train_ivf_centroids,
    )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    k = scaled_n_centroids(e.count())
    cmat = train_ivf_centroids(e, k=k)
    return _ivf_graph_serve(
        spark, e, cmat, e_count=GRAPH_E_ME, g=GRAPH_G_ME, adaptive=_GRAPH_ADP,
    )


def _multi_scaled_oracle() -> str:
    """Union-of-tables radius search with count-derived plane width:
    per table t, the bucket is the np-char prefix of table t's seeded
    16-bit string (seeded_signs prefix property, per-table namespaces)
    with np derived from count(*) by the shared integer CASE chain."""
    from mercurygate_spark.operators.similarity import (
        N_TABLES,
        OCC_MAX_PLANES,
        duck_bucket_sql_seeded,
        duck_scaled_np_sql,
    )

    table_cases = " ".join(
        f"WHEN {t} THEN substr({duck_bucket_sql_seeded('embedding', f't{t}', OCC_MAX_PLANES)}, 1, (SELECT np FROM par))"
        for t in range(N_TABLES)
    )
    vals = ", ".join(f"({t})" for t in range(N_TABLES))
    return f"""
    WITH par AS MATERIALIZED (SELECT {duck_scaled_np_sql('embeddings')} AS np),
    b AS MATERIALIZED (
      SELECT vec_id, embedding, t.t AS lsh_table,
             CASE t.t {table_cases} END AS bucket
      FROM embeddings, (VALUES {vals}) AS t(t)
    ), cand AS (
      SELECT DISTINCT q.vec_id AS vec_id_a, c.vec_id AS vec_id_b
      FROM b q JOIN b c
        ON q.lsh_table = c.lsh_table AND q.bucket = c.bucket
       AND q.vec_id < c.vec_id
    ), scored AS (
      SELECT cand.vec_id_a, cand.vec_id_b,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               4) AS cos
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.vec_id_a
      JOIN embeddings c ON c.vec_id = cand.vec_id_b
    )
    SELECT vec_id_a, vec_id_b, cos FROM scored WHERE cos >= {RANGE_TAU}
    """


def _recall_held_oracle() -> str:
    """Both derivations replayed: np from count(*) (integer CASE), T
    from np (integer CASE with Python-precomputed values), buckets as
    np-char prefixes of each table's seeded 16-bit string, tables cut
    by t < T. Identical pair/score/radius chain to the multi key."""
    from mercurygate_spark.operators.similarity import (
        OCC_MAX_PLANES,
        RH_T_MAX,
        duck_bucket_sql_seeded,
        duck_scaled_np_sql,
        duck_tables_for_recall_sql,
    )

    table_cases = " ".join(
        f"WHEN {t} THEN substr({duck_bucket_sql_seeded('embedding', f't{t}', OCC_MAX_PLANES)}, 1, (SELECT np FROM par))"
        for t in range(RH_T_MAX)
    )
    vals = ", ".join(f"({t})" for t in range(RH_T_MAX))
    return f"""
    WITH par AS MATERIALIZED (SELECT {duck_scaled_np_sql('embeddings')} AS np),
    tpar AS MATERIALIZED (SELECT {duck_tables_for_recall_sql('SELECT np FROM par')} AS tt),
    b AS MATERIALIZED (
      SELECT vec_id, embedding, t.t AS lsh_table,
             CASE t.t {table_cases} END AS bucket
      FROM embeddings, (VALUES {vals}) AS t(t)
      WHERE t.t < (SELECT tt FROM tpar)
    ), cand AS (
      SELECT DISTINCT q.vec_id AS vec_id_a, c.vec_id AS vec_id_b
      FROM b q JOIN b c
        ON q.lsh_table = c.lsh_table AND q.bucket = c.bucket
       AND q.vec_id < c.vec_id
    ), scored AS (
      SELECT cand.vec_id_a, cand.vec_id_b,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               4) AS cos
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.vec_id_a
      JOIN embeddings c ON c.vec_id = cand.vec_id_b
    )
    SELECT vec_id_a, vec_id_b, cos FROM scored WHERE cos >= {RANGE_TAU}
    """


@query("sim_range_search_recall_held", oracle=_recall_held_oracle())
def sim_range_search_recall_held(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search with recall HELD as the corpus grows — the
    composition VERDICT r12 next #2 asked for, completing the dial
    story: n_planes = scaled_n_planes(count) keeps expected bucket
    occupancy (per-row COST) constant, and n_tables =
    tables_for_recall(n_planes) inverts the validated collision model
    so a near-duplicate pair (cosine ≥ RH_C_STAR) keeps ≥ RH_TARGET
    union recall at ANY corpus size — instead of the decay the
    occupancy dial alone measured (docs/range_recall_r12.json).

    The price is the theory's, stated not hidden: T grows ≈ N^0.15 at
    the c*=0.95 design point, so the 10× probe pays ~1.4× over linear
    (scripts/range_recall_held_probe.py measures BOTH the held recall
    on planted near-dup pairs and that cost exponent). Both
    derivations are integer CASE chains in the oracle — the float
    model runs once, in Python, shared by both engines.

    Scale shape: identical to sim_range_search_multi_scaled — one
    Arrow pass emits T× bucket rows, (table, bucket)-equi self-join,
    pair-dedupe before the cosine, pushed radius filter."""
    from mercurygate_spark.operators.similarity import (
        OCC_MAX_PLANES,
        lsh_bucket_multi,
        scaled_n_planes,
        tables_for_recall,
    )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    np_ = scaled_n_planes(e.count())
    n_tables = tables_for_recall(np_)
    b = lsh_bucket_multi(
        e, "vec_id", "embedding", n_tables, np_, sig_width=OCC_MAX_PLANES
    )
    # norms once per vector, not per surviving pair (cosine_pre;
    # bit-identical — the dedup keeps one row per pair, all carrying
    # the same vectors/norms)
    q = b.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("qv"),
        "lsh_table", "bucket",
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    c = b.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("cv"),
        "lsh_table", "bucket",
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    pairs = (
        q.join(c, ["lsh_table", "bucket"])
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    scored = pairs.select(
        "vec_id_a",
        "vec_id_b",
        (
            F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**4 + F.lit(0.5)
            ) / 10**4
        ).alias("cos"),
    )
    return scored.where(F.col("cos") >= RANGE_TAU)


@query("sim_range_search_multi_scaled", oracle=_multi_scaled_oracle())
def sim_range_search_multi_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION radius search: both measured dials composed.
    Plane count per table = scaled_n_planes(count) — constant expected
    occupancy, so per-row candidate work is bounded at any corpus size
    (the COST dial, docs/scale_probe_r12.json) — and candidates are
    the UNION of 4 independent seeded tables, the RECALL dial the
    r9/r12 evidence quantifies (a true pair is missed only if ALL
    tables split it; docs/range_recall_r12.json measures the
    single-table recall the union amplifies). Unique pairs dedupe
    BEFORE the cosine, so each pays one dot product however many
    tables matched it.

    Scale shape: one Arrow pass emits 4× bucket rows, the self-join
    is (table, bucket)-equi — never all-pairs — and the dedupe +
    radius filter reduce on 16-byte id pairs. At a 1000-executor
    cluster (table, bucket) is the shuffle key and each table's
    partitions are independent."""
    from mercurygate_spark.operators.similarity import (
        N_TABLES,
        OCC_MAX_PLANES,
        lsh_bucket_multi,
        scaled_n_planes,
    )

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    np_ = scaled_n_planes(e.count())
    b = lsh_bucket_multi(
        e, "vec_id", "embedding", N_TABLES, np_, sig_width=OCC_MAX_PLANES
    )
    # norms once per vector, not per surviving pair (cosine_pre;
    # bit-identical — the dedup keeps one row per pair, all carrying
    # the same vectors/norms)
    q = b.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("qv"),
        "lsh_table", "bucket",
    ).withColumn("qn", norm(_as_double(F.col("qv"))))
    c = b.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("cv"),
        "lsh_table", "bucket",
    ).withColumn("cn", norm(_as_double(F.col("cv"))))
    pairs = (
        q.join(c, ["lsh_table", "bucket"])
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    scored = pairs.select(
        "vec_id_a",
        "vec_id_b",
        (
            F.floor(
                cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
                * 10**4 + F.lit(0.5)
            ) / 10**4
        ).alias("cos"),
    )
    return scored.where(F.col("cos") >= RANGE_TAU)
