"""Scale-path LLM operators: LSH dedup & similarity (SURVEY.md §2.11).

These are the 100 TB variants of the oracle-checked exact operators in
queries_llm.  They are registered WITHOUT oracle SQL (driver records a
rows-only check): the hash families (xxhash64, seeded hyperplanes)
are not expressible in DuckDB SQL.  Their correctness is instead
pinned by tests/test_scale_ops.py, which verifies them against the
exact operators (recall on the known near-dup/neighbor sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import local_df, query_persist, table
from ..operators.dedup import minhash_lsh_pairs, simhash_pairs
from ..operators.similarity import lsh_cosine_topk
from .registry import register

#: Embedding width of the testdata `embeddings.embedding` column
#: (TESTDATA.md; fixed across scale factors).  A constant, not a probe:
#: running `.first()` here would launch a Spark job during query
#: *construction* — in a real deployment this comes from table metadata.
EMBEDDING_DIM = 64


@register("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path: MinHash-banded-LSH candidates + exact-Jaccard
    verification.  Candidate generation is an equi-join on band
    buckets — no quadratic blow-up at any scale."""
    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, num_hashes=16, num_bands=4, shingle_k=3, threshold=0.5
    ).orderBy("doc_id_a", "doc_id_b")


@register("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 alternative: 64-bit SimHash over 3-word shingles,
    block-permutation candidate join, Hamming-distance verify."""
    docs = table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3, num_blocks=4).orderBy(
        "doc_id_a", "doc_id_b"
    )


@register("knn_lsh_cosine")
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: random-hyperplane LSH bucketing + exact re-rank
    of candidates only."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return lsh_cosine_topk(emb, queries, dim=EMBEDDING_DIM, k=5).orderBy(
        "query_id", "rnk"
    )


@register(
    "knn_vectorized_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
    ), pairs AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(q.qv, e.v), 4) AS sim
        FROM q, e
        WHERE e.vec_id != q.query_id
    ), ranked AS (
        SELECT query_id, vec_id AS neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, vec_id) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, sim, rnk
    FROM ranked
    WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
)
def knn_vectorized_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 Arrow path: brute-force cosine top-5 as a numpy matmul over
    Arrow batches (mapInPandas) — exact, so it shares the brute-force
    DuckDB oracle (round-2 verdict ask #7).  This is the documented
    "Python unavoidable → Arrow-batched, never per-row" tier: for wide
    embeddings the BLAS matmul beats the element-fold JVM expression.
    The 10-vector query side ships in the task closure (driver collect
    of 10 rows — the corpus is the distributed side)."""
    from ..operators.similarity import vectorized_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries_pdf = (
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .toPandas()
    )
    return vectorized_topk(emb, queries_pdf, k=5, id_col="vec_id", vec_col="v").orderBy(
        "query_id", "rnk"
    )


@register("ann_recall_report")
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evidencing ANN quality metric: recall@5 of EVERY
    approximate path (hyperplane-LSH, IVF, int8-SQ, PQ-ADC, IVF-PQ)
    against the exact brute-force neighbors, computed IN the engine
    as a join-overlap ratio — the property tests/test_scale_ops.py +
    test_pq.py pin locally, surfaced as a driver row (rows-only: the
    approximate sides are seeded-RNG engine-specific).  At 100 TB
    this is the continuous-monitoring query an ANN index ships with:
    ground truth on a small query sample, one row per method — and it
    probes the SERVED model state (the session's trained codebooks)
    rather than retraining five indexes per run."""
    from ..operators.pq import ivfpq_topk, pq_adc_topk
    from ..operators.similarity import (
        brute_force_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
        sq_cosine_topk,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # Each leg is one method's top-5 (query_id, neighbor_id) set, at
    # most k×|queries| = 50 rows, rebuilt every run as a query cache.
    searches = {
        "exact": brute_force_topk(emb, queries, k=5),
        "lsh": lsh_cosine_topk(emb, queries, dim=EMBEDDING_DIM, k=5),
        "ivf": ivf_cosine_topk(
            emb, queries, dim=EMBEDDING_DIM, k=5, num_centroids=8, nprobe=4
        ),
        "sq": sq_cosine_topk(emb, queries, k=5, rerank_factor=3),
        "pq": pq_adc_topk(
            emb, queries, dim=EMBEDDING_DIM, m=16, k=5, rerank_factor=4,
            cache_key=sf_dir,
        ),
        "ivfpq": ivfpq_topk(
            emb, queries, dim=EMBEDDING_DIM, m=16, k=5, num_centroids=8,
            nprobe=4, rerank_factor=4, cache_key=sf_dir,
        ),
    }
    methods = {
        m: query_persist(df.select("query_id", "neighbor_id"))
        for m, df in searches.items()
    }
    exact = methods.pop("exact")
    # Denominator as a broadcast 1-row plan (J1 pattern) — an
    # `exact.count()` here would launch a job during construction.
    denom = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    # ONE tagged union + ONE join + ONE aggregation, instead of five
    # separate semi-join/agg/crossJoin legs: the method tag rides the
    # rows, so all five recalls come out of a single groupBy (measured
    # 7.0 s → 4.0 s at sf0.1 — five fewer aggregation pipelines and
    # final-stage barriers).  Both sides are unique (query, neighbor)
    # pairs by construction (ranked top-k), so the inner-join count
    # equals the former semi-join count.
    union = None
    for name, approx in methods.items():
        leg = approx.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        union = leg if union is None else union.unionByName(leg)
    hits = (
        union.join(exact, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # left join from the method list so a 0-hit method still reports
    names = local_df(spark, [(m,) for m in methods], "method string")
    return (
        F.broadcast(names)
        .join(hits, "method", "left")
        .crossJoin(F.broadcast(denom))
        .select(
            "method",
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall_at_5"),
        )
        .orderBy("method")
    )


@register("knn_sq_cosine")
def knn_sq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #3: int8 scalar quantization + exact re-rank.
    Approximate scoring runs on per-vector symmetric int8
    representations (cosine is scale-invariant, so quantization only
    adds ~1/127 rounding noise); the exact pass re-ranks the top
    rerank_factor×k candidates on full precision.  The scale win is
    an ~8× smaller corpus representation on scan/shuffle/cache.
    Rows-only (quantization rounding is engine-specific); recall vs
    brute force pinned by tests/test_scale_ops.py."""
    from ..operators.similarity import sq_cosine_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return sq_cosine_topk(emb, queries, k=5, rerank_factor=3).orderBy(
        "query_id", "rnk"
    )


@register("knn_ivf_cosine")
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #2: inverted-file (IVF) ANN — seeded spherical
    quantizer partitions the corpus into centroid lists, queries probe
    their nprobe nearest lists, exact re-rank inside probed lists
    only.  Complements knn_lsh_cosine: IVF bounds work per query to
    ~nprobe/num_centroids of the corpus and swaps to trained centroids
    without a plan change.  Rows-only (seeded RNG); recall vs brute
    force pinned by tests/test_scale_ops.py."""
    from ..operators.similarity import ivf_cosine_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return ivf_cosine_topk(
        emb, queries, dim=EMBEDDING_DIM, k=5, num_centroids=8, nprobe=4
    ).orderBy("query_id", "rnk")


@register("knn_pq_adc")
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 compression path #2: Product Quantization + asymmetric
    distance (operators/pq.py) — dim-64 doubles (512 B) become m=16
    byte codes (32× smaller than raw, 4× past int8 SQ), the ADC scan
    reads only the code table (m lookups+adds per vector), and an
    exact cosine re-rank over rerank_factor·k candidates restores
    ranking quality.  Codebooks train driver-side on a deterministic
    hash-ordered sample (model-sized — the FAISS practice).
    Rows-only (codebook training is engine-specific); recall vs
    brute force pinned by tests/test_pq.py."""
    from ..operators.pq import pq_adc_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return pq_adc_topk(
        emb, queries, dim=EMBEDDING_DIM, m=16, k=5, rerank_factor=4,
        cache_key=sf_dir,
    ).orderBy("query_id", "rnk")


@register("knn_ivfpq_cosine")
def knn_ivfpq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 composed serving shape: IVF + PQ + ADC + exact re-rank
    (operators/pq.py::ivfpq_topk) — the FAISS IndexIVFPQ pattern.
    IVF probing bounds WHICH vectors are scanned (~nprobe/centroids
    of the corpus), PQ codes bound WHAT is read per scanned vector
    (16 bytes), exact cosine re-ranks the candidate sliver.  This is
    the billion-scale default; the standalone IVF/PQ/SQ/LSH tiers
    are its ablations.  Rows-only; recall pinned by tests/test_pq.py."""
    from ..operators.pq import ivfpq_topk

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return ivfpq_topk(
        emb, queries, dim=EMBEDDING_DIM, m=16, k=5, num_centroids=8,
        nprobe=4, rerank_factor=4, cache_key=sf_dir,
    ).orderBy("query_id", "rnk")
