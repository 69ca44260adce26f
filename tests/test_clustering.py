"""k-means + SemDeDup operator tests (operators/clustering.py).

Synthetic well-separated clusters pin correctness (assignment
recovery, planted near-dup detection, no cross-cluster pairs);
the registered query is pinned for schema, accounting, and
determinism across rebuilds.
"""

from __future__ import annotations

import pytest

from ex9_big_data_gal_drimer_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    semdedup_pairs,
)
from ex9_big_data_gal_drimer_spark.plans import QUERIES

from conftest import SF_DIR


def _synthetic(spark):
    """Three well-separated direction clusters in 4-d, 5 vectors each;
    ids 0-4 cluster A, 10-14 cluster B, 20-24 cluster C.  Vectors 20
    and 21 are near-identical (the planted semantic dup)."""
    rows = []
    for i in range(5):
        eps = 0.1 * i
        rows.append((i, [1.0, eps, 0.0, 0.0]))
        rows.append((10 + i, [0.0, 1.0, eps, 0.0]))
    rows.append((20, [0.0, 0.0, 1.0, 0.5]))
    rows.append((21, [0.0, 0.0, 1.0, 0.501]))
    for i in range(2, 5):
        rows.append((20 + i, [0.0, 0.05 * i, 1.0, 0.3]))
    return spark.createDataFrame(rows, "vec_id LONG, v ARRAY<DOUBLE>")


def test_kmeans_recovers_planted_clusters(spark):
    emb = _synthetic(spark)
    cents = kmeans_fit(emb, k=3, n_iter=4)
    assert cents.count() == 3
    assigned = {r["vec_id"]: r["centroid_id"] for r in assign_clusters(emb, cents).collect()}
    groups = [
        {assigned[i] for i in range(5)},
        {assigned[10 + i] for i in range(5)},
        {assigned[20 + i] for i in range(5)},
    ]
    # each planted cluster maps to exactly one centroid, all distinct
    assert all(len(g) == 1 for g in groups)
    assert len(groups[0] | groups[1] | groups[2]) == 3


def test_semdedup_finds_planted_pair_within_cluster_only(spark):
    emb = _synthetic(spark)
    cents = kmeans_fit(emb, k=3, n_iter=4)
    assigned = assign_clusters(emb, cents)
    pairs = semdedup_pairs(assigned, threshold=0.9999).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(20, 21)]
    # relaxed threshold still never pairs across planted clusters
    loose = semdedup_pairs(assigned, threshold=0.5).collect()
    assert all(p["id_a"] // 10 == p["id_b"] // 10 for p in loose)


def test_kmeans_improves_inertia(spark):
    """Cosine inertia (sum of best similarities) must not decrease
    round-over-round — the Lloyd convergence property."""
    emb = _synthetic(spark)
    sims = []
    for n_iter in (0, 2, 4):
        cents = kmeans_fit(emb, k=3, n_iter=n_iter)
        from pyspark.sql import functions as F
        from ex9_big_data_gal_drimer_spark.functions import cosine_similarity

        best = (
            emb.crossJoin(F.broadcast(cents))
            .select("vec_id", cosine_similarity(F.col("v"), F.col("cvec")).alias("s"))
            .groupBy("vec_id")
            .agg(F.max("s").alias("best"))
            .agg(F.sum("best").alias("total"))
            .collect()[0]["total"]
        )
        sims.append(best)
    assert sims[1] >= sims[0] - 1e-9
    assert sims[2] >= sims[1] - 1e-9


def test_trained_ivf_recall_at_least_random(spark):
    """Trained centroids must not lose recall vs the random spherical
    quantizer at the same nprobe budget — the 'first knob' claim in
    ivf_cosine_topk's docstring."""
    from pyspark.sql import functions as F

    from ex9_big_data_gal_drimer_spark.catalog import table
    from ex9_big_data_gal_drimer_spark.operators.similarity import (
        brute_force_topk,
        ivf_cosine_topk,
    )

    emb = table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    trained = ivf_cosine_topk(
        emb, queries, dim=64, k=5, nprobe=4, centroids=kmeans_fit(emb, k=8, n_iter=3)
    ).collect()
    random_c = ivf_cosine_topk(
        emb, queries, dim=64, k=5, num_centroids=8, nprobe=4
    ).collect()

    def mean_recall(approx):
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        for r in approx:
            approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls = [
            len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
            for q in exact_sets
        ]
        return sum(recalls) / len(recalls)

    r_trained, r_random = mean_recall(trained), mean_recall(random_c)
    assert r_trained >= r_random - 1e-9, f"trained {r_trained} < random {r_random}"


def test_model_store_roundtrip_and_equality(spark, tmp_path, monkeypatch):
    """knn_ivf_model_store: the model store is built once and loaded by
    a later session memo instead of refitting, the stored centroids
    equal a fresh kmeans_fit, and the stored-model IVF result equals
    the fresh-trained one."""
    from ex9_big_data_gal_drimer_spark import catalog
    from ex9_big_data_gal_drimer_spark.plans import queries_semdedup

    monkeypatch.setattr(catalog, "STORE_ROOT", str(tmp_path))
    fits = []

    def counting_fit(*args, **kwargs):
        fits.append(kwargs)
        return kmeans_fit(*args, **kwargs)

    monkeypatch.setattr(queries_semdedup, "kmeans_fit", counting_fit)
    first = sorted(map(tuple, QUERIES["knn_ivf_model_store"](spark, SF_DIR).collect()))
    assert len(fits) == 1
    catalog.release_caches(spark)  # drops the session memo of the loaded model
    second = sorted(map(tuple, QUERIES["knn_ivf_model_store"](spark, SF_DIR).collect()))
    assert len(fits) == 1, "the second session must load the store, not refit"
    assert first == second and first

    [store] = tmp_path.glob("kmeans_model_k8_i3/*/*")
    stored = sorted(spark.read.parquet(str(store)).collect())
    emb = queries_semdedup._embeddings(spark, SF_DIR)
    fresh = sorted(kmeans_fit(emb, k=8, n_iter=3).collect())
    assert [r["centroid_id"] for r in stored] == [r["centroid_id"] for r in fresh]
    assert len(stored) == 8
    for s, f in zip(stored, fresh):
        assert s["cvec"] == pytest.approx(f["cvec"], rel=1e-9, abs=1e-12)
    trained = QUERIES["knn_ivf_trained"](spark, SF_DIR).collect()
    assert first == sorted(map(tuple, trained))


def test_kmeans_fit_releases_its_persist_on_failure(spark):
    """Mixed-dimension vectors make np.stack raise inside a Lloyd
    round; the fit's persisted corpus must still be released."""
    rows = [(i, [1.0, 0.5 * i, 0.0]) for i in range(3)]
    rows += [(10 + i, [0.0, 1.0]) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id LONG, v ARRAY<DOUBLE>").coalesce(1)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(Exception):
        kmeans_fit(emb, k=2, n_iter=1)
    assert jsc.getPersistentRDDs().size() == before


def test_semdedup_query_schema_and_accounting(spark):
    df = QUERIES["semdedup_embeddings"](spark, SF_DIR)
    rows = df.collect()
    assert df.columns == ["cluster_id", "n_vectors", "n_close_pairs", "max_pair_sim"]
    assert 1 <= len(rows) <= 8
    import duckdb

    total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_vectors"] for r in rows) == total
    again = QUERIES["semdedup_embeddings"](spark, SF_DIR).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
