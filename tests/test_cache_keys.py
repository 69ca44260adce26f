"""Pins for the ingest-once cache-key and model-memo contracts
(code-review round 4): tmp-backed stores must key on the FULL dataset
path, and the session k-means memo must train once per
(session, sf_dir, k, n_iter).
"""

from __future__ import annotations

import os

from ex9_big_data_gal_drimer_spark.catalog import path_tag


def test_path_tag_distinguishes_same_basename_dirs(tmp_path):
    """Two corpora both named 'sf0.01' under different parents must
    map to DIFFERENT layout/model store locations — the stale-cache
    collision the basename-only keying allowed."""
    a = tmp_path / "corpus_a" / "sf0.01"
    b = tmp_path / "corpus_b" / "sf0.01"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    ta, tb = path_tag(str(a)), path_tag(str(b))
    assert ta != tb
    # both still carry the human-readable basename prefix
    assert ta.startswith("sf0_01_") and tb.startswith("sf0_01_")
    # stable across calls and trailing-slash spelling
    assert path_tag(str(a) + "/") == ta


def test_trained_centroids_memoizes_per_session(spark):
    """Second call with identical (session, sf_dir, k, n_iter) must
    return the SAME relation without retraining (the memo is the
    train-once-serve-many contract knn_ivf_trained/semdedup share)."""
    from ex9_big_data_gal_drimer_spark.plans.queries_semdedup import trained_centroids

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    first = trained_centroids(spark, sf_dir, k=8, n_iter=1)
    second = trained_centroids(spark, sf_dir, k=8, n_iter=1)
    assert second is first
    # different hyperparameters miss the memo
    other = trained_centroids(spark, sf_dir, k=4, n_iter=1)
    assert other is not first
    assert first.count() == 8 and other.count() == 4
