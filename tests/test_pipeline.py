"""Pipeline tests: materialize→sample→export chain (SURVEY.md §5).

Asserts the reference's pipeline invariants: sample rowcount =
min(500, |result|), schema equality between result and sample tables,
seed determinism across reruns, SQLite export round-trip.
"""

from __future__ import annotations

import os
import sqlite3
import uuid

import pytest
from pyspark import StorageLevel

from ex9_big_data_gal_drimer_spark.catalog import table
from ex9_big_data_gal_drimer_spark.operators.sampling import (
    sample_by_fractions,
    seeded_sample_n,
    stratified_sample,
)
from ex9_big_data_gal_drimer_spark.pipeline import (
    export_samples_to_sqlite,
    generate_documentation,
    materialize_query,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def materialized(spark):
    orders = table(spark, SF_DIR, "orders")
    results_t, sample_t = materialize_query(spark, "test_orders", orders)
    yield results_t, sample_t
    spark.sql(f"DROP TABLE IF EXISTS {results_t}")
    spark.sql(f"DROP TABLE IF EXISTS {sample_t}")


def test_materialize_counts_and_schema(spark, materialized):
    results_t, sample_t = materialized
    orders = table(spark, SF_DIR, "orders")
    full = spark.table(results_t)
    sample = spark.table(sample_t)
    assert full.count() == orders.count()
    assert sample.count() == min(500, orders.count())
    assert full.schema == sample.schema


def test_seeded_sample_determinism(spark):
    orders = table(spark, SF_DIR, "orders")
    a = sorted(r.o_orderkey for r in seeded_sample_n(orders, 100, seed=7).collect())
    b = sorted(r.o_orderkey for r in seeded_sample_n(orders, 100, seed=7).collect())
    c = sorted(r.o_orderkey for r in seeded_sample_n(orders, 100, seed=8).collect())
    assert a == b, "same seed must give the same sample"
    assert a != c, "different seeds should differ"
    assert len(a) == 100


def test_stratified_sample_quota(spark):
    orders = table(spark, SF_DIR, "orders")
    sample = stratified_sample(orders, ["o_orderstatus"], 50, seed=42)
    counts = {
        r.o_orderstatus: r["count"]
        for r in sample.groupBy("o_orderstatus").count().collect()
    }
    full_counts = {
        r.o_orderstatus: r["count"]
        for r in orders.groupBy("o_orderstatus").count().collect()
    }
    for status, n in counts.items():
        assert n == min(50, full_counts[status])


def test_sample_by_fractions(spark):
    orders = table(spark, SF_DIR, "orders")
    sample = sample_by_fractions(orders, "o_orderstatus", {"F": 0.1, "O": 0.1}, seed=42)
    # P status never sampled; fractions approximate
    statuses = {r.o_orderstatus for r in sample.select("o_orderstatus").distinct().collect()}
    assert "P" not in statuses


def test_sqlite_export_roundtrip(spark, materialized, tmp_path):
    _, sample_t = materialized
    db = str(tmp_path / "serve.db")
    exported = export_samples_to_sqlite(spark, db)
    assert sample_t in exported
    with sqlite3.connect(db) as conn:
        n = conn.execute(f"SELECT COUNT(*) FROM {sample_t}").fetchone()[0]
    assert n == spark.table(sample_t).count()


def test_documentation(spark, materialized, tmp_path):
    out = generate_documentation(spark, str(tmp_path / "docs.md"))
    text = open(out).read()
    assert "test_orders_results" in text
    assert "o_orderkey" in text


def test_materialize_observed_metrics(spark, tmp_path):
    """Write-time Observation: the row count arrives with the write
    action (no second scan) and matches the materialized table, not
    the smaller sample written concurrently."""
    from ex9_big_data_gal_drimer_spark.catalog import load_table
    from ex9_big_data_gal_drimer_spark.pipeline import materialize_query

    from conftest import SF_DIR

    nation = load_table(spark, SF_DIR, "nation")
    metrics: dict = {}
    results_t, sample_t = materialize_query(
        spark, "test_obs_nation", nation, sample_rows=10, metrics=metrics
    )
    try:
        assert metrics["rows"] == spark.table(results_t).count() == 25
        assert spark.table(sample_t).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {results_t}")
        spark.sql(f"DROP TABLE IF EXISTS {sample_t}")


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn`` runs, counted through a job group (jobs
    on worker threads count only if the group propagates to them)."""
    sc = spark.sparkContext
    gid = f"test-pipeline-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture
def sample_db(spark):
    """A scratch database as the current one, so the pipeline sinks see
    only the tables a test creates there (plus session temp views)."""
    db = "test_pipeline_jobs"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db}")
    previous = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(db)

    def add_samples(first: int, last: int) -> None:
        for i in range(first, last):
            spark.range(10 * (i + 1)).write.saveAsTable(f"t{i}_sample")

    try:
        yield add_samples
    finally:
        spark.catalog.setCurrentDatabase(previous)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_export_runs_one_job_per_table(spark, sample_db, tmp_path):
    sample_db(0, 6)
    exported: list = []
    jobs = _jobs(
        spark,
        lambda: exported.extend(export_samples_to_sqlite(spark, str(tmp_path / "s.db"))),
    )
    assert {f"t{i}_sample" for i in range(6)} <= set(exported)
    assert jobs == len(exported)
    with sqlite3.connect(tmp_path / "s.db") as conn:
        assert conn.execute("SELECT COUNT(*) FROM t5_sample").fetchone()[0] == 60


def test_documentation_counts_samples_in_one_pass(spark, sample_db, tmp_path):
    """The docs' job count does not grow with the number of sample
    tables, and results tables are never scanned for a row count."""
    out = str(tmp_path / "docs.md")
    sample_db(0, 2)
    spark.range(7).write.saveAsTable("t_results")
    two = _jobs(spark, lambda: generate_documentation(spark, out))
    sample_db(2, 6)
    six = _jobs(spark, lambda: generate_documentation(spark, out))
    assert two == six <= 2
    text = open(out).read()
    for i in range(6):
        assert f"## t{i}_sample\n\nRows: {10 * (i + 1)}\n" in text
    assert "## t_results\n\nRows: (not computed" in text


def test_materialize_runs_two_jobs(spark):
    nation = table(spark, SF_DIR, "nation").cache()
    nation.count()
    try:
        jobs = _jobs(spark, lambda: materialize_query(spark, "test_jobs_nation", nation))
    finally:
        nation.unpersist()
        spark.sql("DROP TABLE IF EXISTS test_jobs_nation_results")
        spark.sql("DROP TABLE IF EXISTS test_jobs_nation_sample")
    assert jobs == 2


def test_same_seed_writes_identical_samples(spark):
    orders = table(spark, SF_DIR, "orders")
    names = ("test_seed_a", "test_seed_b", "test_seed_c")
    seeds = (7, 7, 8)
    try:
        samples = [
            sorted(spark.table(materialize_query(spark, n, orders, seed=s)[1]).collect())
            for n, s in zip(names, seeds)
        ]
    finally:
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}_results")
            spark.sql(f"DROP TABLE IF EXISTS {n}_sample")
    assert len(samples[0]) == 500 < orders.count()
    assert samples[0] == samples[1]
    assert samples[0] != samples[2]


def test_failed_sample_write_raises_and_releases_cache(spark):
    """A stray file where the sample table's data would go makes only
    the sample write fail: the error surfaces, the results write still
    completes, and the cache is gone."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    stray = os.path.join(warehouse, "test_fail_sample")
    os.makedirs(warehouse, exist_ok=True)
    open(stray, "w").close()
    nation = table(spark, SF_DIR, "nation")
    try:
        with pytest.raises(Exception, match="test_fail_sample"):
            materialize_query(spark, "test_fail", nation)
        assert nation.storageLevel == StorageLevel.NONE
        assert spark.table("test_fail_results").count() == 25
    finally:
        os.remove(stray)
        spark.sql("DROP TABLE IF EXISTS test_fail_results")
        spark.sql("DROP TABLE IF EXISTS test_fail_sample")


@pytest.mark.xfail(
    strict=True,
    reason="known defect: with metrics, materialize_query unpersists the "
    "observed plan, not the cached one, so the cached result stays",
)
def test_observed_materialize_releases_cache(spark):
    nation = table(spark, SF_DIR, "nation").filter("n_regionkey > 0")
    try:
        materialize_query(spark, "test_obs_release", nation, metrics={})
        assert nation.storageLevel == StorageLevel.NONE
    finally:
        nation.unpersist()
        spark.sql("DROP TABLE IF EXISTS test_obs_release_results")
        spark.sql("DROP TABLE IF EXISTS test_obs_release_sample")
