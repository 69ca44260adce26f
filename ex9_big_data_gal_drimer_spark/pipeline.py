"""Batch ETL pipeline: materialize → sample → export → document.

Reproduces the reference's end-to-end lifecycle (SURVEY.md §3.1,
reference main.py:239-338,370-399) with the redundancies removed:

- reference: each query executes twice (fetchall + CTAS) and the CSV
  is re-scanned per query.  Here: one logical plan per query, cached
  across the two sinks, executed once per sink action.
- reference: sample rows round-trip DuckDB→pandas→DuckDB→SQLite.
  Here: the sample is a DataFrame derived from the cached result;
  export happens at the already-small (≤500 rows) boundary.

Sinks (SURVEY.md §2.1): S3 CTAS → ``saveAsTable`` (Parquet tables in
the warehouse), R1 seeded sample tables, S9 SQLite export via
pandas (the serving DB stays tiny by construction), S7/S8/S12 catalog
introspection → markdown docs.

Job budget of one pass (pinned by tests/test_pipeline.py):

- 2 jobs per materialized query: the results write and the sample
  write.  The two sinks read the same cached plan and neither needs
  the other's output, so they run concurrently: about half of each
  write's wall time is driver work outside its job, which the other
  write overlaps.
- 1 job per exported sample table (its ``toPandas`` read; the reads
  run concurrently, the SQLite writes serially).
- 2 jobs for the docs: one union-and-count over every sample table.
  Results tables report catalog statistics and are never scanned.

Table names come from ``SHOW TABLES``, a driver-side command;
``spark.catalog.listTables()`` runs several Spark jobs per call (one,
plus one per partition its local iterator walks).
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
import sqlite3
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.sampling import seeded_sample_n

SAMPLE_ROWS = 500
SAMPLE_SEED = 42


def _table_names(spark: SparkSession) -> list[str]:
    """Tables and temp views of the current database, listed by the
    driver-side ``SHOW TABLES`` command (no Spark job)."""
    return [r.tableName for r in spark.sql("SHOW TABLES").collect()]


def _run_concurrently(
    spark: SparkSession,
    thunks: Sequence[Callable[[], object]],
    max_workers: int | None = None,
) -> list:
    """Run ``thunks`` on threads and return their results in order.

    Each thunk is wrapped on the calling thread, so every worker gets
    its own copy of the caller's local properties (job group, job
    tags, SQL execution id slot).  All thunks finish before the first
    failure, in list order, is re-raised."""
    wrapped = [inheritable_thread_target(spark)(fn) for fn in thunks]
    with ThreadPoolExecutor(max_workers=max_workers or len(wrapped)) as pool:
        futures = [pool.submit(fn) for fn in wrapped]
    return [f.result() for f in futures]


def materialize_query(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    sample_rows: int = SAMPLE_ROWS,
    seed: int = SAMPLE_SEED,
    metrics: dict | None = None,
) -> tuple[str, str]:
    """CTAS the full result + a seeded ≤n-row sample table.

    `{name}_results` and `{name}_sample` land in the session warehouse
    as Parquet tables (reference main.py:265-289, minus the double
    execution: the result plan is cached once, both sinks read it).

    Pass a dict as ``metrics`` to receive observed write-time metrics
    (``rows``): an `Observation` over the cached result rides the write
    actions, so the count costs nothing extra — no separate
    ``df.count()`` pass (at 100 TB a post-hoc count is a second full
    scan).

    The two writes run concurrently; if either fails, both finish and
    the first failure is raised.
    """
    from pyspark.sql import Observation

    results_table = f"{name}_results"
    sample_table = f"{name}_sample"
    df = df.cache()
    obs: Observation | None = None
    if metrics is not None:
        obs = Observation(f"{name}_write_metrics")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    try:
        spark.sql(f"DROP TABLE IF EXISTS {results_table}")
        spark.sql(f"DROP TABLE IF EXISTS {sample_table}")
        # a killed prior process can leave the managed location on disk
        # with no catalog entry; saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS — clear such orphans
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        warehouse = warehouse.removeprefix("file:")
        for t in (results_table, sample_table):
            loc = os.path.join(warehouse, t.lower())
            if warehouse and os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)
        sample = seeded_sample_n(df, sample_rows, seed)
        _run_concurrently(spark, [
            lambda: df.write.mode("overwrite").saveAsTable(results_table),
            lambda: sample.write.mode("overwrite").saveAsTable(sample_table),
        ])
        if obs is not None:
            metrics.update(obs.get)
    finally:
        # Known defect: with ``metrics``, ``df`` is the observed plan,
        # which is not itself cached, so the cached result stays in
        # the session until ``catalog.release_caches`` runs.
        df.unpersist()
    return results_table, sample_table


def run_pipeline(
    spark: SparkSession,
    queries: Mapping[str, Callable[[SparkSession, str], DataFrame]],
    sf_dir: str,
    metrics: dict | None = None,
) -> dict[str, tuple[str, str]]:
    """Materialize every query; returns {name: (results, sample)}.

    Pass a dict as ``metrics`` to receive each query's write-time
    metrics as ``{name: {"rows": n}}`` (see :func:`materialize_query`).

    Releases all session caches afterwards: the dedup/similarity
    operators cache their signature frames internally, and across a
    long-lived session those would otherwise accumulate one entry per
    distinct input (ADVICE r1)."""
    from .catalog import release_caches

    try:
        return {
            name: materialize_query(
                spark,
                name,
                fn(spark, sf_dir),
                metrics=None if metrics is None else metrics.setdefault(name, {}),
            )
            for name, fn in queries.items()
        }
    finally:
        release_caches(spark)


def export_samples_to_sqlite(
    spark: SparkSession, sqlite_path: str, table_filter: str = "_sample"
) -> list[str]:
    """Export every sample table to a SQLite serving DB (S9).

    The reference ships ``small_tables.db`` the same way
    (main.py:300-338).  Tables are ≤SAMPLE_ROWS rows by construction,
    so the pandas hop is the right tool — a JDBC writer would add a
    jar dependency to move kilobytes.  The reads run concurrently, at
    most one per default-parallelism slot; SQLite is written serially.
    """
    os.makedirs(os.path.dirname(sqlite_path) or ".", exist_ok=True)
    exported = [t for t in _table_names(spark) if table_filter in t]
    frames = _run_concurrently(
        spark,
        [lambda t=t: spark.table(t).toPandas() for t in exported],
        max_workers=spark.sparkContext.defaultParallelism,
    )
    with sqlite3.connect(sqlite_path) as conn:
        for t, pdf in zip(exported, frames):
            pdf.to_sql(t, conn, if_exists="replace", index=False)
    return exported


def generate_documentation(spark: SparkSession, out_path: str) -> str:
    """Catalog docs: table list, row counts, schemas → markdown.

    Reference main.py:340-399 via information_schema/PRAGMA; here
    SHOW TABLES and each table's schema.  Exact counts are computed
    only for the bounded ``_sample`` tables (≤SAMPLE_ROWS by
    construction), all in one union-and-count pass; other tables use
    the catalog's stored statistics when available — scanning every
    result table just to print a row count is the kind of hidden full
    pass that hurts at scale.
    """
    names = sorted(_table_names(spark))
    samples = [t for t in names if t.endswith("_sample")]
    counts: dict[str, int] = {}
    if samples:
        tagged = [spark.table(t).select(F.lit(t).alias("name")) for t in samples]
        counts = {
            r["name"]: r["count"]
            for r in reduce(DataFrame.unionAll, tagged).groupBy("name").count().collect()
        }
    lines = [
        "# Database documentation",
        "",
        f"Generated: {datetime.datetime.now(datetime.timezone.utc):%Y-%m-%d %H:%M:%S} UTC",
        "",
    ]
    for t in names:
        df = spark.table(t)
        if t.endswith("_sample"):
            rows = str(counts.get(t, 0))
        else:
            stats = spark.sql(f"DESCRIBE EXTENDED {t}").collect()
            detail = {r.col_name: r.data_type for r in stats}
            m = re.search(r"(\d+) rows", detail.get("Statistics", "") or "")
            rows = m.group(1) if m else "(not computed — run ANALYZE TABLE)"
        lines += [f"## {t}", "", f"Rows: {rows}", "", "| column | type |", "|---|---|"]
        lines += [f"| {f.name} | {f.dataType.simpleString()} |" for f in df.schema.fields]
        lines.append("")
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    return out_path
