"""The three workloads: what one op is, how its result is checked, and
which layer metrics it records.

- ``hotels_pipeline``: the paper's own pipeline over a seeded hotels
  CSV.  The only workload that calls ``sources.csv``, the ``pipeline``
  sinks, ``viz`` and ``app``.
- ``interactive_queries``: short registered queries whose time is the
  per-action floor (plan construction, Catalyst, scheduling, Arrow
  transfer); operator work is negligible.
- ``heavy_operators``: registered queries whose time is mostly in
  ``operators/`` (shuffles, query-cache fills, construction-time
  actions), so the floor is a small share.

A floor fix should move ``interactive_queries`` and leave
``heavy_operators`` unchanged; an operator fix the other way round.
"""

from __future__ import annotations

import json
import os
import sqlite3
import time
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from ex9_big_data_gal_drimer_spark.catalog import cache_tables, release_query_caches
from ex9_big_data_gal_drimer_spark.pipeline import (
    SAMPLE_ROWS,
    export_samples_to_sqlite,
    generate_documentation,
    materialize_query,
)
from ex9_big_data_gal_drimer_spark.plans import ORACLES, QUERIES
from ex9_big_data_gal_drimer_spark.plans.hotels import HOTEL_QUERIES
from ex9_big_data_gal_drimer_spark.plans.queries_hotels import build_hotel_oracles
from ex9_big_data_gal_drimer_spark.sources.csv import read_hotels_csv
from ex9_big_data_gal_drimer_spark.sources.hotels_fixture import make_hotels_csv
from ex9_big_data_gal_drimer_spark.viz import create_bar_chart, create_pie_chart

from app.dashboard import render_static

from harness import cache_mb, catalyst_ms, digest, mismatch

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"
GOLDEN = json.loads((HERE / "golden.json").read_text())

#: The ten shortest of the fourteen floor queries.  tpch_q10_returned_items,
#: q4_nation_rank, daily_revenue_moving_median and set_ops_customers
#: (1.0-1.5 s each on a slow machine, the most operator work of the
#: fourteen) were left out to keep all runs of the benchmark inside its
#: time budget.
INTERACTIVE = (
    "hotels_q1",
    "hotels_q3",
    "hotels_q4",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "events_tumbling_1h",
    "events_click_purchase_join",
    "lang_distribution",
    "doc_quality_scores",
)
#: doc_bigram_logprob was left out to keep all runs of the benchmark
#: inside its time budget; pagerank_part_cooccurrence and
#: llm_pipeline_e2e take 10-11 s per request and would set the run length.
HEAVY = ("dedup_minhash_lsh", "incremental_cc_maintenance")

#: Charts drawn from the sample tables: (kind, label column, value column).
#: hotels_q3 is a single row of five counters, so it has no chart.
CHARTS = {
    "hotels_q1": ("pie", "countyName", "num_hotels"),
    "hotels_q2": ("bar", "countyName", "num_luxury_hotels"),
    "hotels_q4": ("bar", "countyName", "num_hotels"),
    "hotels_q5": ("bar", "countyName", "total_attractions"),
    "hotels_q6": ("bar", "countyName", "hotels_per_city"),
}


class QueryWorkload:
    """A closed loop over registered queries at one scale factor.  One
    op: build the plan, ``toArrow().to_pandas()``, then
    ``release_query_caches()``.  The base tables are cached once in
    set-up, as a long-lived session would."""

    def __init__(self, ctx, names: tuple[str, ...], sf: str, tables: tuple[str, ...]):
        self.ctx = ctx
        self.names = names
        self.sf = sf
        self.sf_dir = str(DATA / sf)
        self.tables = tables
        self.expected: dict[str, object] = {}

    def inputs(self) -> dict:
        return {"sf": self.sf, "tables": list(self.tables)}

    def setup(self) -> None:
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.tracer.span("catalog.cache_tables"):
            cache_tables(ctx.spark, self.sf_dir, self.tables)
        ctx.run_layers["catalog.cache_tables_s"] = time.perf_counter() - t0

    def prepare_checks(self) -> None:
        """Oracle results through DuckDB on the same parquet files.  A
        query with a ``golden.json`` entry is compared to that digest
        instead: one with no oracle, or one whose oracle DuckDB needs
        minutes for."""
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            for name in self.names:
                golden = GOLDEN.get(self.sf, {}).get(name)
                if golden is not None:
                    self.expected[name] = {k: golden[k] for k in ("rows", "sha256")}
                else:
                    self.expected[name] = con.execute(ORACLES[name]).df()
        finally:
            con.close()

    def run_op(self, name: str) -> tuple[pd.DataFrame, dict]:
        ctx = self.ctx
        rec: dict = {}
        try:
            t0 = time.perf_counter()
            with ctx.tracer.span("plans.construct"), ctx.groups.group("construct") as g_con:
                df = QUERIES[name](ctx.spark, self.sf_dir)
            t1 = time.perf_counter()
            with ctx.tracer.span("exec.action"), ctx.groups.group("action") as g_act:
                table = df.toArrow()
            t2 = time.perf_counter()
            with ctx.tracer.span("exec.to_pandas"):
                pdf = table.to_pandas()
            t3 = time.perf_counter()
            if ctx.tracer.enabled:
                rec["catalog.cache_mb"] = cache_mb(ctx.spark)
        finally:
            with ctx.tracer.span("catalog.release_query_caches"):
                rec["catalog.query_caches_released"] = release_query_caches()
        rec.update({
            "plans.construct_s": t1 - t0,
            "exec.action_s": t2 - t1,
            "exec.to_pandas_s": t3 - t2,
            "exec.result_rows": len(pdf),
        })
        if ctx.tracer.enabled:
            rec["_groups"] = (g_con, g_act)
            rec["_df"] = df
        return pdf, rec

    def collect(self, rec: dict) -> None:
        """Trace collectors that read engine state after the op."""
        g_con, g_act = rec.pop("_groups")
        df = rec.pop("_df")
        rec["plans.construct_jobs"] = self.ctx.groups.summary(g_con)["jobs"]
        for k, v in self.ctx.groups.summary(g_con, g_act).items():
            rec[f"exec.{k}"] = v
        rec["exec.catalyst_ms"] = catalyst_ms(df)

    def check(self, name: str, pdf: pd.DataFrame) -> str | None:
        expected = self.expected[name]
        if self.ctx.corrupt_expected:
            expected = corrupt(expected)
        if isinstance(expected, dict):  # golden digests all have rows > 0
            got = digest(pdf)
            return None if got == expected else f"digest {got} != golden {expected}"
        return mismatch(pdf, expected)


class HotelsPipeline:
    """The paper's pipeline.  One op is one full pass: ingest the CSV
    (read, cache, count), materialize each of the six hotel queries as
    a results table and a seeded sample table, export the samples to
    SQLite, write the catalog docs, chart the samples and render the
    static dashboard; then unpersist the ingest cache."""

    names = ("pass",)

    def __init__(self, ctx, rows: int):
        self.ctx = ctx
        self.rows = rows
        self.out = ctx.work / "pipeline"
        self.csv = ctx.work / "hotels.csv"
        self.db = self.out / "serve.db"
        self.expected: dict[str, pd.DataFrame] = {}

    def inputs(self) -> dict:
        return {"csv_rows": self.rows, "csv_bytes": self.csv.stat().st_size}

    def setup(self) -> None:
        """Nothing to load: ingest is part of every op."""

    def prepare_checks(self) -> None:
        """Generate the seeded CSV (not timed as set-up) and the DuckDB
        oracle for each query over that same file."""
        make_hotels_csv(str(self.csv), n=self.rows, seed=self.ctx.seed)
        con = duckdb.connect()
        try:
            for name, sql in build_hotel_oracles(self.csv).items():
                self.expected[name] = con.execute(sql).df()
        finally:
            con.close()

    def run_op(self, name: str) -> tuple[dict, dict]:
        ctx = self.ctx
        spark, tr = ctx.spark, ctx.tracer
        rec: dict = {"plans.construct_s": 0.0, "pipeline.materialize_s": 0.0}
        written = 0
        t = time.perf_counter()
        with tr.span("sources.read_hotels_csv"), ctx.groups.group("ingest") as g_in:
            hotels = read_hotels_csv(spark, str(self.csv)).cache()
            parsed = hotels.count()
        rec["sources.read_hotels_csv_s"] = time.perf_counter() - t
        g_con, g_mat = [], []
        try:
            for qname, plan in HOTEL_QUERIES.items():
                t = time.perf_counter()
                with tr.span("plans.construct"), ctx.groups.group("construct") as g:
                    df = plan(hotels)
                g_con.append(g)
                t1 = time.perf_counter()
                with tr.span("pipeline.materialize_query"), ctx.groups.group("materialize") as g:
                    metrics: dict = {}
                    materialize_query(spark, qname, df, metrics=metrics)
                g_mat.append(g)
                t2 = time.perf_counter()
                rec["plans.construct_s"] += t1 - t
                rec["pipeline.materialize_s"] += t2 - t1
                written += metrics["rows"]
            t = time.perf_counter()
            with tr.span("pipeline.export_samples_to_sqlite"), ctx.groups.group("sinks") as g_sink:
                export_samples_to_sqlite(spark, str(self.db))
                t1 = time.perf_counter()
                with tr.span("pipeline.generate_documentation"):
                    docs = generate_documentation(spark, str(self.out / "database_info.md"))
                t2 = time.perf_counter()
                with tr.span("viz.charts"):
                    charts = []
                    for qname, (kind, label, value) in CHARTS.items():
                        pdf = spark.table(f"{qname}_sample").toPandas()
                        draw = create_pie_chart if kind == "pie" else create_bar_chart
                        charts.append(draw(pdf, label, value, qname, str(self.out / "static" / f"{qname}.png")))
                t3 = time.perf_counter()
                with tr.span("app.render_static"):
                    html = render_static(str(self.db), str(self.out / "dashboard.html"))
                t4 = time.perf_counter()
            if tr.enabled:
                rec["catalog.cache_mb"] = cache_mb(spark)
        finally:
            hotels.unpersist()
            with tr.span("catalog.release_query_caches"):
                rec["catalog.query_caches_released"] = release_query_caches()
        rec.update({
            "pipeline.export_sqlite_s": t1 - t,
            "pipeline.generate_documentation_s": t2 - t1,
            "viz.charts_s": t3 - t2,
            "app.render_static_s": t4 - t3,
            "pipeline.rows_written": written,
            "exec.result_rows": written,
            "sources.rows_kept_ratio": parsed / self.rows,
            "pipeline.sqlite_kb": self.db.stat().st_size / 1024,
        })
        if tr.enabled:
            rec["_groups"] = (g_in, g_con, g_mat, g_sink)
        result = {"docs": docs, "charts": charts, "html": html, "parsed": parsed}
        return result, rec

    def collect(self, rec: dict) -> None:
        g_in, g_con, g_mat, g_sink = rec.pop("_groups")
        groups = self.ctx.groups
        rec["plans.construct_jobs"] = groups.summary(*g_con)["jobs"]
        rec["pipeline.jobs"] = groups.summary(*g_mat)["jobs"]
        for k, v in groups.summary(g_in, *g_con, *g_mat, g_sink).items():
            rec[f"exec.{k}"] = v

    def check(self, name: str, result: dict) -> str | None:
        """Each results table equals its DuckDB oracle; each sample has
        min(500, results) rows, all drawn from the results; the SQLite
        DB holds exactly the six samples; every artifact exists."""
        if result["parsed"] != self.rows:
            return f"parsed {result['parsed']} of {self.rows} generated rows"
        warehouse = self.ctx.work / "warehouse"
        with sqlite3.connect(self.db) as conn:
            served = {
                n: conn.execute(f"SELECT COUNT(*) FROM {n}").fetchone()[0]
                for (n,) in conn.execute("SELECT name FROM sqlite_master WHERE type='table'")
            }
        samples = {f"{q}_sample" for q in HOTEL_QUERIES}
        if set(served) != samples:
            return f"SQLite holds {sorted(served)}, expected {sorted(samples)}"
        for qname in HOTEL_QUERIES:
            expected = self.expected[qname]
            if self.ctx.corrupt_expected:
                expected = corrupt(expected)
            results = pq.read_table(warehouse / f"{qname}_results").to_pandas()
            why = mismatch(results, expected)
            if why:
                return f"{qname}_results: {why}"
            sample = pq.read_table(warehouse / f"{qname}_sample").to_pandas()
            want = min(SAMPLE_ROWS, len(results))
            if len(sample) != want or served[f"{qname}_sample"] != want:
                return f"{qname}_sample: {len(sample)} rows, SQLite {served[f'{qname}_sample']}, expected {want}"
            merged = sample.merge(results.drop_duplicates(), how="left", indicator=True)
            if (merged["_merge"] != "both").any():
                return f"{qname}_sample has rows not in {qname}_results"
        missing = [p for p in [result["docs"], result["html"], *result["charts"]] if not os.path.exists(p)]
        if missing or len(result["charts"]) != len(CHARTS):
            return f"missing artifacts {missing}"
        return None


def corrupt(expected):
    """A deliberately wrong expectation, for the self-test: a golden
    digest with another hash, or an oracle frame missing its last row
    (a one-row frame becomes empty)."""
    if isinstance(expected, dict):
        return {**expected, "sha256": "0" * 64}
    return expected.iloc[:-1]


def make(ctx, workload: str, smoke: bool):
    if workload == "hotels_pipeline":
        return HotelsPipeline(ctx, rows=2_000 if smoke else 20_000)
    if workload == "interactive_queries":
        tables = ("customer", "documents", "events", "lineitem", "orders")
        return QueryWorkload(ctx, INTERACTIVE, "sf0.001" if smoke else "sf0.01", tables)
    if workload == "heavy_operators":
        return QueryWorkload(ctx, HEAVY, "sf0.001" if smoke else "sf0.1", ("documents",))
    raise ValueError(f"unknown workload {workload!r}")


WORKLOADS = ("hotels_pipeline", "interactive_queries", "heavy_operators")
