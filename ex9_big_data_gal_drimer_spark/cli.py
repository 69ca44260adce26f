"""End-to-end batch pipeline CLI (the reference's ``python main.py``).

    python -m ex9_big_data_gal_drimer_spark --sf-dir /root/testdata/sf0.001 \\
        --out warehouse/

Stages (SURVEY.md §3.1, without the reference's double execution):
  1. run every registered query,
  2. materialize full results + seeded ≤500-row samples as warehouse
     tables (S3/R1),
  3. export sample tables to a SQLite serving DB (S9),
  4. generate catalog documentation markdown (S7/S8/S12),
  5. emit charts for the flagship queries (S14; JSON specs when
     matplotlib is absent),
  6. optionally render the static dashboard HTML.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from .pipeline import (
    export_samples_to_sqlite,
    generate_documentation,
    run_pipeline,
)
from .plans import QUERIES
from .session import get_spark
from .viz import create_bar_chart, create_pie_chart

#: Chart specs for the flagship queries (reference main.py:411-449).
CHARTS = {
    "q1_nation_order_stats": ("pie", "nation", "num_orders", "Orders by nation"),
    "q4_nation_rank": ("bar", "nation", "num_orders", "Nation ranking"),
    "lang_distribution": ("pie", "lang", "n_docs", "Documents by language"),
    "event_type_rates": ("bar", "event_type", "n_events", "Events by type"),
}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="ex9-spark-pipeline")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--out", default="warehouse")
    parser.add_argument(
        "--queries", nargs="*", default=None, help="subset of query names"
    )
    parser.add_argument("--skip-charts", action="store_true")
    parser.add_argument("--static-dashboard", action="store_true")
    parser.add_argument(
        "--sql",
        default=None,
        help="run one ad-hoc SQL statement over the testdata tables "
        "(registered as views) and print the result as TSV; skips the "
        "pipeline stages",
    )
    args = parser.parse_args(argv)

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(
        app_name="ex9-pipeline",
        extra_conf={"spark.sql.warehouse.dir": os.path.abspath(args.out)},
    )

    if args.sql:
        # The reference's native interface is a raw SQL string against
        # its engine (reference main.py:250); this is the same surface
        # with Spark SQL as the dialect.  Capped output — ad-hoc SQL is
        # for inspection, the pipeline path is for materialization.
        from .catalog import register_views

        register_views(spark, args.sf_dir)
        result = spark.sql(args.sql)
        rows = result.limit(1000).collect()
        # Header comes from the schema, not rows[0], so an empty result
        # still prints its columns (scripts can tell "no rows" from
        # "no output"); flag the silent cap when it may have truncated.
        print("\t".join(result.columns))
        for r in rows:
            print("\t".join("" if v is None else str(v) for v in r))
        suffix = " (limit 1000 reached; output may be truncated)" if len(rows) == 1000 else ""
        print(f"-- {len(rows)} rows{suffix}", file=sys.stderr)
        return 0

    names = args.queries or sorted(QUERIES)
    t0 = time.perf_counter()
    metrics: dict = {}
    run_pipeline(spark, {name: QUERIES[name] for name in names}, args.sf_dir, metrics)
    for name in names:
        print(f"materialized {name} ({metrics[name]['rows']} rows)", flush=True)

    db_path = os.path.join(args.out, "serve.db")
    exported = export_samples_to_sqlite(spark, db_path)
    print(f"exported {len(exported)} sample tables -> {db_path}")

    docs = generate_documentation(spark, os.path.join(args.out, "database_info.md"))
    print(f"documentation -> {docs}")

    if not args.skip_charts:
        static_dir = os.path.join(args.out, "static")
        for name, (kind, label, value, title) in CHARTS.items():
            if name not in names:
                continue
            pdf = spark.table(f"{name}_sample").toPandas()
            fn = create_pie_chart if kind == "pie" else create_bar_chart
            out = fn(pdf, label, value, title, os.path.join(static_dir, f"{name}.png"))
            print(f"chart -> {out}")

    if args.static_dashboard:
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
        from app.dashboard import render_static

        html = render_static(db_path, os.path.join(args.out, "dashboard.html"))
        print(f"dashboard -> {html}")

    print(f"pipeline done: {len(names)} queries in {time.perf_counter()-t0:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
