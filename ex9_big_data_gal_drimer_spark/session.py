"""SparkSession construction and deterministic runtime configuration.

The reference opens one in-process DuckDB connection per run
(reference main.py:236); here the analogue is one SparkSession per
process with AQE enabled so Catalyst+AQE play DuckDB's optimizer role
(SURVEY.md §4).

Two entry paths:

- :func:`get_spark` — build (or reuse) a session with our preferred
  configuration; used by tests, ``bench.py``, and the CLI pipeline.
- :func:`configure` — set the *runtime-settable* subset of that
  configuration on a session we did not build (the driver passes its
  own session to ``__spark_entry__.entry``/``queries()``); this is how
  every query guarantees deterministic timestamp semantics regardless
  of who built the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs every query depends on.
#:
#: - UTC session timezone: the testdata parquet stores naive (UTC-less)
#:   timestamps; DuckDB (the correctness oracle) reads them verbatim, so
#:   any timestamp that transits a session-timezone conversion must use
#:   UTC to hash-match.
#: - nanosAsLong: events.parquet stores INT64 TIMESTAMP(NANOS) which
#:   Spark's parquet reader rejects by default; with this legacy flag it
#:   surfaces as LongType and catalog.load_table converts it to
#:   timestamp_ntz losslessly (micro truncation only).
#: - AQE: runtime re-planning (broadcast conversion, partition
#:   coalescing, skew-join splitting) — the 100 TB safety net.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # one recursion level per calendar month in recursive_month_series;
    # the 100-level default caps the series at ~8 years of data
    "spark.sql.cteRecursionLevelLimit": "2000",
}

#: Plan-shape preferences — NOT forced by :func:`configure`.  AQE is
#: the 100 TB default (runtime broadcast conversion, partition
#: coalescing, skew-join splitting) and :func:`get_spark` applies it
#: when building a session, but a harness that deliberately overrides
#: it (bench.py disables AQE for sub-second queries, where per-stage
#: re-planning adds whole extra jobs) must stay overridden: every
#: query calls configure() via catalog.load_table, and force-setting
#: AQE there silently stomped the bench knob (q3 ran 3 query-stage
#: jobs instead of 1).  Correctness never depends on these.
PLAN_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce to the advisory size rather than maximizing parallelism:
    # avoids tiny-partition task storms (recommended on busy clusters;
    # also shaves scheduling overhead on small local runs).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the deterministic (correctness) runtime confs to an
    existing session — the confs every query's VALUES depend on.

    Raises RuntimeError when a conf cannot be set and the session holds
    a different value."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as err:
            # Non-settable on some build (e.g. Spark Connect restricted
            # conf): queries are still correct only where the session
            # already holds the value, so any other value must fail
            # loudly instead of silently changing results.
            current = spark.conf.get(k, None)
            if current != v:
                raise RuntimeError(
                    f"cannot set {k} to {v!r} (session has {current!r})"
                ) from err
    return spark


def get_spark(
    app_name: str = "ex9-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build or reuse a SparkSession with the engine's configuration.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) when no session exists yet.  ``shuffle_partitions``
    defaults to 32 — sized for the local test harness; on a real
    cluster AQE coalescing makes the static number mostly moot, but set
    it to ~2-3× total executor cores there.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return configure(active)

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in {**RUNTIME_CONF, **PLAN_CONF}.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
