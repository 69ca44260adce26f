"""Round-10 staged additions: three operator families precomputed for
the round-11 rotation (plans/__init__.py ROUND-11 ROTATION note) —

- **skyline / dominance** (Pareto front per brand): a genuinely new
  query family next to top-k (O2) and percent-of-total (A7);
- **max-concurrent-intervals sweep line**: the temporal
  interval-algebra family the engine lacked, built on the banked
  gap-sessionization (queries_analytics4.sessionize_events_gap);
- **join-delta incremental view maintenance**: the join twin of
  incremental_agg_maintenance / incremental_cc_maintenance.

Built late round 10 with all three oracles STAGED (the r10 window was
full of mandatory r05-vintage re-verifies).  Round 11 promoted
skyline + sweep line into the registry's two permanent spare seats
(``staged_oracle=`` → ``oracle=``; both seated in the r11 driver
window) — the steady-state oracle capacity of 50 slots x 4-round
horizon = 200 rows is now exactly full.  The IVM twin stays
staged-oracle pytest-pinned indefinitely (capacity; its family is
already oracle-banked twice via incremental_agg/cc_maintenance), and
tests/test_staged_oracles.py keeps running the same differential for
it at every pytest.

Scale notes (100 TB) are in each docstring; all three are two-phase
shapes: a keyed shrink first (distinct (brand,price,size) /
per-session spans / per-day nets), then windows over the shrunken
relation partitioned by a parallel key (brand / day), with only
tiny driver-visible total orders (distinct prices per brand, one row
per day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import durable_store, table
from .registry import ITERATIVE_CONSTRUCTION, register


@register(
    "skyline_parts_pareto",
    oracle="""
    WITH sky AS (
        SELECT p.p_brand, p.p_retailprice, p.p_size, p.p_partkey
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_brand = p.p_brand
              AND q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice
                   OR q.p_size > p.p_size)
        )
    )
    SELECT p_brand,
           ROUND(p_retailprice, 2) AS price,
           p_size AS size,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           MIN(p_partkey) AS min_partkey
    FROM sky
    GROUP BY p_brand, p_retailprice, p_size
    ORDER BY p_brand, price, size
    """,
)
def skyline_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand skyline (Pareto front) on (minimize p_retailprice,
    maximize p_size): a part is dominated iff some same-brand part is
    no worse on both axes and strictly better on one.  The oracle is
    the textbook NOT-EXISTS anti-join (quadratic); the Spark plan is
    the sort-based linear scan, so the differential crosses two
    genuinely different algorithms:

    1. shrink to distinct (brand, price, size) points with counts —
       map-side combinable groupBy;
    2. per (brand, price) keep only the max size (any same-price
       larger-size point dominates);
    3. one window per brand over the distinct-price rows, ordered by
       price ASC, frame ``UNBOUNDED PRECEDING .. 1 PRECEDING``: the
       strict-prefix running max of size.  A point survives iff that
       prefix max is NULL (cheapest price) or strictly below its size.

    Equal (price, size) duplicates dominate neither other and all
    survive as one grouped row (n_parts carries the multiplicity).

    Scale: the window partitions by brand (25 keys here, arbitrarily
    many in general — parallel across brands) and runs on the
    DISTINCT-PRICE relation, already shrunk by the exact-combine
    groupBy; per-brand sort is bounded by distinct prices, not rows.
    A pathological single-brand table degrades to one sorted
    partition of its distinct prices — the standard two-phase skyline
    refinement (local fronts then global) is the documented next step
    and composes from these same pieces.
    """
    pts = (
        table(spark, sf_dir, "part")
        .groupBy("p_brand", "p_retailprice", "p_size")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        )
    )
    # Best size at each exact price: same-price, larger-size dominates.
    per_price = pts.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("pmax")
    )
    w_prev = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Strict-prefix max is well-defined because per_price has exactly
    # one row per (brand, price): "1 PRECEDING" excludes the current
    # price and nothing else.
    frontier = per_price.select(
        "p_brand",
        "p_retailprice",
        "pmax",
        F.max("pmax").over(w_prev).alias("prefix_max"),
    ).filter(F.col("prefix_max").isNull() | (F.col("prefix_max") < F.col("pmax")))
    return (
        pts.join(frontier, ["p_brand", "p_retailprice"])
        .filter(F.col("p_size") == F.col("pmax"))
        .select(
            "p_brand",
            F.round("p_retailprice", 2).alias("price"),
            F.col("p_size").alias("size"),
            "n_parts",
            "min_partkey",
        )
        .orderBy("p_brand", "price", "size")
    )


@register(
    "peak_concurrent_sessions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ), flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR ts > prev_ts + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM ordered
    ), sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ), spans AS (
        SELECT user_id, session_id,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM sess GROUP BY user_id, session_id
    ), endpoints AS (
        SELECT start_ts AS ts, 1 AS delta FROM spans
        UNION ALL
        SELECT end_ts AS ts, -1 AS delta FROM spans
    ), swept AS (
        SELECT CAST(ts AS DATE) AS day, delta,
               SUM(delta) OVER (ORDER BY ts, delta
                                ROWS UNBOUNDED PRECEDING) AS run
        FROM endpoints
    )
    SELECT day,
           CAST(MAX(run - LEAST(delta, 0)) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions_started
    FROM swept
    GROUP BY day
    ORDER BY day
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-concurrent-intervals sweep line: peak number of
    simultaneously-open user sessions per day.  Sessions are the same
    30-min-gap sessionization the banked sessionize_events_gap pins;
    each span [start, end] emits a +1 at start and a -1 at end, the
    running sum over endpoints ordered by (ts, delta) is the live
    concurrency, and the per-day max of the PRE-EVENT level —
    ``run - LEAST(delta, 0)``, i.e. the level while a -1's session
    was still open — is the answer.  The pre-event form (round-10
    ADVICE) makes a day holding only session ENDS report the
    carried-in concurrency those sessions represent, instead of 0.
    Ordering -1 before +1 at equal timestamps makes concurrency
    end-exclusive (a session ending exactly when another starts does
    not overlap it); zero-length (single-event) sessions therefore
    contribute a transient dip, never a peak — identically in both
    engines.

    The oracle sweeps with ONE global window; the Spark plan is the
    distributed two-phase sweep:

    1. per-day within-day running sum — window partitioned by day
       (parallel across days, sort bounded per day);
    2. per-day NET delta, aggregated — one row per day;
    3. carry-in = running sum of prior days' nets over that tiny
       per-day relation (the only unpartitioned window, sized by the
       calendar, not the data);
    4. peak(day) = carry_in + max(within-day running sum).

    Scale: endpoints are 2 rows per SESSION (already two orders of
    magnitude under the event count), the big windows are keyed by
    user_id (sessionize) and day (sweep), and the single-partition
    step sees one row per day.  The same shape handles any interval
    table (leases, calls, jobs) — the family this engine lacked.
    """
    ev = table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_user).isNull()
            | (F.col("ts") > F.lag("ts").over(w_user) + F.expr("INTERVAL 30 MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    spans = (
        flagged.select(
            "user_id",
            "ts",
            F.sum("new_sess")
            .over(w_user.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    # One pass, not a self-union: a union's two branches would each
    # recompute the sessionize windows (two scans of events); explode
    # emits both endpoints from the single spans pipeline.
    endpoints = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("start_ts").alias("ts"), F.lit(1).alias("delta")),
                F.struct(F.col("end_ts").alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("e")
    ).select("e.ts", "e.delta")
    w_day = (
        Window.partitionBy("day")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = endpoints.withColumn("day", F.to_date("ts")).withColumn(
        "run", F.sum("delta").over(w_day)
    )
    per_day = within.groupBy("day").agg(
        F.max(F.col("run") - F.least(F.col("delta"), F.lit(0))).alias("max_run"),
        F.sum("delta").alias("net"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
            "n_sessions_started"
        ),
    )
    # One row per day: the lone unpartitioned window runs on the
    # calendar-sized relation, not the fact table.
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return per_day.select(
        "day",
        (F.coalesce(F.sum("net").over(w_days), F.lit(0)) + F.col("max_run")).alias(
            "peak_concurrent"
        ),
        "n_sessions_started",
    ).orderBy("day")


#: Settled/restated boundary pair for the join view: everything before
#: _VIEW_SETTLED is materialized by "last night's job"; the delta batch
#: re-derives from _VIEW_DELTA on, so [_VIEW_DELTA, _VIEW_SETTLED) is
#: RESTATED — present in both the state table and the delta, and the
#: merge must upsert (anti-join + union), not blind-append.  A
#: blind-append doubles one year of orders and the aggregate diverges
#: from the full-recompute oracle immediately.
_VIEW_DELTA = "1999-01-01"
_VIEW_SETTLED = "2000-01-01"


@register(
    "join_delta_view_maintenance",
    staged_oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    ORDER BY segment, year
    """,
)
def join_delta_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialization — the join
    twin of incremental_agg_maintenance (exact aggregate state) and
    incremental_cc_maintenance (graph state).  The persisted view is
    orders ⋈ customer at ORDER grain (orderkey, orderdate, totalprice,
    segment) for o_orderdate < 2000-01-01, written once
    (construction; reruns reuse the completed state).  Each run builds
    the delta batch by re-deriving everything from 1999-01-01 on — so
    one year is RESTATED, overlapping the state table — and merges by
    upsert: state rows whose o_orderkey appears in the delta are
    anti-joined away, then the delta is unioned in (the algebraic form
    of MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT; a managed
    table format would run this as a Delta/Iceberg MERGE with the same
    key semantics).  The returned aggregate over the maintained view
    equals the full-recompute oracle only when the upsert
    deduplicates the restated year exactly.

    Scale: the settled join never re-runs; the per-run cost is the
    delta join (dimension side broadcast here; bucketed co-location
    at dimension sizes past the broadcast threshold) plus the
    anti-join, which shuffles state and delta on the SAME key the
    view is stored by — with the state table bucketed by o_orderkey
    the anti-join is co-located and shuffle-free.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def view_rows(part: DataFrame) -> DataFrame:
        return part.join(
            F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        ).select("o_orderkey", "o_orderdate", "o_totalprice", "c_mktsegment")

    def build(path: str) -> None:
        view_rows(orders.filter(F.col("o_orderdate") < _VIEW_SETTLED)).write.mode(
            "overwrite"
        ).parquet(path)

    settled = spark.read.parquet(durable_store(sf_dir, "join_view_orders", build))
    delta = view_rows(orders.filter(F.col("o_orderdate") >= _VIEW_DELTA))
    merged = settled.join(
        delta.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(delta)
    return (
        merged.groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("long").alias("year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment", "year")
    )


ITERATIVE_CONSTRUCTION.add("join_delta_view_maintenance")
