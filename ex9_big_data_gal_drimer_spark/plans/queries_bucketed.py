"""Driver-visible bucketed co-located join (SURVEY.md §4).

The 0-exchange bucketed join was previously pinned only by
tests/test_plan_audit.py; this registers it in the driver gate with a
plain-SQL oracle: the bucketed plan must produce byte-identical
results to the ordinary join it replaces.  The bucketed write happens
at plan construction (like the sketch store) into a /tmp-backed
database, so a vanilla driver session never writes into its working
directory.

Scale: bucketing pays the orders⋈customer shuffle ONCE at ingest —
every subsequent join on the bucket key plans a sort-merge join with
no exchange on either side, the single biggest repeated-shuffle
eliminator a 100 TB star schema has.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import path_tag
from ..sources.bucketed import bucketed_join, ingest_bucketed
from .registry import register

_DB = "ex9_bucketed"


def _sf_db(prefix: str, sf_dir: str) -> str:
    """Database name keyed on the FULL sf_dir path, not just its
    basename — two different directories both named 'sf0.01' must not
    share (and silently serve) one ingested layout."""
    return f"{prefix}_{path_tag(sf_dir)}"


@register(
    "bucketed_join_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def bucketed_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment via the CO-LOCATED join: both sides
    written bucketBy(8, custkey).sortBy(custkey), so the join itself
    plans with zero exchanges (test_plan_audit pins the plan; this
    entry pins the VALUES against the plain-join oracle)."""
    db = _sf_db(_DB, sf_dir)
    ingest_bucketed(
        spark,
        sf_dir,
        num_buckets=8,
        database=db,
        location=os.path.join(tempfile.gettempdir(), f"{db}_wh"),
    )
    return (
        bucketed_join(spark, database=db)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "tpch_q21_bucketed",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
               COUNT(DISTINCT l_suppkey) AS n_supp
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN per_order po ON l.l_orderkey = po.l_orderkey
                     AND l.l_shipdate = po.max_ship
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE po.n_supp > 1 AND o.o_orderstatus = 'F'
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def tpch_q21_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tpch_q21_last_shippers over an ORDERKEY-BUCKETED layout — the
    concrete proof of that query's docstring claim: the plain form is
    the shuffle audit's top mover (two orderkey exchanges of the fact,
    15.4 MB at sf0.1); with lineitem and orders bucketed+sorted on the
    order key, the per-order aggregate, the join back, AND the orders
    join ALL consume the bucket clustering — the only exchange left is
    the 100-row supplier rollup.  Identical oracle to the plain form:
    the layout must change the plan, never the values.  Bucketed
    write happens at construction (ITERATIVE_CONSTRUCTION), paid once
    per session and amortized like any ingest-time layout."""
    db = _sf_db(f"{_DB}_ok", sf_dir)
    ingest_bucketed(
        spark,
        sf_dir,
        num_buckets=8,
        spec={"lineitem": "l_orderkey", "orders": "o_orderkey"},
        database=db,
        location=os.path.join(tempfile.gettempdir(), f"{db}_wh"),
    )
    li = spark.table(f"{db}.lineitem_bucketed")
    o = spark.table(f"{db}.orders_bucketed").filter(
        F.col("o_orderstatus") == "F"
    )
    s = _plain_supplier(spark, sf_dir)
    per_order = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    po = per_order.filter(F.col("n_supp") > 1).withColumnRenamed(
        "l_orderkey", "po_key"
    )
    return (
        li.join(
            po,
            (li.l_orderkey == F.col("po_key"))
            & (li.l_shipdate == F.col("max_ship")),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


def _plain_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table

    return table(spark, sf_dir, "supplier")
