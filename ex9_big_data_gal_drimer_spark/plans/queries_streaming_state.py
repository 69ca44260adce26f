"""Driver-visible batch twins of the streaming-only surfaces
(round-3 verdict ask #5): the State Data Source reader
(streaming/state_reader.py) and the foreachBatch MERGE sink
(streaming/sinks.py) — both previously exercised only by pytest.

Each query RUNS a real availableNow streaming pipeline over the
sf_dir's events table during construction (registered in
ITERATIVE_CONSTRUCTION — the work is the point), then queries the
artifacts it leaves behind as plain batch DataFrames:

- ``state_operator_inventory``: the stateful-operator map of the
  written checkpoint (state-metadata format) joined with per-operator
  state key counts read through the statestore format.  Rows-only:
  checkpoint internals are engine-specific, but the inventory is
  deterministic (one operator row; key count = finalized windows).
- ``merge_sink_upsert_totals``: per-user running totals maintained by
  the MERGE-upsert sink's snapshot, read back and ordered.  This one
  IS SQL-expressible — the snapshot must equal a plain groupBy over
  the same events — so it carries a DuckDB oracle.

Both memoize their pipeline run per (session, sf_dir) with
catalog.session_memo: repeated invocations (bench repeats) re-query
the existing artifacts, exactly like production where the stream runs
continuously and consumers query its state.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import session_memo
from .registry import register


def _events_stream_dir(sf_dir: str, workdir: str) -> str:
    """File-source streams need a directory of ONLY events files."""
    d = os.path.join(workdir, "events_in")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.lexists(link):
        # abspath: a relative sf_dir (valid everywhere else — Spark
        # resolves against cwd) would otherwise dangle relative to d
        os.symlink(os.path.abspath(os.path.join(sf_dir, "events.parquet")), link)
    return d


def _run_windowed_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """Run the tumbling-window aggregation once (availableNow) and
    return its checkpoint dir."""
    from ..streaming.windows import (
        read_events_stream,
        run_to_memory_sink,
        tumbling_counts,
    )

    key = (spark.sparkContext.applicationId, sf_dir, "ckpt")
    work = tempfile.mkdtemp(prefix="state_inventory_")
    ckpt = os.path.join(work, "checkpoint")
    stream = read_events_stream(spark, _events_stream_dir(sf_dir, work))
    agg = tumbling_counts(stream, window="1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName(f"state_inv_{abs(hash(key)) % 10**8}")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout (it only raises on
    # query failure) — memoizing a half-written checkpoint would serve
    # wrong state for the rest of the session, so fail loud instead
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("state-inventory stream did not drain in 300 s")
    return ckpt


@register("state_operator_inventory")
def state_operator_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 observability as a driver row: run a watermarked tumbling
    aggregation to a checkpoint, then read the checkpoint BACK as
    data — the state-metadata operator inventory joined with a key
    count from the statestore reader.  At 100 TB this is how you
    answer "what state exists and how big is it" without stopping the
    stream: both formats are parallel batch scans over the checkpoint
    files.  Rows-only (checkpoint internals aren't SQL over the input
    tables); deterministic: one stateStoreSave operator, key count =
    number of 1h (window × event_type) groups still in state."""
    from ..streaming.state_reader import read_operator_state, state_metadata

    ckpt = session_memo(
        spark,
        ("state_inventory", sf_dir),
        lambda: _run_windowed_checkpoint(spark, sf_dir),
    )
    meta = state_metadata(spark, ckpt).select(
        F.col("operatorId").cast("long").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("store_name"),
    )
    keys = (
        read_operator_state(spark, ckpt, operator_id=0)
        .agg(F.count(F.lit(1)).alias("n_state_keys"))
        .select(F.lit(0).cast("long").alias("operator_id"), "n_state_keys")
    )
    return (
        meta.join(F.broadcast(keys), "operator_id", "left")
        .select(
            "operator_id",
            "operator_name",
            "store_name",
            F.coalesce("n_state_keys", F.lit(0)).alias("n_state_keys"),
        )
        .orderBy("operator_id", "store_name")
    )


@register(
    "merge_sink_upsert_totals",
    oracle="""
    SELECT user_id,
           ROUND(SUM(value), 2) AS total_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def merge_sink_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 MERGE sink as a driver row: stream the events table
    through the foreachBatch MERGE-upsert sink (exactly-once batch-id
    marker, atomic snapshot swap — streaming/sinks.py), then read the
    maintained per-user snapshot back.  The oracle is the semantic
    contract: the continuously-merged state table must equal a plain
    batch groupBy over the same events — the invariant that makes the
    incremental maintenance trustworthy."""
    from ..streaming.sinks import read_merge_state, stream_merge_upsert_sink
    from ..streaming.windows import read_events_stream

    def run() -> str:
        work = tempfile.mkdtemp(prefix="merge_sink_")
        state_dir = os.path.join(work, "state")
        ckpt = os.path.join(work, "checkpoint")
        stream = read_events_stream(spark, _events_stream_dir(sf_dir, work))
        q = stream_merge_upsert_sink(stream, state_dir, ckpt)
        # see _run_windowed_checkpoint: never memoize a timed-out run
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("merge sink did not drain in 300 s")
        return state_dir

    return (
        read_merge_state(spark, session_memo(spark, ("merge_sink", sf_dir), run))
        .select(
            "user_id",
            F.round("total_value", 2).alias("total_value"),
            "n_events",
        )
        .orderBy("user_id")
    )
