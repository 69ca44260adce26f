"""Date-partitioned file layout for partition pruning (SURVEY.md §4).

Bucketing (sources/bucketed.py) eliminates the JOIN shuffle; this
module is the other half of physical design at 100 TB: directory
partitioning on a coarse date key so time-windowed scans read only
the matching partitions (partition pruning — the scan's
PartitionFilters), instead of all files with row-group skipping.

The write repartitions BY the partition column first, so each
partition directory receives one file instead of
one-file-per-task-per-partition — the small-files problem a
date-partitioned 100 TB table dies of when skipped.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import durable_store, load_table

#: Partition column derived at ingest: month granularity keeps
#: partition counts sane (a 7-year fact table → ~84 dirs; day
#: granularity would be ~2.5k — still fine — but month matches the
#: rollup queries' grain).
PART_COL = "l_ship_month"


def ingest_partitioned(
    spark: SparkSession, sf_dir: str, table: str = "lineitem"
) -> str:
    """Write `table` date-partitioned into a durable store; returns
    the path.

    Ingest-once per input version: plain path-based parquet (no
    catalog entry to collide with), and a completed store of the same
    input files is reused instead of rewritten — the
    nightly-ingest/every-query-read split the layout exists for.
    """

    def build(path: str) -> None:
        df = load_table(spark, sf_dir, table).withColumn(
            PART_COL, F.date_format("l_shipdate", "yyyy-MM")
        )
        (
            df.repartition(F.col(PART_COL))
            .write.mode("overwrite")
            .partitionBy(PART_COL)
            .parquet(path)
        )

    return durable_store(sf_dir, f"layout_{table}", build)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ingest_sorted(
    spark: SparkSession,
    sf_dir: str,
    table: str = "lineitem",
    sort_col: str = "l_shipdate",
    n_files: int = 4,
    block_size: int = 128 * 1024,
) -> str:
    """Write `table` range-clustered and sorted on `sort_col`
    (`repartitionByRange` + `sortWithinPartitions`) — the row-group
    skipping half of data layout, complementing directory
    partitioning above.

    Directory partitioning prunes at FILE granularity and dies of
    small files below its grain; sort clustering prunes WITHIN files:
    every parquet row group carries [min,max] stats for the sort
    column, and because the data is globally range-ordered, a
    selective range predicate intersects only the few row groups
    covering that range — the rest are skipped by the pushed filter
    without decoding a page.  This is what keeps a 100 TB fact scan
    proportional to the predicate's selectivity when the predicate
    column is too fine-grained to partition by (timestamps,
    identifiers).  Row groups are written small (128 KB) so the
    skipping is observable at test scale; production uses the 128 MB
    default.

    Ingest-once like ingest_partitioned.
    """

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, table)
            .repartitionByRange(n_files, F.col(sort_col))
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .option("parquet.block.size", block_size)
            .parquet(path)
        )

    name = f"sorted_{table}_{sort_col}_{n_files}_{block_size}"
    return durable_store(sf_dir, name, build)


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet directory into
    ceil(total_size / target_bytes) files, optionally re-sorted on
    `sort_col` to restore row-group clustering (compaction is when
    sort order degrades — appends interleave ranges).

    Returns (files_before, files_after).  The rewrite goes through a
    temp dir + atomic rename, so readers never observe a half-written
    directory.  This is the maintenance job every streaming/append
    sink needs at 100 TB: query cost tracks file count (driver
    listing, per-file open, footer reads), and a many-small-appends
    table degrades until compacted.
    """
    import glob as _glob
    import math
    import shutil

    files = _glob.glob(os.path.join(path, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    if sort_col is not None:
        df = df.repartitionByRange(n_out, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        df = df.coalesce(n_out)
    tmp = path.rstrip("/") + "_compacting"
    df.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "_precompact"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return len(files), len(_glob.glob(os.path.join(path, "*.parquet")))


def zorder_key(cols, bits: int = 16):
    """Bit-interleaved Z-order key over `cols` (each already scaled to
    integer ranks in [0, 2^bits)): bit b of column i lands at output
    position b·n_cols + i, so a lexicographic sort on the key gives
    every column locality simultaneously — the multi-column
    generalization of single-column sort clustering.  Pure
    shift/and/or JVM expressions, codegen-friendly."""
    n = len(cols)
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)),
                    b * n + i,
                )
            )
    return out


def ingest_zordered(
    spark: SparkSession,
    sf_dir: str,
    table: str = "lineitem",
    cols: tuple = ("l_shipdate", "l_partkey"),
    n_files: int = 4,
    bits: int = 16,
    block_size: int = 128 * 1024,
) -> str:
    """Write `table` Z-order-clustered on `cols`: each column maps to
    a [0, 2^bits) integer rank by min/max scaling (one tiny
    bounds-aggregate at ingest), ranks interleave into the Z key, and
    the write range-partitions + sorts on that key.

    Why not just sort on (a, b)? A lexicographic compound sort gives
    PERFECT locality on `a` and NONE on `b` (b's values scatter within
    every a-run); Z-order trades a little of a's locality for real
    locality on BOTH, so row-group min/max skipping works for
    predicates on either column or both — the layout for fact tables
    with two independent access paths (time + entity id).

    Ingest-once like the other ingests.
    """

    def build(path: str) -> None:
        df = load_table(spark, sf_dir, table)

        def as_num(c):
            # timestamps (ltz or ntz) → epoch seconds; numerics cast direct
            if df.schema[c].dataType.typeName().startswith("timestamp"):
                return F.col(c).cast("timestamp").cast("double")
            return F.col(c).cast("double")

        aggs = []
        for c in cols:
            expr = as_num(c)
            aggs += [F.min(expr).alias(f"{c}__min"), F.max(expr).alias(f"{c}__max")]
        bounds = df.agg(*aggs).collect()[0]
        span = (1 << bits) - 1
        ranks = []
        for c in cols:
            expr = as_num(c)
            lo, hi = bounds[f"{c}__min"], bounds[f"{c}__max"]
            width = (hi - lo) or 1.0
            ranks.append(
                F.least(
                    F.lit(span),
                    F.floor((expr - F.lit(lo)) / F.lit(width) * span).cast("long"),
                )
            )
        (
            df.withColumn("__z", zorder_key(ranks, bits))
            .repartitionByRange(n_files, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .option("parquet.block.size", block_size)
            .parquet(path)
        )

    name = f"zorder_{table}_{'_'.join(cols)}_{n_files}_{bits}_{block_size}"
    return durable_store(sf_dir, name, build)


def ingest_evolving(spark: SparkSession, sf_dir: str, table: str = "orders") -> tuple[str, str]:
    """Two-generation parquet layout for SCHEMA EVOLUTION: generation
    v1 holds pre-1998 orders with the original four columns;
    generation v2 holds 1998+ orders with a NEW ``o_channel`` column
    added mid-stream (the ingest-pipeline reality every long-lived
    100 TB table faces — new fields appear, history is never
    rewritten).  Readers union the generations with
    ``mergeSchema=true``; v1 rows surface NULL for the late column.
    Returns the two generation paths.  Ingest-once, same contract as
    ingest_partitioned."""

    def build(root: str) -> None:
        base = load_table(spark, sf_dir, table)
        cut = F.lit("1998-01-01").cast("timestamp_ntz")
        old_cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
        channel = F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "online"
        ).otherwise("store")
        base.filter(F.col("o_orderdate") < cut).select(*old_cols).coalesce(
            4
        ).write.mode("overwrite").parquet(os.path.join(root, "v1"))
        base.filter(F.col("o_orderdate") >= cut).select(
            *old_cols, channel.alias("o_channel")
        ).coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "v2"))

    root = durable_store(sf_dir, f"evolving_{table}", build)
    return os.path.join(root, "v1"), os.path.join(root, "v2")
