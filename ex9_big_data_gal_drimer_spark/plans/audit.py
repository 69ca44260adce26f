"""Physical-plan auditing (SURVEY.md §4's ".explain and iterate").

Utilities to assert plan properties instead of eyeballing explain
output: exchange (shuffle) counts, cartesian products, scan-level
filter pushdown and column pruning.  Used by tests/test_plan_audit.py
to pin the properties the 100 TB design depends on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def count_exchanges(df: DataFrame) -> int:
    """# of shuffle exchanges (excludes broadcast exchanges)."""
    plan = executed_plan(df)
    return sum(
        line.count("Exchange hashpartitioning")
        + line.count("Exchange rangepartitioning")
        + line.count("Exchange SinglePartition")
        for line in plan.splitlines()
    )


def has_cartesian(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "CartesianProduct" in plan


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema lines of every file scan — column-pruning evidence."""
    return [
        line.split("ReadSchema:")[1].strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema:" in line
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lines of every file scan."""
    return [
        line.split("PushedFilters:")[1].strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters:" in line
    ]


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters lines of every file scan — partition-pruning
    (data-skipping) evidence for directory-partitioned layouts."""
    return [
        line.split("PartitionFilters:")[1].strip()
        for line in formatted_plan(df).splitlines()
        if "PartitionFilters:" in line
    ]


def _subtree_has_aggregate(node) -> bool:
    if "Aggregate" in node.getClass().getSimpleName():
        return True
    children = node.children()
    return any(
        _subtree_has_aggregate(children.apply(i)) for i in range(children.size())
    )


def unpartitioned_window_violations(df: DataFrame) -> list[str]:
    """Unpartitioned Window nodes NOT sitting above an Aggregate.

    An unpartitioned window moves all data to one partition — safe
    only when its input is post-aggregate (≤ #groups rows).  SURVEY.md
    §4 promises this is asserted, not eyeballed; returns the offending
    nodes' simpleStrings (empty list = plan is safe).  Walks the
    *optimized logical* plan so AQE's physical wrappers don't hide
    subtrees.
    """
    violations: list[str] = []

    def walk(node) -> None:
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
            and not _subtree_has_aggregate(node)
        ):
            violations.append(node.simpleString(120))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return violations

