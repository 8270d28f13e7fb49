"""Physical-plan inspection utilities.

The scale contract for every operator is written in its plan: filters
reach the scan, small sides broadcast, shuffles are keyed and counted.
These helpers make those properties assertable in tests and greppable
during development (`python -m riptable_spark.plans.inspect q13_asof_backward`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    if mode == "formatted":
        return qe.explainString(df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    return qe.executedPlan().toString()


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the executed plan (pre-AQE runtime
    re-use; an upper bound on real exchanges)."""
    return simple_plan(df).count("Exchange hashpartitioning") + simple_plan(df).count(
        "Exchange rangepartitioning"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df) or "BroadcastNestedLoopJoin" in simple_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", simple_plan(df)):
        if m.group(1).strip():
            out.append(m.group(1))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Column list actually read by each parquet scan (the ReadSchema line
    is truncated in plan strings; the FileScan bracket list is complete)."""
    out = []
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", simple_plan(df)):
        cols = [c.split("#")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def _walk_plan(node):
    yield node
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        # AQE wrapper holds the plan as a field, not a child
        yield from _walk_plan(node.initialPlan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk_plan(children.apply(i))


def exchanges(df: DataFrame) -> list[tuple[str, list[str]]]:
    """(partitioning, [output column simpleString types]) for every shuffle
    Exchange in the executed plan. Lets tests pin what an exchange CARRIES,
    not just that it exists — e.g. 'the (table, bucket) candidate shuffle
    ships no array payloads'."""
    out = []
    for node in _walk_plan(df._jdf.queryExecution().executedPlan()):
        if node.nodeName() == "Exchange":
            part = node.outputPartitioning().toString()
            attrs = node.output()
            types = [attrs.apply(i).dataType().simpleString() for i in range(attrs.size())]
            out.append((part, types))
    return out


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present: HashAggregate appears both below and
    above the exchange."""
    plan = simple_plan(df)
    return plan.count("HashAggregate") >= 2 or "partial_" in plan


# Checkpoint provenance (round 7): localCheckpoint truncates a plan to
# a LogicalRDD scan, hiding any aggregation below it — so a legitimate
# global window over a checkpointed AGGREGATE looked like a raw-data
# global window (round 6 flagged q651/q652 and patched it with per-query
# allowlist entries; this registry replaces them). Operators that
# checkpoint an aggregate-sized relation tag the materialized RDD id;
# _has_aggregate_below treats a scan of a tagged RDD as aggregated.
_AGG_RDD_IDS: set[int] = set()


def mark_aggregated(df: DataFrame) -> DataFrame:
    """Tag a just-checkpointed relation as aggregate-sized for the plan
    linter. Call ON the DataFrame returned by ``localCheckpoint`` (its
    analyzed plan must be the RDD scan itself — anything stacked on top
    hides the RDD id). Returns ``df`` unchanged for chaining."""
    try:
        _AGG_RDD_IDS.add(int(df._jdf.queryExecution().analyzed().rdd().id()))
    except Exception:
        pass  # not an RDD-backed plan — nothing to tag
    return df


def _has_aggregate_below(node) -> bool:
    for n in _walk_plan(node):
        if "Aggregate" in n.nodeName():
            return True
        if "ExistingRDD" in n.nodeName():
            try:
                if int(n.rdd().id()) in _AGG_RDD_IDS:
                    return True
            except Exception:
                pass
    return False


def lint(df: DataFrame) -> list[str]:
    """Scale lint: walk the executed plan and flag the patterns that are
    harmless at sf0.1 and fatal at 100 TB. Returns human-readable
    warnings (empty list = clean). Checks:

    - ``cartesian-product``: CartesianProduct / unhinted
      BroadcastNestedLoopJoin — O(n·m) pair generation;
    - ``global-window``: a Window with an EMPTY partition spec — every
      row flows through ONE task;
    - ``global-sort-to-single``: Sort that is global (an orderBy without
      a following limit collapses to rangepartitioning; fine) — flagged
      only when the range exchange has 1 partition;
    - ``python-row-udf``: BatchEvalPython — row-at-a-time Python in the
      hot path (Arrow stages, which are fine, appear as
      ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas and are NOT
      flagged).
    """
    warnings: list[str] = []
    for node in _walk_plan(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        if name == "CartesianProduct":
            warnings.append("cartesian-product: CartesianProduct joins every row with every row")
        elif name == "BroadcastNestedLoopJoin":
            warnings.append(
                "cartesian-product: BroadcastNestedLoopJoin — non-equi join condition; "
                "fine only when the broadcast side is a scalar/tiny relation"
            )
        elif name == "Window":
            try:
                spec = node.partitionSpec()
                if spec.size() == 0 and not _has_aggregate_below(node):
                    # a global window over an AGGREGATED relation is the
                    # legitimate rank-map pattern (rankdata, build_vocab):
                    # its row count is the group cardinality, not the
                    # corpus — only flag raw-data global windows
                    warnings.append(
                        "global-window: Window with empty partitionBy over unaggregated input — "
                        "single-task bottleneck; use blocked/rank-arithmetic forms "
                        "(see window.py ungrouped ops)"
                    )
            except Exception:
                pass
        elif name == "BatchEvalPython":
            warnings.append(
                "python-row-udf: row-at-a-time Python UDF — use built-in exprs or a Pandas UDF"
            )
        elif name == "Exchange":
            part = node.outputPartitioning().toString()
            if "rangepartitioning" in part and ", 1)" in part:
                warnings.append("global-sort-to-single: range exchange into ONE partition")
    return warnings


def main() -> None:
    import sys

    sys.path.insert(0, "/root/repo")
    from riptable_spark import queries2  # noqa: F401
    from riptable_spark.queries import QUERIES
    from riptable_spark.session import get_spark

    spark = get_spark("plan_inspect")
    name = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    df = QUERIES[name](spark, sf)
    print(plan_string(df))
    print("shuffles:", count_shuffles(df))
    print("broadcast:", has_broadcast_join(df))
    print("pushed:", pushed_filters(df))


if __name__ == "__main__":
    main()
