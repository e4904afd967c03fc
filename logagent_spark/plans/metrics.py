"""Post-execution SQL-metric readers — the measured counterpart to the
plan-shape gates in tests/test_plans.py.

Plan strings prove an Exchange exists; these read what it actually
moved. Used by the shuffle-volume pytest gates (the UI/REST endpoint
is disabled in this session factory, so metrics come from the executed
plan tree itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["shuffle_write_bytes", "shuffle_write_records"]


def _walk(node, out):
    name = node.getClass().getSimpleName()
    out.append((name, node))
    if name.endswith("QueryStageExec"):
        _walk(node.plan(), out)
    ch = node.children()
    for i in range(ch.length()):
        _walk(ch.apply(i), out)


def _sum_metric(df: DataFrame, key: str) -> int:
    """Sum a SQL metric over every exchange in df's EXECUTED plan.

    Call after an action on the SAME DataFrame object (`df.collect()` /
    `df.count()` builds a fresh plan for the count aggregate, so run
    the action through `df` itself — e.g. aggregate first, then collect
    the aggregate and pass the aggregate here). ReusedExchangeExec
    shares its child's metrics and is skipped to avoid double counting.
    """
    p = df._jdf.queryExecution().executedPlan()
    if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        p = p.executedPlan()
    nodes: list = []
    _walk(p, nodes)
    total = 0
    for name, n in nodes:
        if name == "ReusedExchangeExec":
            continue
        m = n.metrics()
        if m.contains(key):
            total += m.apply(key).value()
    return int(total)


def shuffle_write_bytes(df: DataFrame) -> int:
    """Total bytes written by every shuffle in df's executed plan."""
    return _sum_metric(df, "shuffleBytesWritten")


def shuffle_write_records(df: DataFrame) -> int:
    """Total records written by every shuffle in df's executed plan."""
    return _sum_metric(df, "shuffleRecordsWritten")
