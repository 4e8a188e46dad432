"""Plan inspection helpers.

Used by tests (and available to users) to verify that operators compile to
the physical plans they are designed for: filters pushed to the parquet
scan, small sides broadcast, one exchange reused across chained windows.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the physical plan (broadcast exchanges excluded).

    Substring count, not line-anchored: plan trees prefix left-branch nodes
    with ':' characters, which a '^\\s*[+-]' anchor misses (that bug made a
    2-exchange join plan count as 1)."""
    plan = physical_plan(df)
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")


def count_broadcasts(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastExchange")


def pushed_filters(df: DataFrame) -> str:
    """PushedFilters section of the scan node ('' if none)."""
    m = re.search(r"PushedFilters: \[([^\]]*)\]", physical_plan(df))
    return m.group(1) if m else ""


def read_schema(df: DataFrame) -> str:
    """ReadSchema of the parquet scan ('' if no file scan)."""
    m = re.search(r"ReadSchema: ([^\n]*)", physical_plan(df))
    return m.group(1) if m else ""


def python_scans(df: DataFrame) -> int:
    """``Scan ExistingRDD`` leaves whose RDD lineage holds a PythonRDD —
    rows a Python worker must produce on every action (a
    ``createDataFrame`` of a row list). ``materialize`` pins are the
    other ExistingRDD leaves; their lineage stops at the checkpoint."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = (leaves.apply(i) for i in range(leaves.size()))
    return sum(
        "PythonRDD" in s.rdd().toDebugString()
        for s in scans
        if s.nodeName() == "Scan ExistingRDD"
    )
