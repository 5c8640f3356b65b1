"""Plan-inspection utilities — the engine's scale properties, checkable.

The reference has no optimizer and therefore nothing to inspect (SURVEY.md
§4.1); in this engine the physical plan IS the scale contract: filters must
reach the scan, dimensions must broadcast, aggregations must be partial,
top-k must avoid global sorts. These helpers read the physical plan string
of a DataFrame's own QueryExecution. Until that QueryExecution has run, this
is the AQE *initial* plan (``isFinalPlan=false``), not the plan AQE
re-plans at run time; ``df.write`` and ``df.count()`` run other
QueryExecutions and leave it initial. For the final plan, run it first
(``qe = df._jdf.queryExecution(); qe.toRdd().count()``, then
``qe.executedPlan()``).

Used by tests/test_plans.py (mechanical gates) and tools/plan_audit.py
(the reviewable PLANS.md dump).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """String form of ``df``'s physical plan: the AQE initial plan
    (``isFinalPlan=false``) unless ``df``'s own QueryExecution has
    already run."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(plan: str) -> list[str]:
    """The PushedFilters lists attached to the plan's file scans. (Plan
    strings truncate long operator fields with '...', so the list may be a
    prefix — match on containment, not equality.)"""
    return re.findall(r"PushedFilters: \[([^\]\n]*)", plan)


def read_schemas(plan: str) -> list[str]:
    """The ReadSchema struct strings of the plan's file scans — what the
    columnar reader will actually materialize (column pruning check)."""
    return [m.splitlines()[0] for m in plan.split("ReadSchema:")[1:]]


def count_exchanges(plan: str, kind: str = "") -> int:
    """Number of Exchange operators (shuffles); ``kind`` narrows the match,
    e.g. ``hashpartitioning(user_id``."""
    return plan.count(f"Exchange {kind}" if kind else "Exchange")


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_partial_aggregation(plan: str) -> bool:
    """Map-side (partial) aggregation present — shuffles carry group states,
    not raw rows."""
    return "partial_" in plan


def is_take_ordered(plan: str) -> bool:
    """Top-k compiled to TakeOrderedAndProject (per-partition heaps + k-row
    merge) rather than a global sort."""
    return "TakeOrderedAndProject" in plan

