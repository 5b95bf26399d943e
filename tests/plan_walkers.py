"""Shared physical-plan walker for the global-window scale locks.

ONE boundedness rule, used by both test_no_unbounded_global_windows
(repo-wide tripwire) and test_distributed_windows (helper plan lock),
so the two suites cannot drift apart (r06 review).

An empty-partition Window node is SANCTIONED only when, somewhere
below it in the physical plan, there is:

- a Limit node (Global/Local/TakeOrdered) — post-top-k results are
  bounded by the literal k; or
- an Aggregate grouped on the ``__gpid`` range-partition id — the
  per-partition offsets tables of functions/distributed.py, bounded
  by ``spark.sql.shuffle.partitions``.

An Aggregate on arbitrary keys does NOT sanction (r06 review: the
pre-migration scale-killers — global ranks over per-customer /
per-key aggregate tables — all had exactly that shape), and neither
does an ungrouped 1-row aggregate (those ride along under every
``crossJoin(broadcast(agg))`` scalar and would sanction the same
reverted shapes). Queries whose
global window runs over a genuinely bounded non-pid aggregate (decile
tables, calendar days, sketch registers) must be listed explicitly in
the caller's allowlist with their expected window count.

A persisted frame is an ``InMemoryTableScan`` leaf of the plan that
reads it. The window, Cartesian and nested-loop walkers descend from
it into the cached frame's own physical plan (through the AQE wrapper
to its input plan), once per cache however many scans read it.
``exchange_count`` keeps the leaf rule.
"""

from __future__ import annotations

from collections import deque
from itertools import islice

from pyspark import SparkContext


def _head(node) -> str:
    s = node.toString()
    return s.splitlines()[0] if s else ""


def _cached_plan(node):
    """The physical plan of the cache an InMemoryTableScan reads, else
    None."""
    if node.nodeName() != "InMemoryTableScan":
        return None
    plan = node.relation().cacheBuilder().cachedPlan()
    return plan.inputPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


def _kids(node) -> list:
    return [node.children().apply(j) for j in range(node.children().length())]


def plan_nodes(plan):
    """Every node of ``plan`` and of each cached plan below it, in
    breadth-first order; a cache read by several scans is walked once
    (caches are told apart by JVM object identity)."""
    jutil = SparkContext._jvm.java.util
    seen = jutil.Collections.newSetFromMap(jutil.IdentityHashMap())
    queue = deque([plan])
    while queue:
        node = queue.popleft()
        yield node
        queue += _kids(node)
        cached = _cached_plan(node)
        if cached is not None and cached not in seen:
            seen.add(cached)
            queue.append(cached)


def _below(node):
    """The nodes under ``node``, caches included (see plan_nodes)."""
    return islice(plan_nodes(node), 1, None)


def _sanctions(node) -> bool:
    name = node.nodeName()
    if "Limit" in name or "TakeOrdered" in name:
        return True
    if "Aggregate" in name and "keys=[__gpid" in _head(node):
        return True
    return False


def _has_sanction_below(node) -> bool:
    return any(_sanctions(n) for n in _below(node))


def _first_agg_head_below(node) -> str:
    """Head line of the shallowest Aggregate below ``node`` (BFS), or
    'no-aggregate-below' — identifies WHICH bounded table an
    allowlisted global window runs over, so swapping it for a
    data-sized input changes the descriptor and trips the test."""
    return next(
        (_head(n)[:160] for n in _below(node) if "Aggregate" in n.nodeName()),
        "no-aggregate-below",
    )


def unbounded_global_windows_in(plan) -> list[str]:
    """Descriptors ('<node name> over <first agg head below>') of
    empty-partition Window nodes with no sanctioning node below them.
    A Window-looking node whose partitionSpec cannot be read is
    REPORTED, not skipped — a walker that goes blind after a Spark
    upgrade must fail the suite, not pass it vacuously."""
    bad: list[str] = []
    for node in plan_nodes(plan):
        name = node.nodeName()
        if "Window" not in name:
            continue
        try:
            empty = node.partitionSpec().isEmpty()
        except Exception as e:  # noqa: BLE001 - surface, don't skip
            bad.append(f"{name} (partitionSpec unreadable: {type(e).__name__})")
            continue
        if empty and not _has_sanction_below(node):
            bad.append(f"{name} over {_first_agg_head_below(node)}")
    return bad


def unbounded_global_windows(df) -> list[str]:
    return unbounded_global_windows_in(df._jdf.queryExecution().sparkPlan())


def cartesian_product_count(plan) -> int:
    """CartesianProduct nodes only — the NON-broadcast nested loop.
    Unlike BroadcastNestedLoopJoin (bounded build side shipped to
    every task), a CartesianProduct multiplies the PARTITION COUNTS
    of its inputs (left x right tasks), so a chain of them schedules
    millions of tasks even over 1-row inputs. Never acceptable in a
    registered query at any SF: a semantically tiny side must be
    broadcast explicitly (Catalyst's size estimate cannot see through
    filters on derived columns, so the strategy FLIPS with SF)."""
    return sum("CartesianProduct" in node.nodeName() for node in plan_nodes(plan))


def nested_loop_join_count(plan) -> int:
    """CartesianProduct + BroadcastNestedLoopJoin nodes in a physical
    plan node — the per-row join shapes that explode at scale unless
    one side is a bounded broadcast (1-row scalars, vocab grids)."""
    return sum(
        "CartesianProduct" in name or "BroadcastNestedLoop" in name
        for name in (node.nodeName() for node in plan_nodes(plan))
    )


def exchange_count(plan) -> int:
    """Shuffle and broadcast Exchange nodes of a physical plan, read
    through the AQE wrapper and into subquery plans. A cached frame is
    an InMemoryTableScan leaf: its lineage is not counted."""
    count = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in ("Exchange", "BroadcastExchange"):
            count += 1
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        for seq in (node.children(), node.subqueries()):
            stack += [seq.apply(j) for j in range(seq.length())]
    return count
