"""Cache-scope tripwire.

`scoped_persist` retention deliberately lets one query's cache survive
into the NEXT builder's scope.  Today no bench
headliner consumes a predecessor's substrate — every persist is keyed
on query-private intermediates — so no cross-query subsidy exists.
But one shared-substrate refactor away, a headliner could silently
plan against a predecessor's InMemoryRelation and the bench would
measure cache hits instead of computation (gaming, per the round
rules).  This test locks the seam: run two bench headliners
back-to-back (a persist-heavy one first) and assert the second's
EXECUTED plan contains no InMemoryTableScan at all.
"""

from __future__ import annotations

from bench import HEADLINE
from metoffice_spark.registry import all_queries

# First: a headliner with scoped persists (pagerank caches the edge
# relation twice). Second: a persist-free relational headliner — any
# InMemoryTableScan in ITS plan can only come from a leaked scope.
_PERSIST_HEAVY = "q_graph_pagerank"
_PERSIST_FREE = "q_olap_local_supplier"


def test_bench_headliner_plans_do_not_cross_scopes(spark, sf_smoke):
    reg = all_queries()
    assert _PERSIST_HEAVY in HEADLINE and _PERSIST_FREE in HEADLINE

    first = reg[_PERSIST_HEAVY](spark, sf_smoke)
    first.write.format("noop").mode("overwrite").save()  # caches populated
    # Plan the first frame now, while its own scope is the current one:
    # planned later, the result would depend on which scopes earlier
    # tests left in the retention queue.
    plan_first = first._jdf.queryExecution().executedPlan().toString()

    second = reg[_PERSIST_FREE](spark, sf_smoke)
    # executedPlan AFTER the first query ran: if a retained scope leaked
    # into this builder, CacheManager would substitute an
    # InMemoryRelation here and the scan would show as InMemoryTableScan.
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, (
        f"{_PERSIST_FREE} plans against a cached relation it did not "
        f"build — a scoped_persist crossed the builder boundary:\n{plan}"
    )
    # sanity: the tripwire is live — the persist-heavy query really did
    # populate a cache in this session (otherwise the assertion above
    # can never fire and the test is vacuous)
    assert "InMemoryTableScan" in plan_first
