"""Physical-plan assertions — the 100 TB design contract, executable.

The scale properties SURVEY.md §7 promises (single-shuffle sessionization,
broadcast dims, pushdown/pruning at the scan) are easy to regress silently:
one refactor and Catalyst plans an extra exchange or flips a broadcast join
to sort-merge. These helpers read the *executed* plan (post-AQE) so tests
can pin the properties.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """String form of the executed (post-AQE-planning) physical plan.

    Once AQE finalizes (after an action), ``AdaptiveSparkPlan.toString``
    prints BOTH the ``== Final Plan ==`` and the ``== Initial Plan ==``
    sections — naive substring counting then sees every node twice and
    reports phantom duplicate subtrees. Only the final section executes,
    so the initial-plan echo is stripped before any counting.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==", 1)[0]


def plan_counts(df: DataFrame) -> dict[str, int]:
    plan = executed_plan(df)
    return {
        # \bExchange\b does not match inside "BroadcastExchange" (no word
        # boundary between 't' and 'E'), so this counts shuffles only.
        "exchange": len(re.findall(r"\bExchange\b|\bShuffleExchange", plan)),
        "broadcast_exchange": plan.count("BroadcastExchange"),
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "sort": plan.count("+- Sort") + plan.count(":- Sort"),
        "window": plan.count("Window"),
        "hash_aggregate": plan.count("HashAggregate"),
        "cartesian": plan.count("CartesianProduct"),
        "nested_loop_join": plan.count("BroadcastNestedLoopJoin"),
        "expand": plan.count("Expand"),
    }
