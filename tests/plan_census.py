"""Plan census: per-query node counts over every SQL execution it runs.

``census`` walks the SQL status store's plan graph of each execution
since ``mark``: the final AQE plan, construction-time executions (staging
writes, drains, equality proofs) and cached subtrees included; a subtree
AQE drops at run time (an empty relation) is not counted. The store is
live without the web UI. ``check`` fails when a count rises above the
query's line in ``plan_census.json``; a fall passes, because a warm
schema memo or index can only remove executions. Absent keys are 0.

Regenerate after an intended plan change (sf0.01, the suite's session,
the way ``test_oracle_parity::test_parity`` runs each query)::

    python -m tests.plan_census
"""

from __future__ import annotations

import json
import os

from perfbench.eventlog import _PYTHON_SCOPE

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_census.json")
NODES = (
    "AdaptiveSparkPlan", "Exchange", "BroadcastExchange", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
    "CartesianProduct", "InMemoryTableScan", "Window",
)


def mark(spark) -> int:
    """Id of the newest SQL execution so far, -1 before the first.

    Ids, not ``executionsCount()``: the store keeps only the newest
    ``spark.sql.ui.retainedExecutions``, so the count stops growing."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def census(spark, since: int) -> dict[str, int]:
    """Executions after id ``since`` and their plan nodes, zeros dropped."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    counts = dict.fromkeys(("executions", *NODES, "Python"), 0)
    for eid in range(since + 1, mark(spark) + 1):
        if store.execution(eid).isEmpty():
            continue
        counts["executions"] += 1
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            name = nodes.next().name()
            base = name.split("(")[0]  # SortMergeJoin(skew=true)
            if base in NODES:
                counts[base] += 1
            if _PYTHON_SCOPE.search(name):
                counts["Python"] += 1
    return {k: v for k, v in counts.items() if v}


def check(name: str, counts: dict[str, int], committed: dict) -> None:
    entry = committed.get(name)
    assert entry is not None, f"{name}: no plan census entry; run python -m tests.plan_census"
    rises = [f"{k} {entry.get(k, 0)} -> {v}" for k, v in counts.items() if v > entry.get(k, 0)]
    assert not rises, f"{name}: plan census rose: {', '.join(rises)}"


def load() -> dict:
    with open(PATH) as f:
        return json.load(f)


def main() -> None:
    from olist_lakehouse_2_0_spark.queries import all_queries
    from tests.conftest import SF_CORRECTNESS, new_session

    spark = new_session()
    lines = []
    for name, query in sorted(all_queries().items()):
        since = mark(spark)
        query(spark, SF_CORRECTNESS).toPandas()
        lines.append(f"{json.dumps(name)}: {json.dumps(census(spark, since))}")
    with open(PATH, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


if __name__ == "__main__":
    main()
