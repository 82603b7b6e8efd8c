"""Repeated queries reuse their generated code.

The session's codegen cache (``spark.sql.codegen.cache.maxEntries`` in
``get_spark``) must hold the working set of a query mix, or every warm
pass recompiles through Janino and re-warms the JIT.
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _olap_queries() -> list[str]:
    # the olap_sf0.1 benchmark workload: gold KPIs, windows, joins, a
    # masked read and LLM dedup/top-k
    with open(os.path.join(REPO, "perfbench", "workloads.json")) as fh:
        return json.load(fh)["olap_sf0.1"]["queries"]


def test_second_pass_compiles_no_class(spark, sf_smoke):
    from olist_lakehouse_2_0_spark.queries import all_queries

    queries = all_queries()
    names = _olap_queries()
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def run_pass() -> None:
        for name in names:
            df = queries[name](spark, sf_smoke)
            df.write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    run_pass()
    before = compiles.getCount()
    run_pass()
    assert compiles.getCount() - before == 0
