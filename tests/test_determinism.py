"""Bit-identical results at any parallelism (docs/SCALE.md §1.6): the
registered queries whose averages, ratios and scores go through
``fixedpoint`` return the same rows at 3 and at 64 shuffle partitions."""

from __future__ import annotations

FIXEDPOINT_QUERIES = (
    "daily_orders",
    "orders_by_state",
    "seller_performance",
    "orders_rollup",
    "orders_cube",
    "doc_quality_by_source",
    "events_props_by_type",
    "hybrid_rrf_retrieval",
    "doc_novelty_profile",
    "unigram_logprob",
    "bigram_logprob",
    "kneser_ney_logprob",
    "ccnet_perplexity_buckets",
    "dsir_importance_weights",
    "embedding_neardup_verified",
    "bm25_doc_ranking",
    "doc_keywords",
)

# Coalescing off, so 64 partitions really are 64 tasks.
CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")


def _rows(spark, queries, sf: str, partitions: int) -> dict[str, list[str]]:
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # repr, so floats compare bit for bit and NaN equals itself
    return {
        name: sorted(repr(tuple(r)) for r in queries[name](spark, sf).collect())
        for name in FIXEDPOINT_QUERIES
    }


def test_fixedpoint_queries_identical_at_3_and_64_partitions(spark, sf_smoke):
    from olist_lakehouse_2_0_spark.queries import all_queries

    queries = all_queries()
    saved = {k: spark.conf.get(k, None) for k in CONFS}
    try:
        few = _rows(spark, queries, sf_smoke, 3)
        many = _rows(spark, queries, sf_smoke, 64)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()
    for name in FIXEDPOINT_QUERIES:
        assert few[name], f"{name}: no rows"
        assert few[name] == many[name], f"{name}: rows differ at 3 vs 64 partitions"
