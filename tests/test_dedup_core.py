"""The near-dup family's cap boundary, which lives in one place: a key
held by exactly ``cap`` rows is kept, a key held by ``cap + 1`` rows is
dropped — in the frequency cut (count + semi-join), in the grouped
bucket's size filter, and through the operators that expose the cap
(``jaccard_pairs(max_shingle_df=…)``, ``winnow_overlap_pairs(max_fp_df=…)``).
"""

from __future__ import annotations

import pytest

from olist_lakehouse_2_0_spark.operators.dedup import (
    _bucket_pairs,
    _frequency_cut,
    jaccard_pairs,
)
from olist_lakehouse_2_0_spark.operators.text import winnow_overlap_pairs


@pytest.mark.parametrize("keys", [["k"], ["band", "k"]])
def test_frequency_cut_keeps_key_at_cap_drops_key_above(spark, keys):
    cap = 3
    # key 1 held by exactly cap rows, key 2 by cap + 1, key 3 by one row
    rows = [(i, 0, 1) for i in range(cap)]
    rows += [(10 + i, 0, 2) for i in range(cap + 1)]
    rows += [(20, 0, 3)]
    df = spark.createDataFrame(rows, "id long, band int, k int")
    got = sorted(r.id for r in _frequency_cut(df, keys, cap).collect())
    assert got == [0, 1, 2, 20]


def test_bucket_pairs_keeps_bucket_at_cap_drops_bucket_above(spark):
    cap = 3
    rows = [(0, 1, i) for i in range(cap)] + [(0, 2, 10 + i) for i in range(cap + 1)]
    df = spark.createDataFrame(rows, "band int, bucket int, __id long")
    got = {(r.id_a, r.id_b) for r in _bucket_pairs(df, ["band", "bucket"], "__id", cap).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}
    uncapped = _bucket_pairs(df, ["band", "bucket"], "__id").count()
    assert uncapped == 3 + 6


def test_jaccard_pairs_keeps_shingle_at_max_shingle_df(spark):
    # "a b c" is held by all three documents; every other shingle by one.
    rows = [(1, "a b c d"), (2, "a b c e"), (3, "a b c f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(cap):
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(
                df, "doc_id", "text", threshold=0.3, max_shingle_df=cap
            ).collect()
        }

    # kept at the cap: each pair shares 1 of 3 distinct shingles
    assert pairs(3) == {(1, 2): 1 / 3, (1, 3): 1 / 3, (2, 3): 1 / 3}
    # held by cap + 1 documents: cut, and nothing else is shared
    assert pairs(2) == {}


def test_winnow_overlap_pairs_keeps_print_at_max_fp_df(spark):
    # Three identical documents: every fingerprint is held by exactly 3.
    text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, text)], "doc_id long, text string"
    )

    def pairs(cap):
        return {
            (r.id_a, r.id_b): r.overlap
            for r in winnow_overlap_pairs(
                df, "doc_id", "text", min_overlap=0.5, max_fp_df=cap
            ).collect()
        }

    assert pairs(3) == {(1, 2): 1.0, (1, 3): 1.0, (2, 3): 1.0}
    assert pairs(2) == {}


def test_canonical_per_key_matches_pairs_components_window(spark):
    """``dedup_canonical``'s one group-by on the fingerprint picks what
    the pair path picked (equal-key pairs → ``dedup_components(cliques=True)``
    → length join → rank windows): the longest text, ties to the lowest
    doc_id, the same ``n_members``, singletons dropped."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from olist_lakehouse_2_0_spark.operators import text as ops_text
    from olist_lakehouse_2_0_spark.operators.dedup import (
        _equal_key_pairs,
        dedup_components,
    )
    from olist_lakehouse_2_0_spark.queries.llm_queries import _canonical_per_key

    docs = spark.createDataFrame(
        [
            # a 3-member group whose longest text is not the lowest id
            (7, "the cat sat"), (3, "The  cat sat"), (5, " the cat  sat "),
            # a length tie: the lower id wins
            (9, "Dog Runs "), (4, " dog runs"),
            # unique fingerprints: singletons, dropped
            (1, "alpha"), (2, "beta beta"), (6, "gamma"),
        ],
        "doc_id long, text string",
    )
    fp = docs.select(
        "doc_id", F.length("text").alias("n_len"), ops_text.fingerprint("text").alias("fp")
    )
    members = dedup_components(_equal_key_pairs(fp, "doc_id", "fp"), cliques=True).join(
        fp.select("doc_id", "n_len"), "doc_id"
    )
    pick = W.partitionBy("component").orderBy(F.desc("n_len"), F.asc("doc_id"))
    expected = (
        members.withColumn("rn", F.row_number().over(pick))
        .withColumn("n_members", F.count(F.lit(1)).over(W.partitionBy("component")))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_doc_id"),
            "n_members",
            F.col("n_len").cast("long").alias("canonical_len"),
        )
    )
    got = _canonical_per_key(docs)
    assert got.dtypes == expected.dtypes
    assert sorted(got.collect()) == sorted(expected.collect())
    assert sorted(tuple(r) for r in got.collect()) == [(3, 5, 3, 14), (4, 4, 2, 9)]
