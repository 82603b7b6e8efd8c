"""Staging-root lifecycle: bounded retention under a tag."""

from __future__ import annotations


def test_staging_dir_retains_previous_root():
    """Bounded retention: requesting a new root under a tag keeps the
    PREVIOUS root alive (a lazy reader over it must stay valid) and
    deletes only older generations (ADVICE r3)."""
    import os

    from olist_lakehouse_2_0_spark import staging

    r1 = staging.staging_dir("test_retention")
    r2 = staging.staging_dir("test_retention")
    assert os.path.isdir(r1) and os.path.isdir(r2)
    r3 = staging.staging_dir("test_retention")
    assert not os.path.exists(r1), "oldest root should be rotated out"
    assert os.path.isdir(r2) and os.path.isdir(r3)


def test_deleted_roots_leave_no_schema_memo_entries(spark, sf_smoke):
    """Deleting a staging root evicts the schema-memo entries under it:
    repeated incremental queries leave no entry for a deleted path, and
    the memo stops growing once the roots rotate."""
    import os

    from olist_lakehouse_2_0_spark import catalog
    from olist_lakehouse_2_0_spark.queries import all_queries

    queries = all_queries()
    before = set(catalog._SCHEMA_MEMO)
    sizes = []
    for _ in range(5):
        for name in ("scd2_users_incremental", "events_gold_incremental"):
            queries[name](spark, sf_smoke).write.format("noop").mode("overwrite").save()
        added = [k[0] for k in catalog._SCHEMA_MEMO if k not in before]
        assert added and all(os.path.exists(p) for p in added)
        sizes.append(len(catalog._SCHEMA_MEMO))
    assert len(set(sizes[1:])) == 1, sizes
