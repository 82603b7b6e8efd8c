"""MERGE INTO (upsert/delete) for the versioned parquet layout.

The reference stores every table in Delta (reference README.md:302-308;
TBLPROPERTIES in src/pipelines/bronze/orders.sql:9-15), whose flagship
write primitive is ``MERGE INTO`` — the reference's AUTO CDC flows
compile to exactly that under Databricks DLT (reference
docs/ARCHITECTURE.md CDC section). This module is the Spark-first
equivalent over the repo's versioned tables: ONE join computes the
post-merge relation — full-outer when an INSERT clause needs
source-only rows (a shuffle on the merge keys; no Spark strategy can
broadcast a full outer join), degrading to a left join when inserts
are disabled so a small source broadcasts and the merge becomes a
map-only pass over the target — and the two-phase
stage/CAS-promote in ``catalog.py`` gives it Delta-style optimistic
concurrency — a concurrent writer's commit between our read and our
promote raises :class:`~olist_lakehouse_2_0_spark.catalog.
ConcurrentWriteError` instead of silently losing their update.

Scale notes (100 TB):
- The merge is copy-on-write over the WHOLE table, like Delta's
  pre-deletion-vector COW path. At scale the next refinement is
  file/partition pruning (rewrite only partitions containing matched
  keys — compose with ``Catalog.write`` partition_by + dynamic
  partition overwrite when the table is date-partitioned); full COW is
  the correct baseline and is what Delta itself does for unpartitioned
  tables.
- Clause evaluation is branch-per-row inside one projection (whole-
  stage codegen), not N passes over the data.
- MERGE keys with NULLs never match (ANSI semantics); such source rows
  fall through to the not-matched clause — same as Delta.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    *,
    update_set: dict[str, Column] | None = None,
    matched_update_condition: Column | None = None,
    matched_delete_condition: Column | None = None,
    insert_when_not_matched: bool = True,
    not_matched_insert_condition: Column | None = None,
    delete_when_not_matched_by_source: Column | None = None,
    not_matched_by_source_update_set: dict[str, Column] | None = None,
    not_matched_by_source_update_condition: Column | None = None,
    validate_unique_source: bool = False,
) -> DataFrame:
    """Pure-DataFrame MERGE: returns the post-merge relation with the
    TARGET's schema. The caller persists it (``Catalog.merge_into``
    stages + CAS-promotes it as the next table version).

    Clause semantics (Delta ``MERGE INTO`` order — delete is evaluated
    before update when both are conditional, matching a merge written
    ``WHEN MATCHED AND <del> THEN DELETE WHEN MATCHED THEN UPDATE``):

    - matched + ``matched_delete_condition`` true -> row removed.
    - matched + ``matched_update_condition`` (default: always) ->
      target columns overwritten per ``update_set`` (default: every
      non-key column the source shares with the target, taken from the
      source). ``update_set`` expressions reference the two sides as
      ``F.col("t.<col>")`` / ``F.col("s.<col>")``.
    - matched, neither condition true -> target row kept unchanged.
    - source-only + ``insert_when_not_matched`` (optionally gated by
      ``not_matched_insert_condition``) -> inserted; inserted values
      are the source's columns for everything the source provides,
      NULL for target columns the source lacks.
    - target-only -> kept, unless ``delete_when_not_matched_by_source``
      (Delta's WHEN NOT MATCHED BY SOURCE THEN DELETE) evaluates true
      over the target row, or ``not_matched_by_source_update_set``
      (Delta's ... THEN UPDATE — e.g. mark rows the source stopped
      mentioning as stale) applies; its expressions may reference only
      ``t.*`` columns (there is no source row). Delete is evaluated
      before update, mirroring the matched ladder.

    ``validate_unique_source=True`` adds Delta's runtime check that no
    two source rows match the same target key (a planning-time
    aggregation job — one extra pass over the source only).
    """
    keys = list(on)
    if not keys:
        raise ValueError("merge requires at least one key column")
    for k in keys:
        if k not in source.columns or k not in target.columns:
            raise ValueError(f"merge key {k!r} missing from a side")

    if validate_unique_source:
        dup = (
            source.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "MERGE source has duplicate keys (multiple source rows "
                f"would match one target row), e.g. {dup[0][:-1]}"
            )

    t = target.alias("t")
    s = source.alias("s")
    t_cols = target.columns
    s_cols = set(source.columns)

    # Presence markers survive the full outer join where key columns
    # alone cannot distinguish "no match" from "matched a NULL key"
    # (NULL keys never match under equi-join — ANSI MERGE semantics).
    t = t.withColumn("__t_present", F.lit(True))
    s = s.withColumn("__s_present", F.lit(True))
    cond = None
    for k in keys:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    # Join type follows the clause set: only an INSERT clause needs
    # source-only rows. Without it a LEFT join suffices — and unlike
    # FULL OUTER (which no Spark strategy can broadcast; always a
    # shuffle+sort of BOTH sides), a left join lets Catalyst/AQE
    # broadcast a small source, turning update/delete-only merges into
    # a map-only pass over the target (tests/test_plans.py pins this).
    join_type = "full_outer" if insert_when_not_matched else "left_outer"
    joined = t.join(s, cond, join_type)

    matched = F.col("__t_present").isNotNull() & F.col("__s_present").isNotNull()
    source_only = F.col("__t_present").isNull()
    target_only = F.col("__s_present").isNull()

    upd_cond = (
        F.lit(True) if matched_update_condition is None else matched_update_condition
    )
    del_cond = (
        F.lit(False) if matched_delete_condition is None else matched_delete_condition
    )
    ins_cond = (
        F.lit(insert_when_not_matched)
        if not_matched_insert_condition is None
        else (F.lit(insert_when_not_matched) & not_matched_insert_condition)
    )
    nbs_del = (
        F.lit(False)
        if delete_when_not_matched_by_source is None
        else delete_when_not_matched_by_source
    )
    nbs_upd = (
        F.lit(False)
        if not_matched_by_source_update_set is None
        else (
            F.lit(True)
            if not_matched_by_source_update_condition is None
            else not_matched_by_source_update_condition
        )
    )

    # One action column, one filter, one projection: the whole clause
    # ladder stays inside a single whole-stage-codegen span after the
    # join (the plan census, tests/plan_census.json, pins the merge
    # queries' join and exchange counts).
    action = (
        F.when(matched & del_cond, F.lit("D"))
        .when(matched & upd_cond, F.lit("U"))
        .when(matched, F.lit("K"))
        .when(source_only & ins_cond, F.lit("I"))
        .when(source_only, F.lit("D"))
        .when(target_only & nbs_del, F.lit("D"))
        .when(target_only & nbs_upd, F.lit("V"))
        .otherwise(F.lit("K"))
    )

    if update_set is None:
        update_set = {
            c: F.col(f"s.{c}") for c in t_cols if c not in keys and c in s_cols
        }

    out_cols = []
    for c in t_cols:
        t_ref = F.col(f"t.{c}")
        if c in keys:
            # Keys: target side when present, else the inserted
            # source key.
            expr = F.coalesce(t_ref, F.col(f"s.{c}"))
        else:
            insert_val = (
                F.col(f"s.{c}") if c in s_cols else F.lit(None)
            ).cast(target.schema[c].dataType)
            update_val = update_set.get(c, t_ref).cast(
                target.schema[c].dataType
            )
            nbs_val = (not_matched_by_source_update_set or {}).get(
                c, t_ref
            ).cast(target.schema[c].dataType)
            expr = (
                F.when(F.col("__action") == "U", update_val)
                .when(F.col("__action") == "I", insert_val)
                .when(F.col("__action") == "V", nbs_val)
                .otherwise(t_ref)
            )
        out_cols.append(expr.alias(c))

    return (
        joined.withColumn("__action", action)
        .filter(F.col("__action") != "D")
        .select(*out_cols)
    )
