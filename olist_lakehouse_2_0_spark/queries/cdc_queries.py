"""CDC/SCD driver-contract queries over the ``events`` testdata table.

The events stream is interpreted as a CDC feed (FIXTURES.md §4 mapping:
events ≈ CDC feed): key = user_id, sequence = event_id, and operation
derived from event_type (signup -> INSERT, error -> DELETE, everything
else -> UPDATE). The engine's apply_changes operators
(operators/cdc.py) produce the SCD1 snapshot / SCD2 history; the DuckDB
oracles express the same semantics with window functions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import load, read_parquet
from olist_lakehouse_2_0_spark.operators.cdc import (
    CdcSink,
    ChangeSpec,
    scd1_snapshot,
    scd2_history,
)
from olist_lakehouse_2_0_spark.staging import staging_dir
from olist_lakehouse_2_0_spark.streaming.ingest import land, run_foreach_batch


EVENT_SPEC = ChangeSpec(
    keys=("user_id",),
    sequence_by=("event_id",),
    operation_col="__op",
    delete_ops=("DELETE",),
    except_columns=("props",),
)


def _as_change_feed(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    events = load(spark, sf_dir, "events", spread=spread)
    op = (
        F.when(F.col("event_type") == "signup", "INSERT")
        .when(F.col("event_type") == "error", "DELETE")
        .otherwise("UPDATE")
    )
    return events.withColumn("__op", op)


def _staged_change_feed(
    spark: SparkSession, sf_dir: str, tag: str, files: int
) -> tuple[str, DataFrame]:
    """The change feed landed round-robin as ``files`` parquet files
    under a fresh staging root, and the stream that replays them one
    file per micro-batch: each batch carries an arbitrary slice of
    every user's history, so events arrive out of sequence order.
    The scan is not spread first: the landing's own repartition is
    the one shuffle. Returns (root, stream)."""
    feed = _as_change_feed(spark, sf_dir, spread=False).select(
        "user_id", "event_id", "ts", "event_type", "value", "props", "__op"
    )
    root = staging_dir(tag)
    return root, land(feed, root, files)


def _scd1_out(snap: DataFrame) -> DataFrame:
    # __seq == event_id for single-column sequences; surface it as a
    # normal column for the oracle comparison.
    return snap.select(
        "user_id",
        F.col("__seq").alias("last_event_id"),
        F.col("ts").alias("last_change_ts"),
        F.col("event_type").alias("last_event_type"),
        "value",
    )


def _scd2_out(hist: DataFrame) -> DataFrame:
    return hist.select(
        "user_id",
        F.col("ts").alias("change_ts"),
        F.col("event_type"),
        "value",
        F.col("__start_at").alias("start_at"),
        F.col("__end_at").alias("end_at"),
        F.col("__is_current").alias("is_current"),
    )


def scd1_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 1: latest state per user; a trailing 'error' removes the
    user (C2, reference cdc_customers_silver.sql:54-61)."""
    feed = _as_change_feed(spark, sf_dir)
    return _scd1_out(scd1_snapshot(feed, EVENT_SPEC))


SCD1_USERS_SQL = """
WITH feed AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE event_type WHEN 'signup' THEN 'INSERT'
                         WHEN 'error' THEN 'DELETE'
                         ELSE 'UPDATE' END AS op
  FROM events
), latest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM feed
)
SELECT user_id,
       event_id AS last_event_id,
       ts AS last_change_ts,
       event_type AS last_event_type,
       value
FROM latest
WHERE rn = 1 AND op <> 'DELETE'
"""


def scd2_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2: full version history with __start_at/__end_at/
    __is_current; deletes close the open version (C3/C5, reference
    cdc_customers_silver.sql:78-85, docs/CDC_GUIDE.md:250-258)."""
    feed = _as_change_feed(spark, sf_dir)
    return _scd2_out(scd2_history(feed, EVENT_SPEC))


SCD2_USERS_SQL = """
WITH feed AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE event_type WHEN 'signup' THEN 'INSERT'
                         WHEN 'error' THEN 'DELETE'
                         ELSE 'UPDATE' END AS op
  FROM feed_base
), versioned AS (
  SELECT user_id, ts, event_type, value, op,
         event_id AS start_at,
         LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS end_at
  FROM feed
)
SELECT user_id, ts AS change_ts, event_type, value, start_at, end_at,
       end_at IS NULL AS is_current
FROM versioned
WHERE op <> 'DELETE'
"""
# feed_base is just `events`; DuckDB CTE naming kept flat:
SCD2_USERS_SQL = SCD2_USERS_SQL.replace("FROM feed_base", "FROM events")


def scd2_users_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL SCD2 merge path under the oracle gate (C2–C5):
    the change feed is re-staged as three hash-split parquet files and
    streamed one file per micro-batch through ``CdcSink`` — so each
    user's events arrive scattered across batches, OUT of sequence
    order — into a parquet SCD2 target via the read-merge-swap apply.
    The final history must equal the in-order batch rebuild the oracle
    computes: out-of-order resolution (C4), deletes closing versions
    (C5), and multi-batch merge idempotence are all inside the hash
    check. (``scd2_users`` verifies the one-shot batch path; this one
    verifies the streaming merge.)"""
    root, stream = _staged_change_feed(spark, sf_dir, "scd2_inc", files=3)
    target = os.path.join(root, "scd2")
    sink = CdcSink(target, EVENT_SPEC, scd_type=2)
    run_foreach_batch(stream, sink, os.path.join(root, "ckpt"))
    return _scd2_out(read_parquet(spark, target))


def scd1_users_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental SCD1 merge path under the oracle gate (C2/C4/C5
    streaming variant): same three hash-split micro-batches as
    :func:`scd2_users_incremental`, applied through ``CdcSink``
    (scd_type=1) with the delete-tombstone sidecar; the final snapshot
    must equal the in-order batch rebuild the oracle computes."""
    root, stream = _staged_change_feed(spark, sf_dir, "scd1_inc", files=3)
    target = os.path.join(root, "scd1")
    sink = CdcSink(target, EVENT_SPEC, scd_type=1)
    run_foreach_batch(stream, sink, os.path.join(root, "ckpt"))
    return _scd1_out(read_parquet(spark, target))


#: C6 spec: only event_type is TRACKED — ts/value changes alone do not
#: open a new version (TRACK HISTORY ON subset,
#: reference docs/CDC_GUIDE.md:167-180).
TRACK_SUBSET_SPEC = ChangeSpec(
    keys=("user_id",),
    sequence_by=("event_id",),
    operation_col="__op",
    delete_ops=("DELETE",),
    except_columns=("props",),
    track_history_except=("ts", "value"),
)


def scd2_track_history_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRACK HISTORY subset under the oracle gate (C6): SCD2 where only
    ``event_type`` is tracked — an event repeating its predecessor's
    type (predecessor not a delete) opens NO new version, so runs of
    same-type events collapse to one version spanning the run. The
    oracle recomputes suppression with LAG and must match version
    boundaries exactly. (pytest covers the operator in isolation; this
    puts the suppressed-version history itself under the hash gate.)"""
    feed = _as_change_feed(spark, sf_dir)
    return _scd2_out(scd2_history(feed, TRACK_SUBSET_SPEC))


SCD2_TRACK_HISTORY_SUBSET_SQL = """
WITH feed AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE event_type WHEN 'signup' THEN 'INSERT'
                         WHEN 'error' THEN 'DELETE'
                         ELSE 'UPDATE' END AS op
  FROM events
), marked AS (
  SELECT *,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type,
         LAG(op) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_op
  FROM feed
), surv AS (
  -- keep deletes, first events, events after a delete, and tracked-
  -- column changes; drop same-type repeats (the suppression rule)
  SELECT * FROM marked
  WHERE op = 'DELETE'
     OR prev_type IS NULL
     OR prev_op = 'DELETE'
     OR prev_type <> event_type
), versioned AS (
  SELECT user_id, ts, event_type, value, op,
         event_id AS start_at,
         LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS end_at
  FROM surv
)
SELECT user_id, ts AS change_ts, event_type, value, start_at, end_at,
       end_at IS NULL AS is_current
FROM versioned
WHERE op <> 'DELETE'
"""


def cdc_fanout_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream → SCD1 + SCD2 fan-out under the oracle gate (C7,
    reference cdc_customers_silver.sql both flows off one staging
    stream): the change feed is staged once, drained once, and EACH
    micro-batch is applied to BOTH a SCD1 ``CdcSink`` and a SCD2
    ``CdcSink``. The output full-outer-joins the SCD1 snapshot with
    the SCD2 current versions per key — both targets must agree on
    membership, sequence, and value (``consistent`` true everywhere),
    and the oracle recomputes the same join from the in-order rebuild,
    so divergence between the two fan-out legs fails the hash."""
    # TWO hash-split files -> two micro-batches: still a genuine
    # multi-batch drain with every user's history scattered out of
    # order across batches (the C7 semantics under test), at 4 target
    # applies instead of 6 — this query's warm floor was 2x the next
    # slowest and the third batch re-proved nothing the second didn't
    # (scd2_users_incremental keeps the 3-batch shape for C4 depth).
    root, stream = _staged_change_feed(spark, sf_dir, "cdc_fanout", files=2)
    scd1_sink = CdcSink(os.path.join(root, "scd1"), EVENT_SPEC, scd_type=1)
    scd2_sink = CdcSink(os.path.join(root, "scd2"), EVENT_SPEC, scd_type=2)

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        scd1_sink(batch_df, batch_id)
        scd2_sink(batch_df, batch_id)

    run_foreach_batch(stream, fanout, os.path.join(root, "ckpt"))

    snap = read_parquet(spark, os.path.join(root, "scd1")).select(
        "user_id",
        F.col("__seq").alias("snap_seq"),
        F.col("value").alias("snap_value"),
    )
    cur = (
        read_parquet(spark, os.path.join(root, "scd2"))
        .filter(F.col("__is_current"))
        .select(
            "user_id",
            F.col("__start_at").alias("cur_start"),
            F.col("value").alias("cur_value"),
        )
    )
    return snap.join(cur, "user_id", "full_outer").select(
        "user_id",
        "snap_seq",
        "snap_value",
        "cur_start",
        "cur_value",
        (
            F.coalesce(F.col("snap_seq") == F.col("cur_start"), F.lit(False))
            & F.col("snap_value").eqNullSafe(F.col("cur_value"))
        ).alias("consistent"),
    )


CDC_FANOUT_CONSISTENCY_SQL = """
WITH feed AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE event_type WHEN 'signup' THEN 'INSERT'
                         WHEN 'error' THEN 'DELETE'
                         ELSE 'UPDATE' END AS op
  FROM events
), latest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM feed
), snap AS (
  SELECT user_id, event_id AS snap_seq, value AS snap_value
  FROM latest WHERE rn = 1 AND op <> 'DELETE'
), versioned AS (
  SELECT user_id, value, op, event_id AS start_at,
         LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS end_at
  FROM feed
), cur AS (
  SELECT user_id, start_at AS cur_start, value AS cur_value
  FROM versioned WHERE op <> 'DELETE' AND end_at IS NULL
)
SELECT COALESCE(s.user_id, c.user_id) AS user_id,
       snap_seq, snap_value, cur_start, cur_value,
       COALESCE(snap_seq = cur_start, FALSE)
         AND (snap_value IS NOT DISTINCT FROM cur_value) AS consistent
FROM snap s FULL OUTER JOIN cur c ON s.user_id = c.user_id
"""


def scd2_validity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 validity SELF-JOIN check (J7, reference
    docs/CDC_GUIDE.md:279-308 verification queries) as DATA under the
    hash gate — previously pytest-only: over the engine's
    ``scd2_history`` output, per user emit the version count, the
    current-version count (must be 0 or 1), the closed-version count,
    and the successive-link count from the validity self-join
    (a.__end_at == b.__start_at). A gap or overlap in any user's
    validity chain changes n_links vs the oracle's in-order rebuild
    and fails the hash. The self-join is an equi-join on
    (user_id, boundary seq) — linear shuffle at any scale."""
    feed = _as_change_feed(spark, sf_dir)
    hist = scd2_history(feed, EVENT_SPEC).select(
        "user_id", "__start_at", "__end_at", "__is_current"
        # Both self-join sides + the audit aggregate read it lazily, so
        # it stays cached after return; see the cache rule in
        # ``queries/__init__``.
    ).persist()
    links = (
        hist.alias("a")
        .join(
            hist.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.__end_at") == F.col("b.__start_at")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    per_user = hist.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.col("__is_current").cast("int")).cast("long").alias("n_current"),
        F.count(F.when(F.col("__end_at").isNotNull(), 1)).alias("n_closed"),
    )
    return (
        per_user.join(links, "user_id", "left")
        .fillna(0, ["n_links"])
        .select("user_id", "n_versions", "n_current", "n_closed", "n_links")
    )


SCD2_VALIDITY_AUDIT_SQL = """
WITH feed AS (
  SELECT user_id, event_id, ts, event_type, value,
         CASE event_type WHEN 'signup' THEN 'INSERT'
                         WHEN 'error' THEN 'DELETE'
                         ELSE 'UPDATE' END AS op
  FROM events
), versioned AS (
  SELECT user_id, op, event_id AS start_at,
         LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS end_at
  FROM feed
), hist AS (
  SELECT user_id, start_at, end_at FROM versioned WHERE op <> 'DELETE'
), links AS (
  SELECT a.user_id, COUNT(*) AS n_links
  FROM hist a JOIN hist b
    ON a.user_id = b.user_id AND a.end_at = b.start_at
  GROUP BY a.user_id
)
SELECT h.user_id,
       COUNT(*) AS n_versions,
       CAST(SUM(CASE WHEN h.end_at IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_current,
       COUNT(CASE WHEN h.end_at IS NOT NULL THEN 1 END) AS n_closed,
       COALESCE(MAX(l.n_links), 0) AS n_links
FROM hist h LEFT JOIN links l ON h.user_id = l.user_id
GROUP BY h.user_id
"""


CDC_QUERIES = {
    "scd1_users": scd1_users,
    "scd2_users": scd2_users,
    "scd2_users_incremental": scd2_users_incremental,
    "scd1_users_incremental": scd1_users_incremental,
    "scd2_track_history_subset": scd2_track_history_subset,
    "cdc_fanout_consistency": cdc_fanout_consistency,
    "scd2_validity_audit": scd2_validity_audit,
}
CDC_ORACLES = {
    "scd1_users": SCD1_USERS_SQL,
    "scd2_users": SCD2_USERS_SQL,
    "scd2_users_incremental": SCD2_USERS_SQL,
    "scd1_users_incremental": SCD1_USERS_SQL,
    "scd2_track_history_subset": SCD2_TRACK_HISTORY_SUBSET_SQL,
    "cdc_fanout_consistency": CDC_FANOUT_CONSISTENCY_SQL,
    "scd2_validity_audit": SCD2_VALIDITY_AUDIT_SQL,
}
