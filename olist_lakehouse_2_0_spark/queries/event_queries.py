"""Event-stream analytics queries over the driver's ``events`` table
(event_id, ts, user_id, event_type, value, props-JSON).

Beyond-reference surface: the reference's streaming layer is
ingestion-only (SURVEY.md §2.9), but an engine replacing it needs the
event-time window toolkit. Each query here runs the SAME operator
(streaming/windows.py) that the streaming tests drive through
``readStream`` — batch/stream unification — and has a DuckDB oracle
twin for hash-checked correctness.

Scale notes: the window/aggregate shapes are single-shuffle groupBys
with map-side partial aggregation; session windows keep state per
user_id partition only; the streaming queries (CSV ingest, incremental
SCD, incremental gold) run real checkpointed micro-batch drains whose
final tables the oracle hash-checks. None of them collect to the
driver.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import load
from olist_lakehouse_2_0_spark.fixedpoint import ratio
from olist_lakehouse_2_0_spark.staging import staging_dir
from olist_lakehouse_2_0_spark.streaming.ingest import (
    land,
    read_csv_stream,
    run_foreach_batch,
    run_to_parquet,
)
from olist_lakehouse_2_0_spark.streaming.windows import (
    extract_json_props,
    sessionize,
    sliding_window_agg,
    tumbling_window_agg,
)


def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (count / distinct users /
    exact-decimal value sum)."""
    return tumbling_window_agg(load(spark, sf_dir, "events"), duration="1 hour")


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(18,2)) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY date_trunc('hour', ts), event_type
"""


def events_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows hopping every 30 minutes: each event
    contributes to exactly 2 windows."""
    return sliding_window_agg(
        load(spark, sf_dir, "events"), duration="1 hour", slide="30 minutes"
    )


# Every event belongs to exactly two hopping windows: the one starting
# at its own 30-min bucket and the one starting 30 min earlier (window
# alignment is epoch-anchored in both engines, so half-hour boundaries
# coincide).
EVENTS_SLIDING_SQL = """
SELECT ws AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(18,2)) AS sum_value
FROM (
    SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                   time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws,
           event_type,
           value
    FROM events
    WHERE ts IS NOT NULL
)
GROUP BY ws, event_type
"""


def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-based sessions (30-min inactivity gap) via Spark's
    native ``session_window`` stateful operator."""
    return sessionize(load(spark, sf_dir, "events"), gap="30 minutes")


# Oracle re-derives the same sessions with the lag + running-sum window
# idiom: a new session starts when the gap to the previous event is
# >= 30 min (session_window merges only events strictly inside the gap).
EVENTS_SESSIONS_SQL = """
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
    SELECT user_id, ts, value,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(18,2)) AS sum_value
FROM numbered
GROUP BY user_id, sess_id
"""


def events_streaming_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING leg of gap-based sessionization under the hash
    gate: the same ``session_window`` expression as
    ``events_sessionized``, but executed as Spark's native stateful
    session operator through a checkpointed availableNow drain —
    session state merges across the watermark horizon and each session
    emits exactly once when the watermark passes its end. A far-future
    flush row (user -1) advances the watermark past every real
    session's close so the append-mode sink holds the COMPLETE session
    relation; the flush user's own (never-closed) session is excluded.
    The oracle is the SAME gaps-and-islands SQL as the batch query —
    streaming sessionization must produce the identical relation, so a
    session split, merged, double-emitted, or lost by the state
    machinery fails the hash. State is watermark-bounded (the 100 TB
    property); the drain sizes its state-store partition count from
    its backlog (``streaming.ingest._drain``)."""
    feed = (
        load(spark, sf_dir, "events", spread=True)
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "value")
    )
    flush = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"),
    )
    root = staging_dir("stream_sessions")
    stream = land(feed.unionByName(flush), root)
    sessions = sessionize(stream.withWatermark("ts", "30 minutes"))
    back = run_to_parquet(
        sessions, os.path.join(root, "sessions"), os.path.join(root, "ckpt")
    )
    return back.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "session_start"
    )


def events_props_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (JVM ``get_json_object``, no UDF) +
    per-type aggregate over the extracted integer field."""
    events = extract_json_props(load(spark, sf_dir, "events", spread=True), field="k")
    # Integer average in 1e-6 units (see fixedpoint).
    return (
        events.groupBy("event_type")
        .agg(
            F.count("props_k").alias("n_with_k"),
            F.min("props_k").alias("min_k"),
            F.max("props_k").alias("max_k"),
            F.sum("props_k").cast("long").alias("__sum_k"),
        )
        .withColumn(
            "avg_k",
            ratio("__sum_k", "n_with_k", 1000000).cast("double") / F.lit(1e6),
        )
        .drop("__sum_k")
    )


EVENTS_PROPS_SQL = """
WITH g AS (
  SELECT event_type,
         COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
         MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
         MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
  FROM events
  GROUP BY event_type
)
SELECT event_type, n_with_k, min_k, max_k,
       CAST((sum_k // NULLIF(n_with_k, 0)) * 1000000
            + (2 * (sum_k % NULLIF(n_with_k, 0)) * 1000000 + n_with_k)
              // NULLIF(2 * n_with_k, 0) AS DOUBLE) / 1e6 AS avg_k
FROM g
"""


def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's native VARIANT type (the
    open-format counterpart of get_json_object string probing):
    ``parse_json`` converts each props payload ONCE into VARIANT's
    binary encoding, ``variant_get`` does typed path extraction, and
    ``try_variant_get`` probes an absent path without erroring — the
    parse-once/extract-many contract that matters when a payload is
    probed for many fields (get_json_object re-parses the string per
    call). All JVM-intrinsic, no UDF, whole-stage codegen. The oracle
    re-derives every figure with DuckDB's JSON extraction, so a typed
    extraction that disagrees with plain JSON semantics fails the
    hash."""
    ev = load(spark, sf_dir, "events", spread=True).select(
        "event_type", F.parse_json("props").alias("__v")
    )
    k = F.variant_get("__v", "$.k", "int")
    absent = F.try_variant_get("__v", "$.absent", "int")
    return (
        ev.select("event_type", k.alias("__k"), absent.alias("__m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("__k").alias("n_with_k"),
            # when/otherwise(0), not a bare cast-sum: a group whose
            # every payload lacks k would sum to NULL while the
            # oracle's CASE..ELSE 0 yields 0 (round-5 advice).
            F.sum(F.when(F.col("__k") > 50, 1).otherwise(0))
            .cast("long")
            .alias("n_k_gt_50"),
            F.sum("__k").cast("long").alias("sum_k"),
            F.min("__k").alias("min_k"),
            F.max("__k").alias("max_k"),
            F.count("__m").alias("n_absent_hits"),
        )
        .orderBy("event_type")
    )


EVENTS_PROPS_VARIANT_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
       CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_k_gt_50,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
           AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       COUNT(CAST(json_extract_string(props, '$.absent') AS INTEGER))
           AS n_absent_hits
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent view
    at-or-before the purchase time (operators/asof.py union-merge
    implementation, one shuffle on user_id)."""
    from olist_lakehouse_2_0_spark.operators.asof import asof_join

    events = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_event_id")
    )
    return asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="view_ts",
        right_prefix="matched_",
    )


EVENTS_ASOF_SQL = """
SELECT l.event_id, l.user_id, l.ts,
       r.view_ts AS matched_view_ts,
       r.view_event_id AS matched_view_event_id
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL) l
ASOF LEFT JOIN (SELECT user_id, ts AS view_ts, event_id AS view_event_id
                FROM events WHERE event_type = 'view' AND ts IS NOT NULL) r
ON l.user_id = r.user_id AND l.ts >= r.view_ts
"""


def events_error_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (bucketed, operators/asof.py interval_join): every
    (click, error) pair for the same user with the error inside the 5
    minutes after the click. Equi-join on (user, time-bucket) + exact
    filter — linear shuffle, never a per-key cross product."""
    from olist_lakehouse_2_0_spark.operators.asof import interval_join

    events = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_event_id"), F.col("ts").alias("error_ts")
    )
    return interval_join(
        clicks, errors, key="user_id", left_ts="ts", right_ts="error_ts",
        upper_seconds=300,
    ).select("event_id", "user_id", "ts", "matched_error_event_id", "matched_error_ts")


EVENTS_ERROR_AFTER_CLICK_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       e.event_id AS matched_error_event_id,
       e.ts AS matched_error_ts
FROM events c JOIN events e
  ON c.user_id = e.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL '300 seconds'
WHERE c.event_type = 'click' AND e.event_type = 'error'
  AND c.ts IS NOT NULL AND e.ts IS NOT NULL
"""


def _click_error_feeds(
    spark: SparkSession, sf_dir: str, root: str
) -> tuple[str, str, Callable[[], tuple[DataFrame, DataFrame]]]:
    """Stage the click and error feeds of the stream-stream joins under
    ``root`` and return (click dir, error dir, ``feeds``), where
    ``feeds()`` opens a fresh (click, error) stream pair over them; the
    error side is renamed to (user_id, error_event_id, error_ts).

    ONE staging write for both feeds: a single partitionBy(event_type)
    write scans the events once and lands each feed in its own
    directory (two filtered writes would scan twice, guide §1.2). The
    partition column lives in the directory name, so the staged files
    carry exactly the columns each stream declares."""
    events = load(spark, sf_dir, "events", spread=True).filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isin("click", "error")
    )
    staged = os.path.join(root, "staged")
    events.select("event_id", "user_id", "ts", "event_type").write.partitionBy(
        "event_type"
    ).parquet(staged)
    c_path = os.path.join(staged, "event_type=click")
    e_path = os.path.join(staged, "event_type=error")
    # A partition with zero rows writes NO directory — make both dirs
    # so the stream readers start cleanly at any scale factor.
    os.makedirs(c_path, exist_ok=True)
    os.makedirs(e_path, exist_ok=True)
    feed_schema = events.select("event_id", "user_id", "ts").schema

    def feeds() -> tuple[DataFrame, DataFrame]:
        c_stream = spark.readStream.schema(feed_schema).parquet(c_path)
        e_stream = (
            spark.readStream.schema(feed_schema)
            .parquet(e_path)
            .select(
                "user_id",
                F.col("event_id").alias("error_event_id"),
                F.col("ts").alias("error_ts"),
            )
        )
        return c_stream, e_stream

    return c_path, e_path, feeds


def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the hash gate (previously
    pytest-only): the click and error feeds are staged as two separate
    parquet streams, joined with
    :func:`~olist_lakehouse_2_0_spark.streaming.joins.stream_interval_join`
    (watermarks on both sides + the event-time bound that lets Spark
    size and evict the join state), drained through a checkpointed
    parquet sink, and the materialized pairs are returned. The oracle
    is the plain batch interval-join SQL — the driver hash proves the
    streaming engine path (unified join operator + state store)
    produces exactly the batch answer. The drain is one availableNow
    batch, so no row can be late relative to the watermark and the
    batch equivalence is exact; cross-micro-batch buffering and
    watermark eviction are exercised in tests/test_streaming_join.py.
    """
    from olist_lakehouse_2_0_spark.streaming.joins import stream_interval_join

    root = staging_dir("ss_join")
    _, _, feeds = _click_error_feeds(spark, sf_dir, root)
    joined = stream_interval_join(
        *feeds(), key="user_id", left_ts="ts",
        right_ts="error_ts", upper_seconds=300,
    )
    back = run_to_parquet(
        joined, os.path.join(root, "pairs"), os.path.join(root, "ckpt")
    )
    return back.select("event_id", "user_id", "ts", "error_event_id", "error_ts")


EVENTS_STREAM_STREAM_JOIN_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       e.event_id AS error_event_id,
       e.ts AS error_ts
FROM events c JOIN events e
  ON c.user_id = e.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL '300 seconds'
WHERE c.event_type = 'click' AND e.event_type = 'error'
  AND c.ts IS NOT NULL AND e.ts IS NOT NULL
"""


def events_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join under the hash gate —
    the state-EVICTION half of the streaming join matrix (the inner
    twin above only ever emits matches; outer correctness additionally
    requires the engine to prove a row can no longer match and emit
    its null row exactly once). Clicks left-join errors within
    [ts, ts+300s]: matched pairs emit as both watermarks pass; each
    unmatched click emits ONE null-error row only when the watermark
    passes ``ts + 300s``. A triggered drain never advances the
    watermark past its own final batch, so the query drains twice —
    the second drain carries a far-future sentinel row on BOTH feeds
    (global watermark is the min across inputs), which pushes the
    watermark past every real row and flushes every pending null-match.
    Sentinels are filtered from the result; the oracle is the plain
    batch LEFT JOIN, so a null row dropped (eviction missed), emitted
    twice (replayed across drains), or emitted for a matched click all
    fail the hash."""
    from olist_lakehouse_2_0_spark.streaming.joins import stream_interval_join

    root = staging_dir("ss_left_join")
    c_path, e_path, feeds = _click_error_feeds(spark, sf_dir, root)
    out, ckpt = os.path.join(root, "pairs"), os.path.join(root, "ckpt")

    def drain() -> DataFrame:
        joined = stream_interval_join(
            *feeds(), key="user_id", left_ts="ts",
            right_ts="error_ts", upper_seconds=300, how="leftOuter",
        )
        return run_to_parquet(joined, out, ckpt)

    drain()  # data batch: matches emit, unmatched clicks stay buffered
    # Far-future sentinel on BOTH feeds: the second drain's watermark
    # (min across inputs, computed from the previous batch's max event
    # time) passes every real row's eviction horizon and the buffered
    # null-matches flush. The matching sentinel pair joins itself, so
    # no sentinel state lingers either. (Both staged feeds share the
    # (event_id, user_id, ts) file schema; the error-side renames are
    # applied on the stream, so the sentinel writes the same columns.)
    sentinel_ts = F.lit("2100-01-01 00:00:00").cast("timestamp")
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        sentinel_ts.alias("ts"),
    )
    sentinel.write.mode("append").parquet(c_path)
    sentinel.write.mode("append").parquet(e_path)
    back = drain()  # sentinel batch: watermark jumps, null-matches emit
    return back.filter(F.col("event_id") >= 0).select(
        "event_id", "user_id", "ts", "error_event_id", "error_ts"
    )


EVENTS_STREAM_STREAM_LEFT_JOIN_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       e.event_id AS error_event_id,
       e.ts AS error_ts
FROM (SELECT * FROM events
      WHERE event_type = 'click' AND ts IS NOT NULL) c
LEFT JOIN (SELECT * FROM events
           WHERE event_type = 'error' AND ts IS NOT NULL) e
  ON c.user_id = e.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL '300 seconds'
"""


def events_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup under the hash gate
    (previously pytest-only): the event feed is re-staged with every
    7th event DUPLICATED (the at-least-once redelivery shape), streamed
    through
    :func:`~olist_lakehouse_2_0_spark.streaming.windows.dedupe_stream`
    (stateful dropDuplicates on event_id, state bounded by the
    watermark) into a checkpointed sink, and the surviving rows are
    rolled up per type. The oracle aggregates the ORIGINAL events
    directly — one duplicate leaking through (or one original eaten)
    shifts a count/sum and fails the hash. The drain is one
    availableNow batch so no duplicate can arrive past the watermark
    horizon; horizon eviction itself is pinned in
    tests/test_streaming_windows.py."""
    from olist_lakehouse_2_0_spark.streaming.windows import dedupe_stream

    events = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "user_id", "event_type", "ts", "value")
    )
    redelivered = events.unionByName(events.filter(F.col("event_id") % 7 == 0))
    root = staging_dir("stream_dedup")
    deduped = dedupe_stream(
        land(redelivered, root), keys=("event_id",), ts_col="ts"
    )
    back = run_to_parquet(
        deduped, os.path.join(root, "deduped"), os.path.join(root, "ckpt")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("sum_value"),
    )


EVENTS_STREAMING_DEDUP_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS sum_value
FROM events
WHERE ts IS NOT NULL
GROUP BY event_type
"""


def events_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment under the hash gate
    (previously pytest-only): the event feed is streamed from a staged
    landing directory and enriched per micro-batch against a STATIC
    customer dimension via
    :func:`~olist_lakehouse_2_0_spark.streaming.joins.stream_static_enrich`
    (broadcast left join, no state). The dimension is deliberately
    restricted to even customer keys so odd-user events MISS — the
    left-join "misses kept as NULL attributes" contract is
    load-bearing in the hash, not just asserted in tests. Stateless
    per-batch join, so the drain keeps no state."""
    from olist_lakehouse_2_0_spark.streaming.joins import stream_static_enrich

    events = load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("c_custkey"), "event_type", "value"
    )
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_mktsegment")
    )
    root = staging_dir("stream_enrich")
    enriched = stream_static_enrich(
        land(events, root), dim, key="c_custkey", how="left"
    )
    back = run_to_parquet(
        enriched, os.path.join(root, "enriched"), os.path.join(root, "ckpt")
    )
    return back.groupBy(
        F.coalesce(F.col("c_mktsegment"), F.lit("<miss>")).alias("segment"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("sum_value"),
    )


EVENTS_STREAM_STATIC_ENRICH_SQL = """
SELECT COALESCE(c.c_mktsegment, '<miss>') AS segment,
       e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS sum_value
FROM events e
LEFT JOIN (
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0
) c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def events_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: hourly partial
    states are computed ONCE from raw events, then daily and monthly
    levels are derived by MERGING the finer level's states (sum of
    sums, sum of counts, min of mins, max of maxes) — raw data is
    scanned exactly once no matter how many granularities exist.
    At 100 TB this is the point: the monthly refresh costs O(#hours),
    not O(#events). Decimal sums keep the merge order-independent. The
    oracle aggregates raw events directly at monthly grain — merged
    states must be indistinguishable from a direct aggregate."""
    events = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    hourly = events.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(10,2)")).alias("sum_value"),
        F.min(F.col("value").cast("decimal(10,2)")).alias("min_value"),
        F.max(F.col("value").cast("decimal(10,2)")).alias("max_value"),
    )
    def merge_up(df: DataFrame, unit: str) -> DataFrame:
        return df.groupBy(
            F.date_trunc(unit, "bucket").alias("bucket"), "event_type"
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    daily = merge_up(hourly, "day")
    monthly = merge_up(daily, "month")
    return monthly.select(
        F.col("bucket").alias("month"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("decimal(18,2)").alias("sum_value"),
        "min_value",
        "max_value",
    )


EVENTS_ROLLUP_HIERARCHY_SQL = """
SELECT date_trunc('month', ts) AS month,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(18,2)) AS sum_value,
       MIN(CAST(value AS DECIMAL(10,2))) AS min_value,
       MAX(CAST(value AS DECIMAL(10,2))) AS max_value
FROM events
WHERE ts IS NOT NULL
GROUP BY date_trunc('month', ts), event_type
"""


def events_user_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.7 extension — the reference uses none, Spark
    provides them): purchasing users who also hit errors, minus users
    who ever signed up."""
    events = load(spark, sf_dir, "events")

    def users_of(t: str) -> DataFrame:
        return events.filter(F.col("event_type") == t).select("user_id").distinct()

    result = (
        users_of("purchase")
        .intersect(users_of("error"))
        .exceptAll(users_of("signup"))
    )
    return result.select("user_id")


EVENTS_SETOPS_SQL = """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'signup'
"""


def events_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketch profile — library API, NOT in the driver
    registry (HLL++/KLL internals differ from DuckDB's sketches, so no
    hash oracle exists; its machinery is driver-gated through the
    oracled companion :func:`events_sketch_verified`, and
    tests/test_streaming_windows.py bounds the error vs exact):
    per-type approx distinct users and value quantiles as SCALAR
    columns. At 100 TB these replace exact COUNT(DISTINCT)/percentile
    where a 2% error is acceptable — sketches merge map-side, so the
    shuffle carries kilobytes per group instead of all distinct values."""
    events = load(spark, sf_dir, "events", spread=True)
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("value_p50"),
        F.percentile_approx("value", 0.95, 10000).alias("value_p95"),
    )


def events_sketch_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch path under the hash gate (companion to the rows-only
    ``events_sketch_profile``): per type, EXACT counts plus boolean
    accuracy verdicts for the sketches — HLL distinct-users within 5%
    of exact (HLL register-max merge is commutative, so the estimate is
    deterministic for a fixed input set at any partitioning), and the
    approximate p50 inside the exact p40..p60 rank band (rank-based,
    so it holds at any value distribution). The oracle emits TRUE
    literals with the exact counts — a sketch drifting out of bounds
    fails the hash."""
    events = load(spark, sf_dir, "events", spread=True)
    agg = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__hll_users"),
        F.percentile_approx("value", 0.5, 10000).alias("__p50_approx"),
        F.percentile("value", 0.40).alias("__p40"),
        F.percentile("value", 0.60).alias("__p60"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(F.col("__hll_users") - F.col("exact_users"))
            <= F.col("exact_users") * 0.05
        ).alias("hll_within_5pct"),
        (
            (F.col("__p50_approx") >= F.col("__p40"))
            & (F.col("__p50_approx") <= F.col("__p60"))
        ).alias("p50_within_rank_band"),
    )


EVENTS_SKETCH_VERIFIED_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_5pct,
       TRUE AS p50_within_rank_band
FROM events
GROUP BY event_type
"""


def events_user_profile_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    events table replayed through an availableNow streaming query that
    maintains a per-user running profile — event count, value total,
    session count by 30-minute inactivity gap, last-seen timestamp —
    in partitioned executor state. The oracle recomputes the same
    profile relationally (LAG-gap session counting), so this checks the
    stateful path end-to-end against batch SQL semantics."""
    from olist_lakehouse_2_0_spark.streaming.stateful import (
        run_profile_availablenow,
    )

    return run_profile_availablenow(spark, sf_dir, gap_minutes=30)


EVENTS_USER_PROFILE_STATEFUL_SQL = """
WITH ordered AS (
  SELECT user_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value,
       COUNT(CASE WHEN prev_ts IS NULL
                    OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 END) AS n_sessions,
       MAX(ts) AS last_ts
FROM ordered
GROUP BY user_id
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage conversion funnel: first view → first click at
    or after that view → first purchase at or after that click, per
    user; one summary row of stage populations and conversion rates.

    The sequential constraint (each stage's earliest qualifying event
    must not precede the previous stage's) is what plain groupBy can't
    express in one pass — each stage joins the previous stage's
    per-user timestamp back to the events, filters, and re-aggregates.
    All three joins and aggregations key on user_id, so at scale the
    stage dataflow is co-partitioned end-to-end; the final summary is
    a near-scalar aggregate."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    funnel = first_view.join(first_click, "user_id", "left").join(
        first_purchase, "user_id", "left"
    )
    return funnel.agg(
        F.count(F.lit(1)).alias("n_viewed"),
        F.count("click_ts").alias("n_clicked_after_view"),
        F.count("purchase_ts").alias("n_purchased_after_click"),
        F.round(
            F.count("click_ts") * 100.0 / F.nullif(F.count(F.lit(1)), F.lit(0)),
            2,
        ).alias("view_to_click_pct"),
        F.round(
            F.count("purchase_ts")
            * 100.0
            / F.nullif(F.count("click_ts"), F.lit(0)),
            2,
        ).alias("click_to_purchase_pct"),
    )


EVENTS_FUNNEL_SQL = """
WITH first_view AS (
  SELECT user_id, MIN(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), first_click AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN first_view v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.view_ts
  GROUP BY e.user_id
), first_purchase AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN first_click c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
  GROUP BY e.user_id
)
SELECT COUNT(*) AS n_viewed,
       COUNT(click_ts) AS n_clicked_after_view,
       COUNT(purchase_ts) AS n_purchased_after_click,
       ROUND(COUNT(click_ts) * 100.0 / NULLIF(COUNT(*), 0), 2)
         AS view_to_click_pct,
       ROUND(COUNT(purchase_ts) * 100.0 / NULLIF(COUNT(click_ts), 0), 2)
         AS click_to_purchase_pct
FROM first_view v
LEFT JOIN first_click c USING (user_id)
LEFT JOIN first_purchase p USING (user_id)
"""


def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the week of
    their first signup event; for each later week, how many of that
    cohort were active (any event). The triangular (cohort_week,
    week_offset) → distinct-users output is the standard retention
    report.

    Scale: the cohort anchor is one user-keyed aggregation; activity
    dedups to (user, week) grain BEFORE the join, so the join input is
    bounded by users × weeks, not raw events; the final aggregate is
    cohort-matrix-sized."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
        )
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .filter(F.col("week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


USER_COHORT_RETENTION_SQL = """
WITH cohort AS (
  SELECT user_id,
         CAST(DATE_TRUNC('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events WHERE event_type = 'signup'
  GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS week
  FROM events
)
SELECT cohort_week,
       CAST(DATEDIFF('day', cohort_week, week) / 7 AS INT) AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM activity JOIN cohort USING (user_id)
WHERE week >= cohort_week
GROUP BY 1, 2
"""


def events_gold_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance under the oracle gate: the events
    table is re-staged as three files, drained as separate micro-
    batches through ``foreach_batch_merger`` into a mergeable-state
    aggregate table (COUNT / decimal SUM / MIN / MAX per event type),
    and the final maintained table is returned — it must equal the
    one-shot SQL aggregate bit-for-bit, proving the merge path end to
    end inside the correctness gate. Decimal measures make the sums
    merge-order-exact."""
    from olist_lakehouse_2_0_spark.plans.incremental import (
        AggSpec,
        IncrementalAggTable,
    )

    events = load(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("decimal(12,2)").alias("value")
    )
    root = staging_dir("gold_inc")
    stream = land(events, root, files=3)

    specs = [
        AggSpec("count", "*", "n_events"),
        AggSpec("sum", "value", "total_value"),
        AggSpec("min", "value", "min_value"),
        AggSpec("max", "value", "max_value"),
    ]
    table = IncrementalAggTable(
        os.path.join(root, "gold"), keys=["event_type"], specs=specs
    )
    run_foreach_batch(
        stream, table.foreach_batch_merger(spark), os.path.join(root, "ckpt")
    )
    return table.read_final(spark)


EVENTS_GOLD_INCREMENTAL_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       SUM(CAST(value AS DECIMAL(12,2))) AS total_value,
       MIN(CAST(value AS DECIMAL(12,2))) AS min_value,
       MAX(CAST(value AS DECIMAL(12,2))) AS max_value
FROM events
GROUP BY event_type
"""


def events_csv_ingest_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full S1→S5 incremental ingest path under the oracle gate:
    events re-staged as three CSV files, streamed through the
    checkpointed CSV source (one file per micro-batch, availableNow)
    into a parquet streaming table, then the SAME stream is run a
    second time against the same checkpoint — which must ingest
    nothing, or the aggregate below double-counts and the hash check
    fails. The returned rollup therefore driver-verifies incremental
    CSV ingestion, the parquet sink, AND exactly-once redelivery
    semantics in one query. Values quantize to integer cents (the CSV
    double roundtrip is exact — Spark writes shortest-roundtrip
    decimal strings — and integer sums are order-independent)."""
    from pyspark.sql import types as T

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = staging_dir("csv_ingest")
    landing = os.path.join(root, "landing")
    events.repartition(3).write.option("header", True).csv(landing)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    target = os.path.join(root, "bronze")
    ckpt = os.path.join(root, "ckpt")
    for _ in range(2):  # second run must be a no-op (exactly-once)
        stream = read_csv_stream(
            spark, landing, schema, audit=False, max_files_per_trigger=1
        )
        ingested = run_to_parquet(stream, target, ckpt)
    return ingested.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("total_cents"),
    )


EVENTS_CSV_INGEST_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""


def csv_audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``_metadata`` audit-column surface under the hash gate (S2 +
    P1 — previously pytest-only, VERDICT r3 next-step #3; reference
    bronze/orders.sql:18-20 ``_metadata.file_path`` /
    ``file_modification_time`` projections): the events table is
    re-staged as four CSV directories keyed by a user hash bucket,
    read back through the engine's ``read_csv`` batch source with
    audit columns ON, and the output derives each row's bucket FROM
    ``_source_file`` — so a wrong or missing file-path audit column
    scrambles the whole grouping and fails the hash. ``audit_ok``
    additionally pins the audit timestamps' invariants (file mtime and
    ingest stamp present, mtime not after ingest)."""
    from pyspark.sql import types as T

    from olist_lakehouse_2_0_spark.sources.batch import read_csv

    # A deterministic 1-in-5 subset: the audit-column semantics under
    # test are per-FILE metadata, not volume — staging the full table
    # four ways only inflates the fixture cost (the subset keeps every
    # bucket populated at every scale factor).
    events = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 5 == 0)
        .select("event_id", "user_id", "event_type")
    )
    root = staging_dir("csv_audit")
    # One directory per bucket so the bucket is recoverable ONLY from
    # the file path the reader's audit column reports. ONE partitionBy
    # write job replaces the earlier four filtered writes off a cached
    # frame (guide §1.2/§6: each filtered write re-scanned the cache
    # and paid its own job+commit round; the partitioned write scans
    # once and commits once). The bucket column lives only in the
    # directory name (`bucket=<b>/`), never in the CSV bytes, so the
    # read-back still proves the audit column carries the real path.
    events.withColumn(
        "bucket", F.pmod(F.col("user_id"), F.lit(4))
    ).filter(F.col("bucket").isNotNull()).write.option(
        "header", True
    ).partitionBy("bucket").mode("overwrite").csv(root)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    back = read_csv(spark, os.path.join(root, "bucket=*"), schema, audit=True)
    return back.groupBy(
        F.regexp_extract(F.col("_source_file"), r"bucket=(\d+)/", 1)
        .cast("int")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("event_id").alias("max_event_id"),
        (
            (F.count(F.when(F.col("_file_modified_at").isNull(), 1)) == 0)
            & (F.count(F.when(F.col("_ingested_at").isNull(), 1)) == 0)
            & (
                F.count(
                    F.when(F.col("_file_modified_at") > F.col("_ingested_at"), 1)
                )
                == 0
            )
        ).alias("audit_ok"),
    )


CSV_AUDIT_COLUMNS_SQL = """
SELECT user_id % 4 AS bucket,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       MAX(event_id) AS max_event_id,
       TRUE AS audit_ok
FROM events
WHERE event_id % 5 = 0
GROUP BY user_id % 4
"""


def events_stream_table_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming table-to-table scan under the hash gate (S3, reference
    silver/orders.sql:62 ``FROM STREAM(bronze_orders)`` — previously
    pytest-only): a two-node pipeline materializes a bronze events MV,
    then a STREAMING silver node reads the bronze TABLE incrementally
    through the Pipeline's own readStream-over-catalog-path code path
    (plans/pipeline.py streaming_consumer branch) with its own
    checkpoint, applying row-level cleansing (null-ts/value drop, date
    derivation) in the stream. The returned per-day-per-type rollup of
    the silver table must match the oracle's direct rebuild from
    events — so a dropped, duplicated, or un-cleansed row anywhere in
    the table-to-table hop fails the hash. Decimal sums keep the
    aggregate order-independent."""
    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.plans.pipeline import (
        Materialization,
        Pipeline,
        TableDef,
    )

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    root = staging_dir("s3_stream")
    cat = Catalog(root=os.path.join(root, "warehouse"))

    def silver_build(ins: dict) -> DataFrame:
        df = ins["bronze_events"]  # a STREAMING DataFrame (S3)
        return (
            df.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
            .withColumn("event_date", F.to_date("ts"))
            .withColumn("value", F.col("value").cast("decimal(10,2)"))
        )

    pipe = Pipeline(
        "s3_roundtrip",
        cat,
        [
            TableDef(
                name="bronze_events",
                inputs=("raw_events",),
                build=lambda ins: ins["raw_events"],
            ),
            TableDef(
                name="silver_events",
                inputs=("bronze_events",),
                build=silver_build,
                materialization=Materialization.STREAMING_TABLE,
            ),
        ],
    )
    pipe.run(spark, external_inputs={"raw_events": events})
    silver = cat.read(spark, "silver_events")
    return silver.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").cast("decimal(18,2)").alias("sum_value"),
    )


EVENTS_STREAM_TABLE_TO_TABLE_SQL = """
SELECT CAST(ts AS DATE) AS event_date,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(18,2)) AS sum_value
FROM events
WHERE ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1, 2
"""


def events_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV rescue path under the oracle gate: events re-staged as
    CSV plus a file of deliberately malformed lines (non-numeric keys,
    garbage trailing fields); a PERMISSIVE read with
    ``columnNameOfCorruptRecord`` must keep every good row typed and
    capture exactly the bad lines — none dropped, none leaking into the
    typed columns. The audit rollup buckets corrupt rows under one
    label next to the per-type good-row counts, so both the parse and
    the rescue are inside the hash check (production ingestion never
    FAILFASTs a 100 TB backfill over three bad lines; it quarantines
    them).

    Scale trap this query pins down: Spark's CSV parser PRUNES to the
    referenced columns, and a pruned-away column is never type-checked
    — an audit that reads only (event_type, _corrupt) silently reports
    zero corruption. The aggregates below deliberately touch the typed
    event_id/value columns so the lazy parser must validate them; the
    corrupt rows' PARTIAL results (Spark keeps parseable fields of a
    bad line) are part of the oracled output."""
    from pyspark.sql import types as T

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = staging_dir("csv_malformed")
    landing = os.path.join(root, "landing")
    events.repartition(2).write.option("header", True).csv(landing)
    # Three malformed lines, all TYPE errors in referenced columns
    # (unparsable long / double). Deliberately no wrong-arity lines:
    # whether extra tokens are flagged depends on whether the pruned
    # parser materializes those positions — type errors in referenced
    # columns are corrupt under both full and pruned parsing.
    # (header=True skips this file's first line like any other part.)
    with open(os.path.join(landing, "part-malformed.csv"), "w") as f:
        f.write("event_id,user_id,event_type,value\n")
        f.write("notanint,77,click,1.5\n")
        f.write("123,88,click,notadouble\n")
        f.write("alsobad,99,view,xyz\n")

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(landing)
    )
    # The typed aggregates run over GOOD rows only (corrupt rows keep
    # engine-specific partial parses; those stay out of the oracle) but
    # still REFERENCE event_id/value, which is what defeats the pruning
    # trap above.
    good = F.col("_corrupt").isNull()
    bucket = F.when(~good, F.lit("__corrupt__")).otherwise(F.col("event_type"))
    return parsed.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(good, F.col("event_id"))).alias("n_ids"),
        F.sum(F.when(good, F.floor(F.col("value") * 100 + F.lit(0.5))))
        .cast("long")
        .alias("value_cents"),
    )


EVENTS_CSV_MALFORMED_AUDIT_SQL = """
SELECT event_type AS bucket, COUNT(*) AS n_rows, COUNT(*) AS n_ids,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
UNION ALL
SELECT '__corrupt__', 3, 0, CAST(NULL AS BIGINT)
"""


def events_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE upsert under the hash gate (round 5; the Delta
    ``foreachBatch + MERGE INTO`` streaming-upsert pattern over the
    versioned layout): the event feed is staged as multiple files,
    streamed one file per micro-batch (maxFilesPerTrigger=1, so keys
    recur ACROSS batches in arbitrary order), and each batch upserts
    into a versioned per-user-latest table through
    :class:`~olist_lakehouse_2_0_spark.streaming.upsert.
    VersionedMergeSink` — same-batch duplicates collapse to the max
    event_id, the cross-batch sequence guard (s.event_id > t.event_id)
    makes out-of-order arrivals and checkpoint replays no-ops, and
    every commit is a CAS promote. The final table must equal the
    oracle's global latest-event-per-user — a row lost to a clobbered
    merge, a stale update let through, or a batch applied twice all
    shift it."""
    from olist_lakehouse_2_0_spark.catalog import Catalog
    from olist_lakehouse_2_0_spark.streaming.upsert import VersionedMergeSink

    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    root = staging_dir("stream_merge")
    stream = land(events, root, files=4)
    cat = Catalog(root=os.path.join(root, "warehouse"))
    sink = VersionedMergeSink(
        cat, "user_latest", keys=("user_id",), sequence_col="event_id"
    )
    run_foreach_batch(stream, sink, os.path.join(root, "ckpt"))
    final = cat.read(spark, "user_latest")
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        "value",
    )


EVENTS_STREAM_MERGE_UPSERT_SQL = """
SELECT user_id,
       event_id AS last_event_id,
       ts AS last_ts,
       event_type AS last_event_type,
       value
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


def events_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark LATE-DATA DROP under the hash gate (VERDICT r5
    next-step #5c; the eviction mechanics are pinned batch-by-batch in
    tests/test_streaming_windows.py::test_watermark_drops_late_data —
    this puts the drop COUNTS under the driver's DuckDB oracle). Four
    deterministic micro-batches (one parquet file each; the file
    source orders batches by modification time, pinned here with
    explicit fixed utimes, no sleeps):

    b0  the on-time slice (every 20th event),
    b1  a far-future marker (2030-01-01 00:30) — the 30-minute
        watermark jumps past every b0 window,
    b2  a second marker (00:35): the watermark COMPUTED from a batch
        only takes effect one batch later (Spark recomputes it from
        batch N-1's max event time; measured here via
        StreamingQueryProgress, and the same lag is pinned in
        tests/test_streaming_windows.py), so this batch is where b0's
        window state is emitted and EVICTED and the 2030 watermark
        becomes the effective late filter,
    b3  the same slice re-fed with values x100 (poison): every row is
        now below the effective watermark and must be dropped — one
        leaked row inflates a sum 100-fold and fails the hash,
    b4  a final marker one day later, closing the b1+b2 window (its
        own never closes and must NOT appear).

    The oracle recomputes the tumbling rollup from the ORIGINAL slice
    plus the b1 literal — i.e. the exact relation a correct
    drop-everything-late policy yields. State is watermark-bounded
    (the 100 TB property under test); the drain is one availableNow
    run with the state-store partition count sized from its backlog."""
    import glob

    cols = ["event_id", "user_id", "event_type", "ts", "value"]
    # spread=False: the slice is fixture prep for the LANDING files the
    # stream re-reads — a multi-partition spread scan buys nothing
    # before a coalesce(1) write and tripled the staging cost
    # (measured 2.2 s vs 0.25 s per materialization at sf0.1). The
    # operator under test is the watermarked drain, not this scan.
    slice_df = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & (F.col("event_id") % 20 == 3))
        .select(*cols)
        .persist()
    )

    def far_marker(ts_str: str) -> DataFrame:
        # range+lit, not createDataFrame: a Python local relation pays
        # a Python-worker round trip on EVERY action (~4 s per 1-row
        # write, measured); the literal projection is a pure JVM plan
        # (0.2 s) and this fixture is written once per batch.
        return spark.range(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("flush").alias("event_type"),
            F.lit(ts_str).cast("timestamp").alias("ts"),
            F.lit(0.0).alias("value"),
        )

    root = staging_dir("wm_late_drop")
    landing = os.path.join(root, "landing")
    batches = [
        slice_df,
        far_marker("2030-01-01 00:30:00"),
        far_marker("2030-01-01 00:35:00"),
        slice_df.withColumn("value", F.col("value") * 100),
        far_marker("2030-01-02 00:30:00"),
    ]
    # The five batch writes are INDEPENDENT single-task jobs whose
    # driver-sequenced submission dominated the staging phase (stage
    # profile: ~0.65 s of jobs + a gap per job); submit them from a
    # small thread pool so each job's tail backfills the next (guide
    # §2.6 — actions are only sequential because the driver calls them
    # sequentially). Batch identity/order lives in the explicit pinned
    # utimes, not in write order, so concurrency cannot reorder the
    # stream's batch sequence.
    from concurrent.futures import ThreadPoolExecutor

    def _stage(i_b) -> None:
        i, b = i_b
        d = os.path.join(landing, f"b{i}")
        b.coalesce(1).write.parquet(d)
        for f in glob.glob(os.path.join(d, "*.parquet")):
            os.utime(f, (1700000000 + 60 * i, 1700000000 + 60 * i))

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_stage, enumerate(batches)))

    stream = (
        spark.readStream.schema(slice_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing + "/*")
    )
    slice_df.unpersist()
    agg = tumbling_window_agg(
        stream.withWatermark("ts", "30 minutes"), distinct_users=False
    )
    back = run_to_parquet(
        agg, os.path.join(root, "windows"), os.path.join(root, "ckpt")
    )
    return back.orderBy("window_start", "event_type")


EVENTS_WATERMARK_LATE_DROP_SQL = """
WITH slice AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(value AS DECIMAL(10,2)) AS v
  FROM events
  WHERE ts IS NOT NULL AND event_id % 20 = 3
  UNION ALL
  SELECT TIMESTAMP '2030-01-01 00:00:00', 'flush',
         CAST(0.0 AS DECIMAL(10,2))
  FROM (VALUES (1), (2)) AS two(i)
)
SELECT window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(v) AS DECIMAL(18,2)) AS sum_value
FROM slice
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


EVENT_QUERIES = {
    "events_csv_ingest_exactly_once": events_csv_ingest_exactly_once,
    "events_hourly_by_type": events_hourly_by_type,
    "events_sliding_halfhour": events_sliding_halfhour,
    "events_sessionized": events_sessionized,
    "events_props_by_type": events_props_by_type,
    "events_props_variant": events_props_variant,
    "events_asof_purchase_view": events_asof_purchase_view,
    "events_error_after_click": events_error_after_click,
    "events_stream_stream_join": events_stream_stream_join,
    "events_stream_stream_left_join": events_stream_stream_left_join,
    "events_streaming_dedup": events_streaming_dedup,
    "events_streaming_sessionized": events_streaming_sessionized,
    "events_watermark_late_drop": events_watermark_late_drop,
    "events_stream_merge_upsert": events_stream_merge_upsert,
    "events_stream_static_enrich": events_stream_static_enrich,
    "events_user_setops": events_user_setops,
    "events_rollup_hierarchy": events_rollup_hierarchy,
    # events_sketch_profile is deliberately NOT registered: its raw
    # HLL/KLL estimates have no DuckDB-hash-stable form, and a
    # permanent rows-only row reads as an error under the driver gate.
    # The same sketch machinery is driver-gated via the oracled
    # events_sketch_verified; the profile stays library API + pytest.
    "events_user_profile_stateful": events_user_profile_stateful,
    "events_funnel": events_funnel,
    "user_cohort_retention": user_cohort_retention,
    "events_gold_incremental": events_gold_incremental,
    "events_csv_malformed_audit": events_csv_malformed_audit,
    "csv_audit_columns": csv_audit_columns,
    "events_stream_table_to_table": events_stream_table_to_table,
    "events_sketch_verified": events_sketch_verified,
}

EVENT_ORACLES = {
    "events_csv_ingest_exactly_once": EVENTS_CSV_INGEST_SQL,
    "events_csv_malformed_audit": EVENTS_CSV_MALFORMED_AUDIT_SQL,
    "csv_audit_columns": CSV_AUDIT_COLUMNS_SQL,
    "events_stream_table_to_table": EVENTS_STREAM_TABLE_TO_TABLE_SQL,
    "events_sketch_verified": EVENTS_SKETCH_VERIFIED_SQL,
    "events_user_profile_stateful": EVENTS_USER_PROFILE_STATEFUL_SQL,
    "events_hourly_by_type": EVENTS_HOURLY_SQL,
    "events_sliding_halfhour": EVENTS_SLIDING_SQL,
    "events_sessionized": EVENTS_SESSIONS_SQL,
    "events_props_by_type": EVENTS_PROPS_SQL,
    "events_props_variant": EVENTS_PROPS_VARIANT_SQL,
    "events_asof_purchase_view": EVENTS_ASOF_SQL,
    "events_error_after_click": EVENTS_ERROR_AFTER_CLICK_SQL,
    "events_stream_stream_join": EVENTS_STREAM_STREAM_JOIN_SQL,
    "events_stream_stream_left_join": EVENTS_STREAM_STREAM_LEFT_JOIN_SQL,
    "events_streaming_dedup": EVENTS_STREAMING_DEDUP_SQL,
    "events_streaming_sessionized": EVENTS_SESSIONS_SQL,
    "events_watermark_late_drop": EVENTS_WATERMARK_LATE_DROP_SQL,
    "events_stream_merge_upsert": EVENTS_STREAM_MERGE_UPSERT_SQL,
    "events_stream_static_enrich": EVENTS_STREAM_STATIC_ENRICH_SQL,
    "events_user_setops": EVENTS_SETOPS_SQL,
    "events_rollup_hierarchy": EVENTS_ROLLUP_HIERARCHY_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "user_cohort_retention": USER_COHORT_RETENTION_SQL,
    "events_gold_incremental": EVENTS_GOLD_INCREMENTAL_SQL,
}
