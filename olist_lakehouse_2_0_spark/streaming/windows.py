"""Time-window operators over event streams: tumbling, sliding, and
session windows plus JSON-props extraction.

Beyond-reference surface: the reference's only stream notion is
incremental file ingestion (SURVEY.md §2.9 — no watermarks/windows,
reference docs/ARCHITECTURE.md:227-232), but a complete engine needs
the standard event-time toolkit. Everything here is expressed with
built-in Spark SQL functions (``F.window``, ``F.session_window``,
``get_json_object``) so the SAME function works on a batch DataFrame
and on a ``readStream`` DataFrame — Structured Streaming's
batch/stream unification. Streaming callers add
``withWatermark`` before the aggregation (see tests/test_streaming_windows.py).

Scale notes (100 TB design):
- Window aggregations shuffle on (window, keys) with map-side partial
  aggregation — same cost profile as any groupBy; no driver state.
- Session windows in streaming mode keep per-key state bounded by the
  watermark; in batch mode they compile to a sort-based merge within
  each key partition (no unbounded state).
- JSON extraction is a JVM intrinsic (``get_json_object``), not a UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Exact decimal types for value sums (double sums are order-dependent
#: and drift under 1000-way parallelism; SURVEY.md §7.4).
VALUE = "decimal(10,2)"
VALUE_SUM = "decimal(18,2)"


def tumbling_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    distinct_users: bool = True,
) -> DataFrame:
    """Fixed (tumbling) event-time windows: one window per event.

    Works unchanged on batch and streaming inputs; streaming callers
    watermark ``ts_col`` first so state for closed windows is dropped,
    and pass ``distinct_users=False`` (exact COUNT DISTINCT is not a
    streamable aggregate — use approx_count_distinct downstream).
    """
    win = F.window(F.col(ts_col), duration)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(VALUE)).cast(VALUE_SUM).alias("sum_value"),
    ]
    out = ["n_events", "sum_value"]
    if distinct_users:
        aggs.insert(1, F.countDistinct("user_id").alias("n_users"))
        out.insert(1, "n_users")
    return (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), *keys, *out)
    )


def sliding_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    duration: str = "1 hour",
    slide: str = "30 minutes",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Sliding (hopping) windows: each event lands in duration/slide
    overlapping windows (Spark expands this window-list JVM-side)."""
    win = F.window(F.col(ts_col), duration, slide)
    return (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(win.alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(VALUE)).cast(VALUE_SUM).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), *keys, "n_events", "sum_value")
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization with Spark's native ``session_window``.

    A session is a maximal run of events per key where consecutive
    events are < gap apart (an event at exactly ``gap`` after the
    previous one starts a new session). Output grain: one row per
    (key, session); ``session_start`` is the first event's timestamp.

    In streaming mode the same expression is an
    ``applyInPandasWithState``-class stateful operator that Spark
    manages natively (state bounded by watermark); in batch mode it
    lowers to a per-key sort + merge, no shuffle beyond the groupBy.
    """
    return (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.sum(F.col("value").cast(VALUE)).cast(VALUE_SUM).alias("sum_value"),
        )
        .select(
            key,
            "session_start",
            "session_end",
            "n_events",
            "sum_value",
        )
    )


def extract_json_props(
    events: DataFrame, props_col: str = "props", field: str = "k"
) -> DataFrame:
    """Pull a typed field out of a JSON-string column with the JVM
    intrinsic ``get_json_object`` (no UDF, stays in codegen)."""
    return events.withColumn(
        f"props_{field}",
        F.get_json_object(F.col(props_col), f"$.{field}").cast("int"),
    )


def dedupe_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
    restamped: bool = False,
) -> DataFrame:
    """Exactly-once event dedup for at-least-once sources: drop repeat
    deliveries of the same key(s) within the watermark horizon.

    In streaming mode ``dropDuplicates`` keeps per-key state; the
    watermark bounds that state — a duplicate arriving later than
    ``watermark`` after the original is NOT deduplicated (and state for
    keys older than the horizon is evicted). The same call on a batch
    DataFrame degrades to a plain dropDuplicates (batch/stream
    unification). At scale, state is hash-partitioned by key across
    executors; per-key state is just the key + timestamp.

    ``restamped=True`` switches to ``dropDuplicatesWithinWatermark``
    (Spark 3.5+) for sources that RE-STAMP the event time on redelivery
    (broker retries, producer re-sends with a new ingest timestamp).
    Plain dropDuplicates keys its state eviction off the FIRST-seen
    event time, so a redelivery restamped later than the horizon slips
    through; the WithinWatermark variant instead guarantees dedup of
    any two copies whose event times lie within the watermark delay of
    each other, and evicts state as the watermark passes — bounded
    state with the redelivery-window guarantee made explicit. Batch
    DataFrames don't support it (streaming-only API), so batch mode
    falls back to plain dropDuplicates (same result: batch has no
    late arrivals)."""
    wm = events.withWatermark(ts_col, watermark)
    if restamped and events.isStreaming:
        return wm.dropDuplicatesWithinWatermark(list(keys))
    return wm.dropDuplicates(list(keys))
