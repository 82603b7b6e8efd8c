"""Stream-stream interval join: watermarked streaming run over a static
parquet directory must reproduce the batch interval-join answer once
the stream drains (availableNow + inner join emits matches as both
sides' watermarks pass them).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import load
from olist_lakehouse_2_0_spark.streaming.joins import stream_interval_join

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-staged as a timestamp-typed parquet directory
    (streamable source; the raw testdata is a single file)."""
    path = str(tmp_path_factory.mktemp("events_join") / "events")
    load(spark, SF, "events").write.parquet(path)
    return path


def _split(events):
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("user_id"),
        F.col("event_id").alias("error_event_id"),
        F.col("ts").alias("error_ts"),
    )
    return clicks, errors


def test_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    batch = load(spark, SF, "events").filter(F.col("ts").isNotNull())
    schema = batch.schema
    stream = spark.readStream.schema(schema).parquet(events_dir).filter(
        F.col("ts").isNotNull()
    )

    b_clicks, b_errors = _split(batch)
    expected = sorted(
        (r["event_id"], r["error_event_id"])
        for r in stream_interval_join(
            b_clicks, b_errors, right_ts="error_ts", upper_seconds=300
        ).collect()
    )
    assert expected, "batch interval join found no pairs at sf0.001"

    s_clicks, s_errors = _split(stream)
    q = (
        stream_interval_join(
            s_clicks, s_errors, right_ts="error_ts", upper_seconds=300
        )
        .writeStream.format("memory")
        .queryName("stream_ij")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["event_id"], r["error_event_id"])
        for r in spark.table("stream_ij").collect()
    )
    assert got == expected


def test_stream_static_enrich_matches_batch_and_keeps_misses(
    spark, events_dir, tmp_path
):
    """Stream-static broadcast enrichment: streaming answer equals the
    batch join, and dimension misses keep the fact row (NULL attrs)."""
    from olist_lakehouse_2_0_spark.streaming.joins import stream_static_enrich

    batch = load(spark, SF, "events")
    # dimension covering only half the users — the rest must survive
    # with NULL attributes
    dim = (
        batch.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn("user_tier", F.lit("even"))
    )
    expected = sorted(
        (r["event_id"], r["user_tier"])
        for r in stream_static_enrich(batch, dim, "user_id").collect()
    )
    assert any(t is None for _, t in expected), "no dimension misses"
    assert any(t == "even" for _, t in expected)

    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    q = (
        stream_static_enrich(stream, dim, "user_id")
        .writeStream.format("memory")
        .queryName("stream_enrich")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["event_id"], r["user_tier"])
        for r in spark.table("stream_enrich").collect()
    )
    assert got == expected


def test_stream_interval_join_batch_twin_agrees_with_bucketed(spark):
    """The watermark join's batch degradation must agree with the
    bucketed equi-join interval_join used by the batch query path."""
    from olist_lakehouse_2_0_spark.operators.asof import interval_join

    events = load(spark, SF, "events").filter(F.col("ts").isNotNull())
    clicks, errors = _split(events)
    theta = sorted(
        (r["event_id"], r["error_event_id"])
        for r in stream_interval_join(
            clicks, errors, right_ts="error_ts", upper_seconds=300
        ).collect()
    )
    bucketed = sorted(
        (r["event_id"], r["matched_error_event_id"])
        for r in interval_join(
            clicks,
            errors,
            key="user_id",
            left_ts="ts",
            right_ts="error_ts",
            upper_seconds=300,
        ).collect()
    )
    assert theta == bucketed


def test_stream_left_outer_join_evicts_and_flushes_exactly_once(
    spark, tmp_path
):
    """LEFT OUTER stream-stream join semantics across drains: the data
    drain emits only matched pairs (the watermark has not passed any
    unmatched click's eviction horizon yet); a sentinel drain that
    pushes the watermark past every real row flushes each unmatched
    click's null row EXACTLY once; a third drain emits nothing new."""
    L, R = str(tmp_path / "l"), str(tmp_path / "r")
    OUT, CK = str(tmp_path / "out"), str(tmp_path / "ck")
    clicks = spark.createDataFrame(
        [(1, 100, "2024-01-01 00:00:00"), (2, 200, "2024-01-01 00:00:10")],
        "event_id long, user_id long, ts_s string",
    ).select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    errors = spark.createDataFrame(
        [(9, 100, "2024-01-01 00:01:00")],
        "error_event_id long, user_id long, ts_s string",
    ).select(
        "error_event_id",
        "user_id",
        F.col("ts_s").cast("timestamp").alias("error_ts"),
    )
    clicks.write.parquet(L)
    errors.write.parquet(R)

    def drain():
        from olist_lakehouse_2_0_spark.streaming.ingest import run_to_parquet

        lw = spark.readStream.schema(clicks.schema).parquet(L)
        rw = spark.readStream.schema(errors.schema).parquet(R)
        run_to_parquet(
            stream_interval_join(
                lw, rw, key="user_id", left_ts="ts", right_ts="error_ts",
                upper_seconds=300, watermark="10 minutes", how="leftOuter",
            ),
            OUT,
            CK,
        )
        return sorted(
            [
                (r.event_id, r.error_event_id)
                for r in spark.read.schema(
                    "event_id long, user_id long, ts timestamp,"
                    " error_event_id long, error_ts timestamp"
                ).parquet(OUT).collect()
            ]
        )

    assert drain() == [(1, 9)]  # matched only; null rows still buffered
    sentinel = F.lit("2024-01-02 00:00:00").cast("timestamp")
    spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        sentinel.alias("ts"),
    ).write.mode("append").parquet(L)
    spark.range(1).select(
        F.lit(-1).cast("long").alias("error_event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        sentinel.alias("error_ts"),
    ).write.mode("append").parquet(R)
    flushed = drain()
    assert flushed == [(-1, -1), (1, 9), (2, None)]
    assert drain() == flushed  # replay-safe: nothing emitted twice


def test_stream_full_outer_join_flushes_both_sides(spark, tmp_path):
    """fullOuter through the same machinery: after the sentinel flush,
    the unmatched CLICK emits a null-error row and the unmatched ERROR
    emits a null-click row — both exactly once."""
    L, R = str(tmp_path / "l"), str(tmp_path / "r")
    OUT, CK = str(tmp_path / "out"), str(tmp_path / "ck")
    clicks = spark.createDataFrame(
        [(1, 100, "2024-01-01 00:00:00"), (2, 200, "2024-01-01 00:00:10")],
        "event_id long, user_id long, ts_s string",
    ).select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    errors = spark.createDataFrame(
        [(9, 100, "2024-01-01 00:01:00"), (8, 300, "2024-01-01 00:02:00")],
        "error_event_id long, user_id long, ts_s string",
    ).select(
        "error_event_id",
        "user_id",
        F.col("ts_s").cast("timestamp").alias("error_ts"),
    )
    clicks.write.parquet(L)
    errors.write.parquet(R)

    def drain():
        from olist_lakehouse_2_0_spark.streaming.ingest import run_to_parquet

        lw = spark.readStream.schema(clicks.schema).parquet(L)
        rw = spark.readStream.schema(errors.schema).parquet(R)
        run_to_parquet(
            stream_interval_join(
                lw, rw, key="user_id", left_ts="ts", right_ts="error_ts",
                upper_seconds=300, watermark="10 minutes", how="fullOuter",
            ),
            OUT,
            CK,
        )
        return sorted(
            [
                (r.event_id, r.error_event_id)
                for r in spark.read.schema(
                    "event_id long, user_id long, ts timestamp,"
                    " error_event_id long, error_ts timestamp"
                ).parquet(OUT).collect()
            ],
            key=lambda t: (t[0] is None, t),
        )

    assert drain() == [(1, 9)]
    sentinel = F.lit("2024-01-02 00:00:00").cast("timestamp")
    spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        sentinel.alias("ts"),
    ).write.mode("append").parquet(L)
    spark.range(1).select(
        F.lit(-1).cast("long").alias("error_event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        sentinel.alias("error_ts"),
    ).write.mode("append").parquet(R)
    flushed = drain()
    assert flushed == [(-1, -1), (1, 9), (2, None), (None, 8)]
    assert drain() == flushed
