"""Streaming window operators: the SAME functions that back the batch
event queries, driven through readStream + watermark + availableNow.

Verifies batch/stream unification: a watermarked streaming run over a
static parquet directory must produce exactly the batch answer once the
stream drains (availableNow processes everything, then the final
watermark closes all windows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import load
from olist_lakehouse_2_0_spark.streaming.windows import (
    sessionize,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-staged as a timestamp-typed parquet directory (a
    streamable source; the raw testdata is a single file)."""
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    load(spark, SF, "events").write.parquet(path)
    return path


def _drain(stream_df, spark, tmp_path, name):
    """Run a streaming aggregation to completion into a memory sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, events_dir, tmp_path):
    batch = load(spark, SF, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)

    expected = tumbling_window_agg(batch, distinct_users=False)
    got = _drain(
        tumbling_window_agg(
            stream.withWatermark("ts", "0 seconds"), distinct_users=False
        ),
        spark,
        tmp_path,
        "tumbling_stream",
    )
    # availableNow emits closed windows; the last (still-open) window is
    # withheld by the watermark, so compare on the batch side restricted
    # to windows the stream closed.
    got_rows = _rows(got)
    assert got_rows, "stream produced no closed windows"
    max_ws = max(r[0] for r in got_rows)
    exp_rows = [r for r in _rows(expected) if r[0] <= max_ws]
    assert got_rows == exp_rows


def test_session_stream_matches_batch(spark, events_dir, tmp_path):
    batch = load(spark, SF, "events")
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)

    expected = sessionize(batch, gap="30 minutes")
    got = _drain(
        sessionize(stream.withWatermark("ts", "0 seconds"), gap="30 minutes"),
        spark,
        tmp_path,
        "session_stream",
    )
    got_rows = _rows(got)
    assert got_rows, "stream produced no closed sessions"
    max_end = max(r[2] for r in got_rows)  # session_end
    exp_rows = [r for r in _rows(expected) if r[2] <= max_end]
    assert got_rows == exp_rows


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data policy: an event older than the watermark whose window
    already closed must be DROPPED, not re-opened — the bounded-state
    guarantee that lets window state be evicted at scale. Three
    micro-batches: on-time data, then a too-late event + fresh data,
    then a far-future flush that closes everything."""
    import datetime as dt

    schema = "ts timestamp, event_type string, value double, user_id long"

    def ts(h, m=0):
        return dt.datetime(2026, 1, 1, h, m)

    landing = tmp_path / "late_landing"
    landing.mkdir()
    batches = [
        # batch 0: events at 09:10 and 10:45 -> watermark advances to
        # 10:15, strictly past the 09:00-10:00 window's end
        [(ts(9, 10), "click", 1.0, 1), (ts(10, 45), "click", 1.0, 2)],
        # batch 1: the 10:15 watermark takes effect — the 09:00 window
        # is emitted and its state evicted at this batch's end (a late
        # row arriving IN this batch would still merge: eviction is
        # end-of-batch)
        [(ts(10, 50), "click", 1.0, 6)],
        # batch 2: 09:20 targets the evicted 09:00 window -> DROPPED;
        # 11:10 is fresh
        [(ts(9, 20), "click", 100.0, 3), (ts(11, 10), "click", 1.0, 4)],
        # batch 3: far-future flush advances the watermark past 11:00
        [(ts(15, 0), "flush", 0.0, 5)],
    ]
    import time

    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(landing / f"b{i}")
        )
        # distinct mtimes: the file source orders micro-batches by
        # modification time, and the scenario depends on the order
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(landing / "b0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing) + "/*")
    )
    got = _drain(
        tumbling_window_agg(
            stream.withWatermark("ts", "30 minutes"), distinct_users=False
        ),
        spark,
        tmp_path,
        "late_drop",
    )
    clicks = {
        r["window_start"].hour: (r["n_events"], float(r["sum_value"]))
        for r in got.filter(F.col("event_type") == "click").collect()
    }
    # 09:00 window: only the on-time 09:10 event — the late 09:20
    # (value 100.0) must not appear
    assert clicks[9] == (1, 1.0), clicks
    assert clicks[10] == (2, 2.0)
    assert clicks[11] == (1, 1.0)


def test_sketch_profile_accuracy(spark):
    """Approx sketches must land within tolerance of exact answers."""
    from olist_lakehouse_2_0_spark.queries.event_queries import (
        events_sketch_profile,
    )

    got = {r.event_type: r for r in events_sketch_profile(spark, SF).collect()}
    exact = {
        r.event_type: r
        for r in load(spark, SF, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    for t, e in exact.items():
        assert abs(got[t].approx_users - e.users) <= max(2, 0.05 * e.users)
        assert abs(got[t].value_p50 - e.p50) <= 0.05 * max(1.0, e.p50)


def test_dedupe_stream_drops_redelivery(spark, tmp_path):
    """Streaming dropDuplicates + watermark: a duplicate event_id
    re-delivered in a later micro-batch (within the watermark) is
    dropped; distinct ids all survive."""
    import datetime as dt

    from pyspark.sql import functions as F

    from olist_lakehouse_2_0_spark.streaming.windows import dedupe_stream

    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    schema = "event_id long, ts timestamp, value double"
    base = dt.datetime(2024, 1, 1, 12, 0)

    b1 = [(1, base, 1.0), (2, base + dt.timedelta(minutes=1), 2.0)]
    # batch 2 re-delivers event 1 (same id) and adds event 3
    b2 = [(1, base, 1.0), (3, base + dt.timedelta(minutes=2), 3.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(landing / "b1")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(landing / "b2")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing) + "/*")
    )
    deduped = dedupe_stream(stream, keys=("event_id",), watermark="1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(str(out))
    assert got.count() == 3  # events 1, 2, 3 — re-delivery dropped
    assert got.select("event_id").distinct().count() == 3


def test_dedupe_stream_restamped_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark (restamped=True): a redelivery
    whose event time was RE-STAMPED minutes later (broker retry) still
    dedups, because the guarantee is keyed on the two copies being
    within the watermark delay of each other, not on exact-timestamp
    state like plain dropDuplicates."""
    import datetime as dt

    from olist_lakehouse_2_0_spark.streaming.windows import dedupe_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = "event_id long, ts timestamp, value double"
    base = dt.datetime(2024, 1, 1, 12, 0)

    b1 = [(1, base, 1.0), (2, base + dt.timedelta(minutes=1), 2.0)]
    # redelivery of event 1 arrives RESTAMPED 5 minutes later
    b2 = [(1, base + dt.timedelta(minutes=5), 1.0),
          (3, base + dt.timedelta(minutes=2), 3.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(landing / "b1")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        str(landing / "b2")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing) + "/*")
    )
    deduped = dedupe_stream(
        stream, keys=("event_id",), watermark="1 hour", restamped=True
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 3
    assert got.select("event_id").distinct().count() == 3
    # Batch fallback: same call on a batch frame degrades to plain
    # dropDuplicates (the WithinWatermark API is streaming-only).
    batch = spark.createDataFrame(b1 + b2, schema)
    assert dedupe_stream(
        batch, keys=("event_id",), watermark="1 hour", restamped=True
    ).count() == 3


def test_drain_restores_shuffle_partitions_on_exception(
    spark, tmp_path, monkeypatch
):
    """A drain sets its sized partition count on the session only
    across ``start()``, and must restore the session default even when
    the start raises (a leaked override would silently resize every
    later shuffle in the session)."""
    import pytest
    from pyspark.sql.streaming import DataStreamWriter

    from olist_lakehouse_2_0_spark.streaming.ingest import run_to_parquet

    key = "spark.sql.shuffle.partitions"
    landing = str(tmp_path / "landing")
    spark.range(10).write.parquet(landing)
    stream = spark.readStream.schema("id long").parquet(landing)
    seen = []

    def failing_start(self, *args, **kwargs):
        seen.append(spark.conf.get(key))
        raise RuntimeError("drain failed")

    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        run_to_parquet(stream.dropDuplicates(["id"]), str(tmp_path / "out"),
                       str(tmp_path / "ckpt"))
    assert seen == ["1"] and before != "1"
    assert spark.conf.get(key) == before
