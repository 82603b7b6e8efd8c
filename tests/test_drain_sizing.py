"""Stateful streaming drains size their shuffle partition count from
the backlog, the way AQE coalesces a batch shuffle, and set it only
across ``start()``; stateless drains leave the session alone
(``streaming.ingest._drain``)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from olist_lakehouse_2_0_spark.streaming.ingest import (
    _is_stateful,
    _landed_files,
    backlog_bytes,
    coalesced_partitions,
    drain_partitions,
)

MB = 1024 * 1024
ADVISORY = 64 * MB  # spark.sql.adaptive.advisoryPartitionSizeInBytes default
MIN_SIZE = 1 * MB  # spark.sql.adaptive.coalescePartitions.minPartitionSize default
KEY = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize(
    "total, session_n, parallelism, expected",
    [
        (0, 8, 4, 1),  # an empty backlog still needs one partition
        (320_000, 4, 4, 1),  # the profile at sf0.01: 10k rows x 32 B
        (3_200_000, 4, 4, 4),  # the profile at sf0.1: 1 MB per core
        (10**14, 8, 4, 8),  # 100 TB-scale backlog: the session count
        (10**14, 8192, 1000, 8192),
    ],
)
def test_rule_matches_aqe_coalescing(total, session_n, parallelism, expected):
    got = coalesced_partitions(total, session_n, parallelism, ADVISORY, MIN_SIZE)
    assert got == expected


def test_parallelism_first_off_uses_advisory_size(spark):
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert drain_partitions(spark, 3_200_000) == 1
        assert drain_partitions(spark, 200 * MB) == 4  # ceil(200 / 64)
        spark.conf.set(key, "true")
        # conftest's local[8]: the 3.2 MB split floors at 1 MB a partition
        assert drain_partitions(spark, 3_200_000) == 4
    finally:
        spark.conf.set(key, prev)


def test_unsizable_backlog_keeps_session_count(spark):
    assert _landed_files("s3a://bucket/landing") is None
    assert _landed_files("hdfs://nn:8020/landing/*") is None
    assert drain_partitions(spark, None) == int(spark.conf.get(KEY))


def test_backlog_counts_footer_rows_times_source_row_size(spark, tmp_path):
    landing = str(tmp_path / "landing")
    spark.range(1000).selectExpr(
        "id AS user_id", "timestamp_seconds(id) AS ts", "id * 0.5 AS value",
        "repeat('x', 50) AS payload",
    ).repartition(3).write.parquet(landing)
    schema = "user_id long, ts timestamp, value double, payload string"
    stream = spark.readStream.schema(schema).parquet(landing)
    # 8 + 8 + 8 + 8 + 20 bytes per row (a string's defaultSize is 20)
    assert backlog_bytes(stream) == 1000 * 52
    # a glob lists the same files: _SUCCESS and .crc files are skipped
    globbed = spark.readStream.schema(schema).parquet(landing + "/*")
    assert backlog_bytes(globbed) == 1000 * 52
    # operators above the source do not change the estimate
    agg = stream.filter("value > 0").groupBy("user_id").sum("value")
    assert backlog_bytes(agg) == 1000 * 52


def test_only_stateful_drains_are_sized(spark, tmp_path):
    landing = str(tmp_path / "landing")
    spark.range(10).selectExpr("id", "timestamp_seconds(id) AS ts").write.parquet(
        landing
    )
    stream = spark.readStream.schema("id long, ts timestamp").parquet(landing)
    static = spark.range(5)
    assert not _is_stateful(stream.filter("id > 1").select("id"))
    assert not _is_stateful(stream.join(static, "id"))
    assert _is_stateful(stream.groupBy("id").count())
    assert _is_stateful(stream.dropDuplicates(["id"]))
    watermarked = stream.withWatermark("ts", "1 minute")
    assert _is_stateful(watermarked.alias("a").join(watermarked.alias("b"), "id"))


def test_stateless_drain_leaves_session_alone(spark, tmp_path, monkeypatch):
    """A stateless drain runs no shuffle the count would size, so it
    starts with the session untouched: a batch query planned by another
    thread during its start() sees the session's own count."""
    from pyspark.sql.conf import RuntimeConfig

    from olist_lakehouse_2_0_spark.streaming.ingest import run_to_parquet

    landing = str(tmp_path / "landing")
    spark.range(10).write.parquet(landing)
    stream = spark.readStream.schema("id long").parquet(landing)
    sets = []
    conf_set = RuntimeConfig.set

    def recording_set(self, key, value):
        sets.append(key)
        return conf_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    run_to_parquet(stream.filter("id > 2"), str(tmp_path / "out"),
                   str(tmp_path / "ckpt"))
    assert KEY not in sets
    assert spark.read.parquet(str(tmp_path / "out")).count() == 7


def test_profile_drain_runs_one_partition_and_leaves_session_alone(
    spark, sf_smoke, monkeypatch
):
    from olist_lakehouse_2_0_spark.queries.event_queries import (
        events_user_profile_stateful,
    )

    assert spark.conf.get(KEY) == "8"
    # The drain waits on its query once start() has returned: by then the
    # caller's session must read its own count again.
    while_running = []
    await_termination = StreamingQuery.awaitTermination

    def recording_await(self, *args, **kwargs):
        while_running.append(spark.conf.get(KEY))
        return await_termination(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", recording_await)

    partitions = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            partitions.extend(
                op.numShufflePartitions for op in event.progress.stateOperators
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        assert events_user_profile_stateful(spark, sf_smoke).count() > 0
        deadline = time.monotonic() + 30
        while not partitions and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert while_running == ["8"]
    assert partitions and set(partitions) == {1}
    assert spark.conf.get(KEY) == "8"
