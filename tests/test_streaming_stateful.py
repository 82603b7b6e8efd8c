"""Tests for the applyInPandasWithState per-user running profile:
cross-micro-batch state carry, session-gap semantics, and parity with
the relational (LAG-gap) batch computation.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.streaming.stateful import user_running_profile

pytestmark = pytest.mark.usefixtures("spark")


def _ts(minute: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


ROWS_BATCH1 = [
    # user 1: two events 5 min apart -> one session so far
    (1, _ts(0), 10.0),
    (1, _ts(5), 20.0),
    # user 2: single event
    (2, _ts(2), 7.0),
]
ROWS_BATCH2 = [
    # user 1: 40 min after last seen -> second session
    (1, _ts(45), 5.0),
    # user 2: 10 min gap -> still session one
    (2, _ts(12), 3.0),
    # user 3: first appearance
    (3, _ts(50), 1.0),
]


def _run_two_batches(spark, tmp_path, gap_minutes=30):
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()

    schema = "user_id long, ts timestamp, value double"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(landing / name))

    write_batch(ROWS_BATCH1, "b1")
    write_batch(ROWS_BATCH2, "b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing) + "/*")
    )
    profile = user_running_profile(stream, gap_minutes=gap_minutes)

    def sink(batch_df, batch_id):
        batch_df.withColumn("_batch", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(str(out))

    q = (
        profile.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(str(out))


def test_state_carries_across_micro_batches(spark, tmp_path):
    rows = _run_two_batches(spark, tmp_path)
    # At least two distinct micro-batches must have fired (one file each).
    assert rows.select("_batch").distinct().count() >= 2

    from pyspark.sql import Window as W

    final = (
        rows.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("_batch"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value", "n_sessions")
    )
    got = {r["user_id"]: r.asDict() for r in final.collect()}
    assert got[1]["n_events"] == 3
    assert got[1]["total_value"] == pytest.approx(35.0)
    assert got[1]["n_sessions"] == 2  # 40-min gap opened a new session
    assert got[2]["n_events"] == 2
    assert got[2]["n_sessions"] == 1  # 10-min gap stayed in session
    assert got[3]["n_events"] == 1
    assert got[3]["n_sessions"] == 1


def test_rocksdb_state_store_produces_same_profile(spark, tmp_path):
    """The at-scale state backend: billions of keys don't fit JVM-heap
    state, so production runs RocksDB. The provider must be a drop-in —
    identical profile output, state carried across micro-batches. The
    conf is read per-query at stream start, so setting it on the shared
    session and restoring afterwards scopes it to this test."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        rows = _run_two_batches(spark, tmp_path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    from pyspark.sql import Window as W

    final = (
        rows.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("_batch"))
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    got = {r["user_id"]: r.asDict() for r in final.collect()}
    assert got[1]["n_events"] == 3 and got[1]["n_sessions"] == 2
    assert got[2]["n_events"] == 2 and got[2]["n_sessions"] == 1
    assert got[3]["n_events"] == 1


def test_profile_matches_relational_gap_count(spark, tmp_path):
    """The stateful result must equal the batch LAG-gap computation."""
    rows = _run_two_batches(spark, tmp_path)

    from pyspark.sql import Window as W

    final = (
        rows.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.desc("_batch"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value", "n_sessions", "last_ts")
    )

    all_rows = ROWS_BATCH1 + ROWS_BATCH2
    batch = spark.createDataFrame(
        all_rows, "user_id long, ts timestamp, value double"
    )
    w = W.partitionBy("user_id").orderBy("ts")
    expected = (
        batch.withColumn("prev_ts", F.lag("ts").over(w))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.count(
                F.when(
                    F.col("prev_ts").isNull()
                    | (
                        F.col("ts").cast("long") - F.col("prev_ts").cast("long")
                        > 30 * 60
                    ),
                    1,
                )
            ).alias("n_sessions"),
            F.max("ts").alias("last_ts"),
        )
    )
    got = sorted(final.collect(), key=lambda r: r["user_id"])
    exp = sorted(expected.collect(), key=lambda r: r["user_id"])
    assert [r.asDict() for r in got] == [r.asDict() for r in exp]


def test_profile_correct_when_group_spans_arrow_chunks(spark, tmp_path):
    """A user whose micro-batch rows span multiple Arrow chunks must
    still get globally-sorted session detection (chunk-local sorting
    would interleave out-of-order timestamps)."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        # 10 events for one user, written in REVERSE time order so every
        # 3-row chunk is far from globally sorted; all within the gap.
        rows = [(1, _ts(9 - i), 1.0) for i in range(10)]
        landing = tmp_path / "landing"
        out = tmp_path / "out"
        ckpt = tmp_path / "ckpt"
        landing.mkdir()
        schema = "user_id long, ts timestamp, value double"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(landing / "b1")
        )
        stream = spark.readStream.schema(schema).parquet(str(landing) + "/*")
        profile = user_running_profile(stream, gap_minutes=30)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(out))

        q = (
            profile.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.read.parquet(str(out)).collect()
        assert len(got) == 1
        assert got[0]["n_events"] == 10
        assert got[0]["n_sessions"] == 1  # one contiguous session
        assert got[0]["last_ts"] == _ts(9)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


class _State:
    """The slice of ``GroupState`` the profile update uses."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _loop_update(gap_minutes, state, pdfs):
    """The per-event loop the vectorised update replaced: the reference
    the randomised test compares it with."""
    import numpy as np
    import pandas as pd

    gap_us = gap_minutes * 60_000_000
    if state.exists:
        n_events, total_cents, n_sessions, last_us = state.get
    else:
        n_events, total_cents, n_sessions, last_us = 0, 0, 0, None
    chunks = list(pdfs)
    if chunks:
        whole = pd.concat(chunks, ignore_index=True).sort_values("ts")
        ts_us = (
            whole["ts"].astype("datetime64[ns]").astype("int64") // 1000
        ).to_numpy()
        n_events += len(whole)
        total_cents += int(
            np.floor(whole["value"].to_numpy() * 100.0 + 0.5).astype("int64").sum()
        )
        for t in ts_us:
            if last_us is None or t - last_us > gap_us:
                n_sessions += 1
            last_us = int(t)
    state.update((n_events, total_cents, n_sessions, last_us))
    return state.value


def test_vectorised_update_matches_event_loop():
    """Randomised keys: gaps of exactly the session gap (not a new
    session) and one microsecond more (a new one), unsorted rows split
    into several chunks, and state carried across micro-batches —
    including a batch that starts before the carried last-seen time."""
    import numpy as np
    import pandas as pd

    from olist_lakehouse_2_0_spark.streaming.stateful import _make_update

    gap = 30
    update = _make_update(gap)
    rng = np.random.default_rng(7)
    steps_us = np.array([0, 1, 60_000_000, gap * 60_000_000, gap * 60_000_000 + 1])
    for trial in range(200):
        fast, slow = _State(), _State()
        base_us = 1_700_000_000_000_000 + int(rng.integers(0, 10**9))
        for _batch in range(int(rng.integers(1, 4))):
            n = int(rng.integers(0, 40))
            ts_us = base_us + np.cumsum(rng.choice(steps_us, n))
            base_us = int(ts_us[-1]) if n else base_us
            if rng.random() < 0.3:  # late batch: behind the carried state
                ts_us = ts_us - 2 * gap * 60_000_000
            order = rng.permutation(n)
            pdf = pd.DataFrame(
                {
                    "user_id": np.full(n, trial, dtype="int64"),
                    "ts": pd.to_datetime(ts_us[order], unit="us"),
                    "value": rng.integers(0, 100_000, n) / 100.0,
                }
            )
            cuts = [0, *sorted(rng.integers(0, n + 1, int(rng.integers(0, 4)))), n]
            chunks = [pdf.iloc[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]
            got = next(update((trial,), iter(chunks), fast))
            want = _loop_update(gap, slow, iter(chunks))
            assert fast.value == want
            assert got["n_sessions"].iloc[0] == want[2]
            if want[3] is not None:
                assert got["last_ts"].iloc[0] == pd.Timestamp(want[3], unit="us")
