"""Custom stateful streaming operator built on
``applyInPandasWithState``: a per-user running profile (event count,
value total, session count by inactivity gap, last-seen timestamp) that
no built-in aggregation expresses — session counting needs ordered
per-key iteration with state carried across micro-batches.

Beyond-reference surface: the reference's only stream notion is
incremental file ingestion (SURVEY.md §2.9, reference
docs/ARCHITECTURE.md:227-232); this is the "custom stateful operator"
slot of a complete engine's streaming toolkit.

Scale notes (100 TB design):
- State is partitioned by user_id across executors by the streaming
  state store — per-key state is 4 scalars (32 bytes), so 1e9 users is
  ~32 GB cluster-wide, well inside RocksDB state-store territory.
- Each micro-batch shuffles only that batch's events on user_id; the
  pandas function sees one key group at a time (Arrow-batched).
- In production the operator would pair with a watermark-driven
  ``GroupStateTimeout.EventTimeTimeout`` to retire idle users; the
  profile itself never grows.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    pass

#: Output schema of the running profile rows emitted each micro-batch.
PROFILE_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, "
    "n_sessions bigint, last_ts timestamp"
)
#: Persistent per-key state: (n_events, total_cents, n_sessions,
#: last_seen_epoch_us). The value total is carried as integer
#: hundredths (floor(v*100 + 0.5) per event): exact integer addition
#: makes the running total independent of micro-batch boundaries and
#: state-merge order — a float accumulator drifts from the batch-SQL
#: oracle by summation order.
STATE_SCHEMA = "n_events bigint, total_cents bigint, n_sessions bigint, last_us bigint"

_US_PER_MIN = 60_000_000


def _make_update(gap_minutes: int):
    gap_us = gap_minutes * _US_PER_MIN

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n_events, total_cents, n_sessions, last_us = state.get
        else:
            n_events, total_cents, n_sessions, last_us = 0, 0, 0, None
        # The iterator yields the key group in Arrow-sized CHUNKS
        # (maxRecordsPerBatch); sorting chunks independently would
        # interleave out-of-order timestamps across chunk boundaries
        # and corrupt the gap detection — concatenate first, sort once.
        chunks = list(pdfs)
        if chunks:
            if len(chunks) == 1:
                whole = chunks[0]
            else:
                whole = pd.concat(chunks, ignore_index=True)
            # Normalize to ns first: Arrow may hand pandas datetime64 in
            # either ns or us resolution, and a bare astype("int64")
            # would silently change units between the two.
            ts_us = (
                whole["ts"].sort_values().astype("datetime64[ns]").astype("int64")
                // 1000
            ).to_numpy()
            n_events += len(whole)
            # floor(v*100 + 0.5): pure IEEE quantization to integer
            # hundredths, bit-identical in any engine; summed exactly.
            total_cents += int(
                np.floor(whole["value"].to_numpy() * 100.0 + 0.5)
                .astype("int64")
                .sum()
            )
            # A new session starts at every gap wider than gap_us: the
            # first event against the carried last-seen time (or
            # always, for a new key), the rest against their sorted
            # predecessor.
            first_opens = last_us is None or int(ts_us[0]) - last_us > gap_us
            n_sessions += int(first_opens) + int(
                np.count_nonzero(np.diff(ts_us) > gap_us)
            )
            last_us = int(ts_us[-1])
        state.update((n_events, total_cents, n_sessions, last_us))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n_events],
                "total_value": [total_cents / 100.0],
                "n_sessions": [n_sessions],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return update


def user_running_profile(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Apply the stateful per-user profile over a streaming (or batch
    test) events DataFrame with columns (ts, user_id, value); other
    columns are dropped before the Python boundary.

    Emits one updated profile row per user per micro-batch
    (``outputMode="update"``); pair with ``foreachBatch`` or an
    update-capable sink.
    """
    return events.select("user_id", "ts", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _make_update(gap_minutes),
        PROFILE_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the driver's single-file events table.

    The reference file stores ``ts`` as TIMESTAMP(MICROS) and streams as
    is. A TIMESTAMP(NANOS) file falls back to the nanosAsLong legacy
    flag (same handling as the batch loader,
    ``catalog._load_nanos_ts``) and is converted to microsecond
    timestamps.
    """
    from olist_lakehouse_2_0_spark.catalog import _testdata_path, read_parquet

    # Resolve single-file vs dataset-directory layout the same way the
    # batch loader does (catalog._testdata_path).
    path = _testdata_path(sf_dir, "events")
    # The plain probe reads a TIMESTAMP(MICROS) file directly. A
    # TIMESTAMP(NANOS) file is readable only as int64 via the
    # nanosAsLong legacy flag, and the plain probe may raise only for
    # such files, so try the flag before concluding the path is
    # unreadable. Both probes go through the schema memo, so a repeat
    # read of an unchanged file runs no inference job.
    # NOTE: in the nanos fallback the flag must stay set while the
    # STREAM runs — the file source re-resolves the parquet footer per
    # micro-batch — so it cannot be restored here;
    # run_profile_availablenow restores it after the query terminates.
    from pyspark.sql.types import LongType

    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        schema = read_parquet(spark, path).schema
        nanos = isinstance(schema["ts"].dataType, LongType)
    except Exception:
        nanos = True
    if nanos:
        spark.conf.set(key, "true")
        schema = read_parquet(spark, path).schema  # raises if truly unreadable
        if not isinstance(schema["ts"].dataType, LongType):
            # Readable without the flag after all (probe failed for an
            # unrelated transient reason) — don't rewrite ts below.
            spark.conf.unset(key)
            nanos = False
    # The file stream source only accepts directories; stage symlinks
    # to the data file(s) inside a temp landing dir (zero-copy — this
    # mirrors how files would land incrementally in production). A
    # dataset DIRECTORY is symlinked per-file: the stream source does
    # not follow directory symlinks without recursiveFileLookup.
    from olist_lakehouse_2_0_spark.staging import staging_dir

    landing = staging_dir("events_stream_src")
    if os.path.isdir(path):
        for i, fname in enumerate(sorted(os.listdir(path))):
            if fname.endswith(".parquet"):
                os.symlink(
                    os.path.join(path, fname),
                    os.path.join(landing, f"part-{i:05d}.parquet"),
                )
    else:
        os.symlink(path, os.path.join(landing, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(landing)
    if nanos:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        # Cast NTZ → TIMESTAMP (session tz is UTC, values unchanged) so
        # watermarks accept `ts` as an event-time column.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def run_profile_availablenow(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Run the stateful profile over the events table as an
    ``availableNow`` streaming query (exactly-once over the current
    files, then stop) and return the final per-user profile.

    ``foreachBatch`` appends each micro-batch's updated rows with a
    batch id; the returned DataFrame keeps only each user's latest
    update, so the result is identical whether the source fed one batch
    or many.
    """
    from olist_lakehouse_2_0_spark.staging import staging_dir
    from olist_lakehouse_2_0_spark.streaming.ingest import run_foreach_batch

    out_root = staging_dir("stateful_profile")
    data_dir = os.path.join(out_root, "data")
    ckpt_dir = os.path.join(out_root, "ckpt")

    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)
    try:
        profile = user_running_profile(
            read_events_stream(spark, sf_dir), gap_minutes
        )

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("_batch", F.lit(batch_id).cast("long")).write.mode(
                "append"
            ).parquet(data_dir)

        run_foreach_batch(profile, sink, ckpt_dir, mode="update")
        # The sink wrote exactly this schema: read back without a
        # schema-inference job.
        written = T.StructType(
            profile.schema.fields + [T.StructField("_batch", T.LongType())]
        )
    finally:
        # The stream has fully terminated; restore the legacy flag so
        # later batch reads of TIMESTAMP(NANOS) files in this session
        # aren't silently changed to bigint.
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    from pyspark.sql import Window as W

    rows = spark.read.schema(written).parquet(data_dir)
    w = W.partitionBy("user_id").orderBy(F.desc("_batch"))
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value", "n_sessions", "last_ts")
    )
