"""Incremental file ingestion: Structured Streaming file source with
exactly-once checkpointing — the OSS equivalent of AutoLoader
streaming tables.

Reference semantics (C1, docs/ARCHITECTURE.md:227-232 +
resources/olist_pipeline.yml:24): each triggered run processes only
files that arrived since the last run, exactly once, tracked by the
stream checkpoint. ``trigger(availableNow=True)`` drains everything
available and stops — the triggered-pipeline execution mode.

One staged replay: :func:`land` writes a frame as parquet landing
files and opens the file stream over them with the schema those files
carry; :func:`run_to_parquet` (or :func:`run_foreach_batch`) drains the
stream through ``_drain``; ``run_to_parquet`` returns the sink read back
with the stream's schema, so no read-back runs a footer-inference job.

Scale notes: the file-source checkpoint scales to millions of files
(compact log); ``maxFilesPerTrigger`` bounds micro-batch size so a
backlog doesn't produce one giant batch; downstream incremental tables
read the bronze output as their own stream, checkpointed independently
(S3 table-to-table streaming).
"""

from __future__ import annotations

import glob
import math
import os
import threading
import urllib.parse
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from olist_lakehouse_2_0_spark.catalog import written_schema
from olist_lakehouse_2_0_spark.sources.batch import (
    RESCUE_COL,
    _schema_with_rescue,
    with_audit_columns,
)


def read_csv_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    audit: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming CSV directory scan (S1, reference
    bronze/orders.sql:21-27)."""
    reader = (
        spark.readStream.schema(_schema_with_rescue(schema))
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", RESCUE_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.csv(path)
    return with_audit_columns(df) if audit else df


def land(df: DataFrame, root: str, files: int | None = None) -> DataFrame:
    """Write ``df`` as parquet under ``<root>/landing`` and return the
    file stream over it, read with the schema the files carry
    (:func:`~olist_lakehouse_2_0_spark.catalog.written_schema`).
    ``files=n`` lands ``n`` round-robin files and streams one per
    micro-batch, so the drain runs ``n`` batches."""
    landing = os.path.join(root, "landing")
    (df if files is None else df.repartition(files)).write.parquet(landing)
    reader = df.sparkSession.readStream.schema(written_schema(df))
    if files is not None:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(landing)


def run_to_parquet(
    stream_df: DataFrame, output_path: str, checkpoint_path: str
) -> DataFrame:
    """Drain all available input into a parquet streaming table
    (S5 sink shape) and stop — one triggered pipeline run. Returns the
    table read back with the stream's schema (no footer-inference job;
    a drain that wrote no rows reads back empty)."""
    writer = stream_df.writeStream.format("parquet").option("path", output_path)
    _drain(stream_df, writer, checkpoint_path, "append")
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(output_path)


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_path: str,
    mode: str = "append",
) -> None:
    """Drain all available input through a foreachBatch sink (the CDC
    apply path — CdcSink plugs in here)."""
    writer = stream_df.writeStream.foreachBatch(batch_fn)
    _drain(stream_df, writer, checkpoint_path, mode)


#: Held by drains that set the session's partition count across start().
_START_LOCK = threading.Lock()


def _drain(df: DataFrame, writer, checkpoint_path: str, mode: str) -> None:
    """Start ``writer`` (a sink for ``df``) as one ``availableNow``
    query and wait for it to stop. Every streaming drain in the engine
    starts here.

    Stateful micro-batches run with AQE off, so the shuffle partition
    count a stateful query starts with is its task and state-store
    count for good, and its checkpoint records it. For a stateful
    ``df`` that count is sized from the backlog
    (:func:`drain_partitions`) and set on the session only across
    ``start()``: the query clones the session when it is created, so
    the caller's session is back to its own count while the drain runs.
    Starts that set the count hold a lock, so two drains started at
    once cannot leave one's count behind. Stateless drains, and a
    checkpoint that already has offsets (Spark restores the count it
    recorded), leave the session alone."""
    writer = (
        writer.option("checkpointLocation", checkpoint_path)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    if _has_offsets(checkpoint_path) or not _is_stateful(df):
        query = writer.start()
    else:
        spark = df.sparkSession
        n = drain_partitions(spark, backlog_bytes(df))
        key = "spark.sql.shuffle.partitions"
        with _START_LOCK:
            prev = spark.conf.get(key)
            try:
                spark.conf.set(key, str(n))
                query = writer.start()
            finally:
                spark.conf.set(key, prev)
    query.awaitTermination()


#: Logical operators that keep state across micro-batches (Spark's
#: ``UnsupportedOperationChecker.isStatefulOperation``); a ``Join``
#: keeps state only when both of its sides stream.
_STATEFUL = frozenset({
    "Aggregate", "Distinct", "Deduplicate", "DeduplicateWithinWatermark",
    "FlatMapGroupsWithState", "FlatMapGroupsInPandasWithState",
    "TransformWithState", "TransformWithStateInPySpark",
})


def _is_stateful(df: DataFrame) -> bool:
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        kids = [node.children().apply(i) for i in range(node.children().size())]
        name = node.nodeName()
        if node.isStreaming() and (
            name in _STATEFUL
            or (name == "Join" and all(k.isStreaming() for k in kids))
        ):
            return True
        stack += kids
    return False


def coalesced_partitions(
    total_bytes: int,
    max_partitions: int,
    min_num_partitions: int,
    advisory_bytes: int,
    min_partition_bytes: int,
) -> int:
    """The partition count AQE's ``CoalesceShufflePartitions`` gives a
    shuffle of ``total_bytes`` (``ShufflePartitionsUtil``'s target
    size: the even split over ``min_num_partitions``, capped by the
    advisory size and floored at the minimum partition size), between
    1 and ``max_partitions``."""
    split = math.ceil(total_bytes / min_num_partitions)
    target = max(min(split, advisory_bytes), min_partition_bytes, 1)
    return max(1, min(max_partitions, math.ceil(total_bytes / target)))


def drain_partitions(spark: SparkSession, total_bytes: int | None) -> int:
    """Shuffle partition count for a drain whose first shuffle carries
    ``total_bytes``, read from the session's AQE confs the way AQE
    would coalesce that shuffle: with ``parallelismFirst`` the split
    covers ``minPartitionNum`` (default: the leaf-node parallelism),
    without it the advisory size alone sets the target. Capped at the
    session's ``spark.sql.shuffle.partitions``, which is also the
    answer when the backlog cannot be sized (``None``)."""
    conf = spark.conf
    session_n = int(conf.get("spark.sql.shuffle.partitions"))
    if total_bytes is None:
        return session_n
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    prefix = "spark.sql.adaptive.coalescePartitions."
    if conf.get(prefix + "parallelismFirst") == "true":
        min_num = int(
            conf.get(prefix + "minPartitionNum", None)
            or conf.get("spark.sql.leafNodeDefaultParallelism", None)
            or spark.sparkContext.defaultParallelism
        )
    else:
        min_num = 1
    return coalesced_partitions(
        total_bytes,
        session_n,
        min_num,
        to_bytes(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")),
        to_bytes(conf.get(prefix + "minPartitionSize")),
    )


def backlog_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of what the streaming sources of
    ``df`` have waiting: per source, the backlog row count times the
    source's row size (8 plus the ``defaultSize`` of each column,
    ``EstimationUtils.getSizePerRow`` without column stats).

    Rows come from the parquet footers of the landed files, read on
    the driver with no Spark job; other file formats count file bytes.
    ``None`` when a source cannot be sized: not a file source, or not
    on the local filesystem."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.isStreaming():
            size = _source_bytes(leaf, 8 + leaf.schema().defaultSize())
            if size is None:
                return None
            total += size
    return total


def _source_bytes(leaf, row_bytes: int) -> int | None:
    if leaf.nodeName() != "StreamingRelation":
        return None
    source = leaf.dataSource()
    path = source.options().get("path")
    files = _landed_files(path.get()) if path.isDefined() else None
    if files is None:
        return None
    if source.className() != "parquet":
        return sum(os.path.getsize(f) for f in files)
    import pyarrow.parquet as pq

    try:
        return row_bytes * sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, ValueError):
        return None


def _landed_files(path: str) -> list[str] | None:
    """The files a file stream source over ``path`` (a directory or a
    glob) would list: every file below it except hidden ones and
    ``_``-prefixed metadata. ``None`` when ``path`` is not local."""
    url = urllib.parse.urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    files = []
    for top in glob.glob(url.path):
        if top != url.path and _hidden(os.path.basename(top)):
            continue
        if os.path.isfile(top):
            files.append(top)
        for dirpath, dirnames, names in os.walk(top):
            dirnames[:] = [d for d in dirnames if not _hidden(d)]
            files += [os.path.join(dirpath, n) for n in names if not _hidden(n)]
    return files


def _hidden(name: str) -> bool:
    # Spark's listing filter: '.' names, and '_' names unless they are
    # partition directories (col=value).
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _has_offsets(checkpoint_path: str) -> bool:
    offsets = os.path.join(checkpoint_path, "offsets")
    return os.path.isdir(offsets) and any(
        not _hidden(n) for n in os.listdir(offsets)
    )


def full_refresh_reset(*paths: str) -> None:
    """Full-refresh semantics (reference olist_jobs.yml weekly job):
    delete checkpoints + targets so the next run reprocesses history."""
    import shutil

    for p in paths:
        if os.path.exists(p):
            shutil.rmtree(p)
