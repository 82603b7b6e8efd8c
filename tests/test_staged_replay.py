"""The staged replay path of ``streaming.ingest``: ``land`` writes a
frame and streams it back with the schema its files carry,
``run_to_parquet`` returns the sink read back with the stream's schema,
and the directory-swap sinks (``CdcSink``, ``IncrementalAggTable``)
record what they wrote in the catalog's schema memo."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_lakehouse_2_0_spark import catalog
from olist_lakehouse_2_0_spark.operators.cdc import CdcSink, ChangeSpec
from olist_lakehouse_2_0_spark.plans.incremental import AggSpec, IncrementalAggTable
from olist_lakehouse_2_0_spark.streaming.ingest import (
    land,
    run_foreach_batch,
    run_to_parquet,
)
from tests.test_schema_memo import _jobs_run_by


def _frame(spark, n=30):
    # Non-nullable top-level and nested fields, so nullability shows.
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 4).alias("k"),
        F.array(F.col("id")).alias("ids"),
    )


def _memo_is_current(spark, path) -> bool:
    entry = catalog._SCHEMA_MEMO.get(catalog._memo_key(spark, path))
    return entry is not None and entry[0] == catalog._file_versions(path)


def test_land_drains_one_batch_per_file(spark, tmp_path):
    df = _frame(spark)
    assert not df.schema["id"].nullable
    stream = land(df, str(tmp_path), files=3)
    expected = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("k", T.LongType(), True),
        T.StructField("ids", T.ArrayType(T.LongType(), True), True),
    ])
    assert stream.schema == expected
    assert spark.read.parquet(str(tmp_path / "landing")).schema == expected
    batches = []
    run_foreach_batch(
        stream, lambda b, i: batches.append((i, b.count())), str(tmp_path / "ckpt")
    )
    assert [i for i, _ in batches] == [0, 1, 2]
    assert sum(n for _, n in batches) == 30


def test_empty_drain_reads_back_empty_with_stream_schema(spark, tmp_path):
    stream = land(_frame(spark), str(tmp_path)).filter("id < 0")
    # The drain's jobs run in the stream's own job group; the caller's
    # read-back submits none (no footer inference).
    back, jobs = _jobs_run_by(
        spark,
        lambda: run_to_parquet(stream, str(tmp_path / "out"), str(tmp_path / "ckpt")),
    )
    assert jobs == 0
    assert back.schema == stream.schema
    assert back.count() == 0


def test_cdc_sink_read_back_is_a_memo_hit(spark, tmp_path):
    spec = ChangeSpec(keys=("k",), sequence_by=("id",), operation_col="op")
    feed = _frame(spark, 20).select(
        "k", "id", F.when(F.col("id") == 17, "DELETE").otherwise("UPSERT").alias("op")
    )
    target = str(tmp_path / "scd2")
    run_foreach_batch(
        land(feed, str(tmp_path), files=2),
        CdcSink(target, spec, scd_type=2),
        str(tmp_path / "ckpt"),
    )
    assert _memo_is_current(spark, target)
    current = catalog.read_parquet(spark, target).filter("__is_current")
    # Key 1's last event (id 17) is a delete: no current version.
    assert sorted(r.k for r in current.collect()) == [0, 2, 3]


def test_incremental_agg_read_back_is_a_memo_hit(spark, tmp_path):
    table = IncrementalAggTable(
        str(tmp_path / "agg"), keys=["k"], specs=[AggSpec("count", "*", "n")]
    )
    run_foreach_batch(
        land(_frame(spark), str(tmp_path), files=2),
        table.foreach_batch_merger(spark),
        str(tmp_path / "ckpt"),
    )
    assert table.last_applied_batch() == 1
    assert _memo_is_current(spark, table.path)
    rows = table.read_final(spark).orderBy("k").collect()
    assert [(r.k, r.n) for r in rows] == [(0, 8), (1, 8), (2, 7), (3, 7)]
