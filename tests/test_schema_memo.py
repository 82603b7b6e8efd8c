"""``catalog.read_parquet`` infers a table's schema once per version.

A parquet read without a schema runs a footer-reading Spark job; the
memo skips it for an unchanged table, re-infers after a rewrite, and
never reuses a schema across parquet type-mapping confs.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from olist_lakehouse_2_0_spark import catalog
from olist_lakehouse_2_0_spark.catalog import _load_nanos_ts, load, read_parquet
from olist_lakehouse_2_0_spark.streaming.stateful import read_events_stream

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_run_by(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_submits_no_job(spark, sf_smoke, tmp_path):
    shutil.copy(os.path.join(sf_smoke, "orders.parquet"), tmp_path)
    sf = str(tmp_path)

    first, jobs = _jobs_run_by(spark, lambda: load(spark, sf, "orders").schema)
    assert jobs >= 1  # a fresh table is inferred by a Spark job
    second, jobs = _jobs_run_by(spark, lambda: load(spark, sf, "orders").schema)
    assert jobs == 0
    assert second == first

    # the reference testdata tables, including events' timestamp probe and
    # the catalog's registered reads
    for name in ("events", "lineitem"):
        load(spark, sf_smoke, name)
        _, jobs = _jobs_run_by(spark, lambda: load(spark, sf_smoke, name).schema)
        assert jobs == 0, name
    cat = catalog.testdata_catalog(sf_smoke)
    cat.read(spark, "customer")
    _, jobs = _jobs_run_by(spark, lambda: cat.read(spark, "customer").schema)
    assert jobs == 0
    # the streaming events reader's schema probes
    read_events_stream(spark, sf_smoke)
    _, jobs = _jobs_run_by(spark, lambda: read_events_stream(spark, sf_smoke))
    assert jobs == 0


def test_rewritten_table_is_inferred_again(spark, sf_smoke, tmp_path):
    shutil.copy(os.path.join(sf_smoke, "region.parquet"), tmp_path)
    path = str(tmp_path / "region.parquet")
    sf = str(tmp_path)
    before = load(spark, sf, "region")
    assert "r_extra" not in before.columns
    old = os.stat(path)

    table = pq.read_table(path)
    table = table.append_column("r_extra", pa.array(range(table.num_rows)))
    pq.write_table(table, path)
    new = os.stat(path)
    assert (new.st_size, new.st_mtime_ns) != (old.st_size, old.st_mtime_ns)

    after = load(spark, sf, "region")
    assert after.columns == before.columns + ["r_extra"]
    assert after.count() == before.count()

    # a dataset directory: rewriting one of its files changes the key
    dataset = tmp_path / "region"
    dataset.mkdir()
    shutil.move(path, dataset / "part-0.parquet")
    assert "r_more" not in load(spark, sf, "region").columns
    pq.write_table(
        table.append_column("r_more", pa.array(range(table.num_rows))),
        dataset / "part-0.parquet",
    )
    assert "r_more" in load(spark, sf, "region").columns


def test_nanos_as_long_is_part_of_the_key(spark, tmp_path):
    base = 1_700_000_000_000_000_000  # epoch nanos
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([base], type=pa.timestamp("ns"))}),
        path,
        version="2.6",
        coerce_timestamps=None,
    )
    saved = spark.conf.get(NANOS_KEY, None)
    try:
        spark.conf.set(NANOS_KEY, "true")
        assert isinstance(read_parquet(spark, path).schema["ts"].dataType, LongType)
        # a TIMESTAMP(NANOS) footer is rejected without the flag: the
        # long-typed schema inferred under the flag must not be reused
        spark.conf.set(NANOS_KEY, "false")
        with pytest.raises(Exception, match="NANOS"):
            read_parquet(spark, path)
        # the loader's fallback still works, on every call
        for _ in range(2):
            spark.conf.set(NANOS_KEY, "false")
            rows = _load_nanos_ts(spark, path, "ts").collect()
            assert rows[0]["ts"] == dt.datetime.utcfromtimestamp(base / 1e9)
    finally:
        if saved is None:
            spark.conf.unset(NANOS_KEY)
        else:
            spark.conf.set(NANOS_KEY, saved)


def test_versioned_write_records_the_schema_spark_reads(spark, tmp_path):
    """A promoted unpartitioned version carries the schema its writer
    recorded — equal to what inference reports — so reading it back
    submits no job; a partitioned version keeps inferring."""
    df = spark.range(5).selectExpr(
        "id",  # non-nullable in the frame, nullable once written
        "CAST(id AS DECIMAL(12, 2)) AS price",
        "timestamp_seconds(id) AS ts",
        "array(id, id + 1) AS arr",
        "named_struct('k', CAST(id AS STRING), 'v', id * 0.5) AS st",
        "map('a', id) AS m",
    )
    cat = catalog.Catalog(root=str(tmp_path / "wh"))
    v1 = cat.write_versioned(df, spark, "t")
    recorded = catalog._SCHEMA_MEMO[catalog._memo_key(spark, v1)][1]
    assert recorded == spark.read.parquet(v1).schema
    read, jobs = _jobs_run_by(spark, lambda: cat.read(spark, "t").schema)
    assert jobs == 0 and read == recorded
    _, jobs = _jobs_run_by(spark, lambda: cat.read_version(spark, "t", 1).schema)
    assert jobs == 0

    cat.write_versioned(df, spark, "p", partition_by=["id"])
    _, jobs = _jobs_run_by(spark, lambda: cat.read(spark, "p").schema)
    assert jobs >= 1


def test_pipeline_view_read_back_uses_recorded_schema(spark, tmp_path):
    """A materialized view swapped into place keeps the schema its
    write recorded, so the node that reads it submits no inference job."""
    from olist_lakehouse_2_0_spark.plans.pipeline import Pipeline, TableDef

    cat = catalog.Catalog(root=str(tmp_path / "lake"))
    src = spark.range(20).selectExpr("id", "CAST(id % 3 AS INT) AS k")
    node = TableDef(name="silver", inputs=("src",), build=lambda ins: ins["src"])
    Pipeline("p", cat, [node]).run(spark, external_inputs={"src": src})
    target = cat.path_for("silver")
    recorded = catalog._SCHEMA_MEMO[catalog._memo_key(spark, target)][1]
    assert recorded == spark.read.parquet(target).schema
    _, jobs = _jobs_run_by(spark, lambda: cat.read(spark, "silver").schema)
    assert jobs == 0
