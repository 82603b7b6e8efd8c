"""Declarative pipeline DAG: table definitions -> dependency graph ->
topological execution with expectations and refresh modes.

The engine-side mirror of Lakeflow Declarative Pipelines (SURVEY §3.1):
the reference's 22 SQL files form a dataflow DAG of ``CREATE OR REFRESH
STREAMING TABLE / MATERIALIZED VIEW`` statements with edges inferred
from ``FROM [STREAM] (table)`` references; expectations attach to
nodes; a run executes bronze -> silver -> gold in dependency order.

Here a node is a :class:`TableDef`: a name, declared ``inputs`` (edge
list), a ``build`` function from input DataFrames to the node's
DataFrame, attached expectations, and a materialization mode:

- ``MATERIALIZED_VIEW``: full recompute, overwrite (S6).
- ``STREAMING_TABLE``: incremental via Structured Streaming (C1); the
  build function receives streaming DataFrames and the node write goes
  through a checkpointed ``availableNow`` drain.
- ``VIEW``: not persisted, inlined into downstream plans (Catalyst
  sees through it — no materialization barrier).

Shared intermediate results (e.g. orders_enriched feeding two gold
MVs) are computed once and reused by handing the same DataFrame object
to all consumers; Spark reuses the written files, not a recompute, for
MATERIALIZED nodes because downstream reads go through the catalog
path (§4 "materialization of expensive joins").
"""

from __future__ import annotations

import enum
import graphlib
import os
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import (
    Catalog,
    _fs,
    read_parquet,
    remember_schema,
)

#: Serializes parquet APPENDs to a shared event-log directory across
#: pipelines running in parallel driver threads (run.py's daily
#: main ∥ cdc). Two concurrent Spark write jobs targeting the SAME
#: output directory share its ``_temporary/0`` staging dir, and the
#: first job to commit deletes it recursively — losing or failing the
#: other job's pending task files (timing-dependent; seen as a rare
#: test_run_cli failure under full-suite load). Audit rows are tiny
#: driver-side metadata, so a process-level lock costs nothing.
#: Cross-PROCESS writers remain out of contract (the scheduler runs
#: one job instance at a time, reference olist_jobs.yml).
EVENT_LOG_LOCK = threading.Lock()
from olist_lakehouse_2_0_spark.operators.expectations import (
    Expectation,
    check_fail_metrics,
    enforce,
)


class Materialization(enum.Enum):
    MATERIALIZED_VIEW = "materialized_view"
    STREAMING_TABLE = "streaming_table"
    VIEW = "view"


@dataclass
class TableDef:
    """One pipeline node (SURVEY §1.1 streaming table / MV / view)."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[[dict[str, DataFrame]], DataFrame]
    expectations: list[Expectation] = field(default_factory=list)
    materialization: Materialization = Materialization.MATERIALIZED_VIEW
    layer: str | None = None
    partition_by: tuple[str, ...] = ()
    comment: str = ""


@dataclass
class RunResult:
    written: dict[str, str] = field(default_factory=dict)
    metrics: dict[str, dict[str, int]] = field(default_factory=dict)
    events: list[dict] = field(default_factory=list)


class Pipeline:
    """A named DAG of TableDefs over a Catalog."""

    def __init__(
        self,
        name: str,
        catalog: Catalog,
        tables: list[TableDef],
        versioned_mvs: bool = False,
    ):
        """``versioned_mvs=True`` stores materialized views as version
        directories (Catalog.stage_version/promote_version) instead of
        the rename-aside swap: concurrent readers see the previous or
        the new version, never a FileNotFound window — see
        docs/SCALE.md "MV refresh and concurrent readers"."""
        self.name = name
        self.catalog = catalog
        self.versioned_mvs = versioned_mvs
        self.tables = {t.name: t for t in tables}
        if len(self.tables) != len(tables):
            raise ValueError("duplicate table names in pipeline")

    def topo_order(self) -> list[str]:
        graph = {
            name: {i for i in t.inputs if i in self.tables}
            for name, t in self.tables.items()
        }
        try:
            return list(graphlib.TopologicalSorter(graph).static_order())
        except graphlib.CycleError as e:
            raise ValueError(f"pipeline cycle: {e}") from e

    def run(
        self,
        spark: SparkSession,
        full_refresh: bool = False,
        external_inputs: dict[str, DataFrame] | None = None,
        event_log_path: str | None = None,
    ) -> RunResult:
        """Execute the DAG in dependency order.

        ``external_inputs`` provides source DataFrames for input names
        not defined as pipeline nodes (e.g. raw file scans built by the
        caller). Streaming nodes are executed with an availableNow
        drain; ``full_refresh`` clears their targets + checkpoints
        first (reference weekly full-refresh job).

        ``event_log_path``: append one audit row per node to a parquet
        event log — the engine-side analogue of the reference
        platform's pipeline event log (per-node status, duration,
        expectation metrics). A failing node logs its ``failed`` event
        before the error propagates."""
        import json as _json
        import time as _time

        external_inputs = external_inputs or {}
        result = RunResult()
        views: dict[str, DataFrame] = {}

        def log_event(name: str, node: TableDef, status: str, t0: float) -> None:
            event = {
                "pipeline": self.name,
                "table": name,
                "layer": node.layer,
                "materialization": node.materialization.value,
                "status": status,
                "duration_s": round(_time.time() - t0, 3),
                "metrics_json": _json.dumps(result.metrics.get(name, {})),
            }
            result.events.append(event)
            if event_log_path:
                from olist_lakehouse_2_0_spark.localrel import (
                    arrow_local_relation,
                )

                with EVENT_LOG_LOCK:
                    arrow_local_relation(
                        spark,
                        [tuple(event.values())],
                        "pipeline string, table string, layer string, "
                        "materialization string, status string, "
                        "duration_s double, metrics_json string",
                    ).withColumn(
                        "logged_at", F.current_timestamp()
                    ).write.mode("append").parquet(event_log_path)

        for name in self.topo_order():
            node = self.tables[name]
            t0 = _time.time()
            streaming_consumer = node.materialization is Materialization.STREAMING_TABLE
            ins: dict[str, DataFrame] = {}
            for dep in node.inputs:
                if dep in views:
                    ins[dep] = views[dep]
                elif dep in self.tables:
                    dep_layer = self.tables[dep].layer
                    if streaming_consumer:
                        # S3: streaming table-to-table scan (reference
                        # silver/orders.sql:62 FROM STREAM(bronze_x)) —
                        # incremental read of the upstream table with
                        # this node's own checkpoint tracking progress.
                        path = self.catalog.path_for(dep, dep_layer)
                        schema = read_parquet(spark, path).schema
                        ins[dep] = spark.readStream.schema(schema).parquet(path)
                    else:
                        ins[dep] = self.catalog.read(spark, dep, dep_layer)
                elif dep in external_inputs:
                    ins[dep] = external_inputs[dep]
                else:
                    raise KeyError(f"{name}: unresolved input '{dep}'")

            df = node.build(ins)

            if node.materialization is Materialization.VIEW:
                # FAIL expectations on a view raise inside enforce();
                # log the failure event before propagating, same as the
                # streaming and MV branches below.
                try:
                    enforced = enforce(df, node.expectations)
                    views[name] = enforced.df
                except Exception:
                    log_event(name, node, "failed", t0)
                    raise
                log_event(name, node, "computed", t0)
                continue

            if node.materialization is Materialization.STREAMING_TABLE:
                try:
                    self._run_streaming_node(spark, node, df, full_refresh, result)
                except Exception:
                    log_event(name, node, "failed", t0)
                    raise
                log_event(name, node, "written", t0)
                continue

            # MATERIALIZED_VIEW: full recompute + overwrite (S6). FAIL
            # expectations deferred: metrics observed during the write
            # itself, then checked before the table is promoted.
            enforced = enforce(df, node.expectations, fail_strategy="defer")
            target = self.catalog.path_for(name, node.layer)
            try:
                if self.versioned_mvs:
                    self.catalog.stage_version(enforced.df, name, node.layer)
                else:
                    tmp = target + "__staging"
                    enforced.df.write.mode("overwrite").parquet(tmp)
                check_fail_metrics(enforced, node.expectations)  # may raise
            except Exception:
                try:
                    result.metrics[name] = enforced.metrics()
                except Exception:
                    pass  # write itself failed; no observed metrics
                log_event(name, node, "failed", t0)
                raise
            result.metrics[name] = enforced.metrics()
            if self.versioned_mvs:
                # Atomic promote: readers resolve the previous version
                # until the rename lands; the prior version is retained.
                self.catalog.promote_version(spark, name, node.layer)
            else:
                _swap_dirs(spark, tmp, target)
                remember_schema(target, enforced.df)
                self.catalog.register(
                    f"{node.layer}.{name}" if node.layer else name, target
                )
            result.written[name] = target
            log_event(name, node, "written", t0)
        return result

    def _run_streaming_node(
        self,
        spark: SparkSession,
        node: TableDef,
        df: DataFrame,
        full_refresh: bool,
        result: RunResult,
    ) -> None:
        from olist_lakehouse_2_0_spark.streaming.ingest import (
            full_refresh_reset,
            run_to_parquet,
        )

        target = self.catalog.path_for(node.name, node.layer)
        checkpoint = target + "__checkpoint"
        if full_refresh:
            full_refresh_reset(target, checkpoint)
        # DROP expectations compose into the streaming plan; WARN
        # metrics are per-batch observations (not aggregated here).
        enforced = enforce(df, node.expectations)
        run_to_parquet(enforced.df, target, checkpoint)
        self.catalog.register(
            f"{node.layer}.{node.name}" if node.layer else node.name, target
        )
        result.written[node.name] = target


def _swap_dirs(spark: SparkSession, src: str, dst: str) -> None:
    """Promote a staging directory over the target via the Hadoop
    FileSystem API (portable to HDFS/S3A committers).

    Each rename is atomic, but the sequence is not: the OLD target is
    renamed aside (``dst__old``) before the staging dir is promoted,
    then deleted. A crash between the renames therefore never loses
    data — either ``dst`` or ``dst__old`` holds the previous table,
    and :func:`recover_swap` restores it on restart. (The earlier
    delete-then-rename sequence had a window with NO table at all:
    a replayed micro-batch would then rebuild the aggregate from that
    batch alone, silently discarding merged history.)"""
    _, HPath, fs = _fs(spark, dst)
    old = HPath(dst + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(HPath(dst)):
        fs.rename(HPath(dst), old)
    fs.rename(HPath(src), HPath(dst))
    if fs.exists(old):
        fs.delete(old, True)


def recover_swap(spark: SparkSession, dst: str) -> bool:
    """Restore ``dst`` from ``dst__old`` if a crash mid-:func:`_swap_dirs`
    left the aside copy but no promoted target. Returns True if a
    restore happened. Safe to call unconditionally before reading."""
    _, HPath, fs = _fs(spark, dst)
    old = HPath(dst + "__old")
    if fs.exists(old) and not fs.exists(HPath(dst)):
        fs.rename(old, HPath(dst))
        return True
    return False


def ensure_dirs(*paths: str) -> None:
    for p in paths:
        os.makedirs(p, exist_ok=True)
