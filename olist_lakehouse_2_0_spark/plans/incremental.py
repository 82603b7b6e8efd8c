"""Incremental materialized-view maintenance via mergeable aggregates.

The reference refreshes every gold MV by full recompute
(``CREATE OR REFRESH MATERIALIZED VIEW``, reference
src/pipelines/gold/daily_orders.sql:9-19); at 100 TB that rescans all
history on every run. For the distributive/algebraic aggregate family
(SUM / COUNT / MIN / MAX, AVG as SUM÷COUNT, approx-distinct as a
mergeable HLL sketch) the refresh can instead merge the new batch's
partial aggregate into the stored aggregate table:

    stored' = (stored ∪ partial(batch)).groupBy(keys).merge(states)

Cost per refresh is O(|batch| + |aggregate table|), independent of
history size. The merge is a union + re-aggregate — one shuffle on the
group keys, no join, and the partial aggregation of the batch happens
map-side before the shuffle (Spark's normal partial-agg pipeline).

Exact COUNT(DISTINCT) is NOT mergeable from (key → count) states; the
mergeable form is the HLL sketch (``hll_sketch_agg`` states unioned by
``hll_union_agg``, estimated at read time). Sketch registers merge by
element-wise max, so the incrementally-maintained estimate is
bit-identical to a one-shot sketch over the full history, regardless
of batch order. Deletes/updates are out of scope for MIN/MAX (not
subtractable); pair with append-only sources or SCD handling upstream.

Streaming integration: :meth:`IncrementalAggTable.foreach_batch_merger`
plugs into ``writeStream.foreachBatch``. Failure-replayed micro-batches
would double-merge, so the merger records the last applied batch id in
the table directory and skips replays — exactly-once on top of the
checkpointed source.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from olist_lakehouse_2_0_spark.catalog import read_parquet, remember_schema

_KINDS = ("sum", "count", "min", "max", "approx_distinct")


@dataclass(frozen=True)
class AggSpec:
    """One maintained aggregate: ``kind`` ∈ sum|count|min|max|
    approx_distinct, over source column ``col`` (ignored for count of
    ``*``), stored/output name ``name``."""

    kind: str
    col: str
    name: str

    def __post_init__(self) -> None:
        if self.kind not in _KINDS:
            raise ValueError(f"unsupported aggregate kind: {self.kind}")

    def partial(self) -> Column:
        """Aggregate state for one batch."""
        if self.kind == "sum":
            return F.sum(self.col).alias(self.name)
        if self.kind == "count":
            c = F.count(F.lit(1)) if self.col == "*" else F.count(self.col)
            return c.alias(self.name)
        if self.kind == "min":
            return F.min(self.col).alias(self.name)
        if self.kind == "max":
            return F.max(self.col).alias(self.name)
        return F.hll_sketch_agg(self.col).alias(self.name)

    def merge(self) -> Column:
        """Combine stored + batch states (runs over their union)."""
        if self.kind in ("sum", "count"):
            return F.sum(self.name).alias(self.name)
        if self.kind == "min":
            return F.min(self.name).alias(self.name)
        if self.kind == "max":
            return F.max(self.name).alias(self.name)
        return F.hll_union_agg(self.name).alias(self.name)

    def finalize(self) -> Column:
        """Reader-facing value of the stored state."""
        if self.kind == "approx_distinct":
            return F.hll_sketch_estimate(self.name).alias(self.name)
        return F.col(self.name)


class IncrementalAggTable:
    """A keyed aggregate table maintained by merging batch partials.

    Storage is a parquet directory written via staging + atomic-enough
    rename (same promotion path as the pipeline's MV writes); each
    commit records its schema, so reads skip footer inference."""

    def __init__(self, path: str, keys: list[str], specs: list[AggSpec]):
        names = [s.name for s in specs]
        if len(set(names)) != len(names):
            raise ValueError("duplicate aggregate names")
        self.path = path
        self.keys = list(keys)
        self.specs = list(specs)

    # -- state io ----------------------------------------------------
    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def _marker_path(self) -> str:
        # INSIDE the table directory: committed by the same atomic swap
        # as the data (underscore prefix -> invisible to parquet scans),
        # and deleted with the table on a rebuild, so a fresh stream
        # with restarted batch ids never sees a stale marker.
        return os.path.join(self.path, "_last_batch")

    def last_applied_batch(self) -> int | None:
        try:
            with open(self._marker_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    # -- maintenance -------------------------------------------------
    def apply_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: int | None = None
    ) -> None:
        """Merge one append-only batch of fact rows into the stored
        aggregate. Cost: one partial aggregation of the batch plus one
        key-shuffle over (aggregate table + batch partials) rows —
        never a rescan of history. When ``batch_id`` is given it is
        written into the staging directory BEFORE the swap, so the
        data and the replay marker commit together when staging is
        promoted. The promotion itself is two renames (old table
        aside, then staging in); a crash between them is healed by
        ``recover_swap`` below before the table is read — no window
        discards merged history."""
        from olist_lakehouse_2_0_spark.plans.pipeline import (
            _swap_dirs,
            recover_swap,
        )

        recover_swap(spark, self.path)
        partial = batch.groupBy(*self.keys).agg(
            *[s.partial() for s in self.specs]
        )
        if self._exists():
            stored = read_parquet(spark, self.path)
            # Cast the fresh partials to the stored state types: SUM
            # over DECIMAL widens precision per aggregation, and the
            # stored schema must stay fixed across arbitrarily many
            # merges.
            partial = partial.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in stored.schema.fields
                ]
            )
            merged = stored.unionByName(partial).groupBy(*self.keys).agg(
                *[s.merge() for s in self.specs]
            )
            merged = merged.select(
                *[
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    for f in stored.schema.fields
                ]
            )
        else:
            merged = partial
        staging = self.path + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        if batch_id is not None:
            with open(os.path.join(staging, "_last_batch"), "w") as f:
                f.write(str(batch_id))
        _swap_dirs(spark, staging, self.path)
        remember_schema(self.path, merged)

    def foreach_batch_merger(self, spark: SparkSession):
        """``writeStream.foreachBatch`` sink that merges each
        micro-batch exactly once: replays (same or lower batch id after
        a failure/restart) are skipped via the marker committed
        atomically WITH the merged data — a crash between merge and
        marker cannot double-count, because they are one rename."""

        def merge_batch(batch: DataFrame, batch_id: int) -> None:
            last = self.last_applied_batch()
            if last is not None and batch_id <= last:
                return
            self.apply_batch(spark, batch, batch_id=batch_id)

        return merge_batch

    # -- reads -------------------------------------------------------
    def read_states(self, spark: SparkSession) -> DataFrame:
        """Raw stored states (sketches as binary)."""
        from olist_lakehouse_2_0_spark.plans.pipeline import recover_swap

        recover_swap(spark, self.path)
        return read_parquet(spark, self.path)

    def read_final(self, spark: SparkSession) -> DataFrame:
        """Reader-facing view: sketch states estimated to counts."""
        stored = self.read_states(spark)
        return stored.select(
            *self.keys, *[s.finalize() for s in self.specs]
        )
