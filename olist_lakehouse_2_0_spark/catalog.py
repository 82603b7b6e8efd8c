"""Lightweight path-based catalog: ``layer.table`` -> storage location.

The reference uses Unity Catalog three-level namespaces
(``${catalog}.bronze/silver/gold``, reference
src/setup/unity_catalog_setup.py:22-60). OSS-Spark equivalent here is a
registry mapping logical names to (path, format); readers/writers go
through it so pipelines never hard-code storage paths.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Tables the driver's testdata provides (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class TableRef:
    name: str
    path: str
    format: str = "parquet"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed a version between this writer's read
    and its promote (the optimistic-concurrency conflict Delta raises
    as ConcurrentAppendException — reference README.md:302-308 lists
    ACID/concurrent-writer safety among the Delta properties the
    lakehouse relies on). Catch-and-retry by re-reading the new latest
    version and recomputing (``Catalog.merge_into`` does this)."""


@dataclass
class Catalog:
    """name -> TableRef registry with bronze/silver/gold layer conventions."""

    root: str
    tables: dict[str, TableRef] = field(default_factory=dict)

    def register(self, name: str, path: str, format: str = "parquet") -> TableRef:
        ref = TableRef(name=name, path=path, format=format)
        self.tables[name] = ref
        return ref

    def path_for(self, name: str, layer: str | None = None) -> str:
        key = f"{layer}.{name}" if layer else name
        if key in self.tables:
            return self.tables[key].path
        parts = [self.root] + ([layer] if layer else []) + [name]
        return os.path.join(*parts)

    def read(self, spark: SparkSession, name: str, layer: str | None = None) -> DataFrame:
        key = f"{layer}.{name}" if layer else name
        ref = self.tables.get(key)
        if ref is not None:
            if ref.format == "table":
                # Session-catalog table (bucketed writes): must go
                # through spark.table so bucket metadata survives —
                # reading the files directly would silently drop it.
                return spark.table(ref.path)
            if ref.format == "versioned":
                return read_parquet(spark, _latest_version(spark, ref.path))
            if ref.format == "parquet":
                return read_parquet(spark, ref.path)
            return spark.read.format(ref.format).load(ref.path)
        # Unregistered names: resolve a versioned layout if one exists
        # on disk (a previous process's write_versioned), else the
        # plain parquet path.
        path = self.path_for(name, layer)
        latest = _latest_version_or_none(spark, path)
        return read_parquet(spark, latest or path)

    def _register_written(self, name: str, layer: str | None, path: str) -> str:
        key = f"{layer}.{name}" if layer else name
        self.tables[key] = TableRef(name=key, path=path)
        return path

    def write(
        self,
        df: DataFrame,
        name: str,
        layer: str | None = None,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> str:
        path = self.path_for(name, layer)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return self._register_written(name, layer, path)


    def stage_version(
        self,
        df: DataFrame,
        name: str,
        layer: str | None = None,
        enforce_schema: bool = False,
        allow_new_columns: bool = True,
        token: str | None = None,
        partition_by: list[str] | None = None,
    ) -> str:
        """Phase 1 of a versioned write: materialize ``df`` into an
        UNCOMMITTED staging directory under the table root. Readers
        never see it — :func:`_latest_version` only considers
        ``v<number>`` directories. Callers run their post-write gates
        (FAIL-expectation metrics) against the staged files, then call
        :meth:`promote_version`.

        ``token`` gives the staging directory a per-writer suffix so
        CONCURRENT writers never clobber each other's staged files —
        required for the optimistic-concurrency path (pass the same
        token to :meth:`promote_version`). Without a token the shared
        ``_staging`` directory assumes one writer at a time.

        ``enforce_schema=True`` adds the Delta-style write contract
        (reference README.md:302-308 — schema enforcement is one of
        the ACID-format features the parquet layout lacks by default):
        before any data is written, the incoming schema is checked
        against the current version's — a dropped column or a changed
        type for an existing column raises; brand-new columns are
        allowed unless ``allow_new_columns=False``."""
        root = self.path_for(name, layer)
        if enforce_schema:
            spark = df.sparkSession
            latest = _latest_version_or_none(spark, root)
            if latest is not None:
                current = {
                    f.name: f.dataType
                    for f in read_parquet(spark, latest).schema
                }
                incoming = {f.name: f.dataType for f in df.schema}
                missing = sorted(set(current) - set(incoming))
                if missing:
                    raise ValueError(
                        f"{name}: schema enforcement — incoming write "
                        f"drops columns {missing}"
                    )
                changed = sorted(
                    c for c in current if incoming[c] != current[c]
                )
                if changed:
                    raise ValueError(
                        f"{name}: schema enforcement — incompatible type "
                        f"change for {changed}"
                    )
                if not allow_new_columns:
                    extra = sorted(set(incoming) - set(current))
                    if extra:
                        raise ValueError(
                            f"{name}: schema enforcement — new columns "
                            f"{extra} not allowed"
                        )
        staging = os.path.join(
            root, "_staging" if token is None else f"_staging-{token}"
        )
        writer = df.write.mode("overwrite")
        if partition_by:
            # hive-style layout rides through the promote rename and
            # every reader (partition discovery) + the Delta export
            # (metaData.partitionColumns / add partitionValues)
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        if not partition_by:
            remember_schema(staging, df)
        return staging

    def read_version(
        self,
        spark: SparkSession,
        name: str,
        version: int,
        layer: str | None = None,
    ) -> DataFrame:
        """Time travel within the retention window: read a SPECIFIC
        committed version of a versioned table (the parquet-layout
        slice of Delta's ``VERSION AS OF``). History depth is bounded
        by the ``keep`` passed to :meth:`promote_version` — raise it
        on tables that need deeper audit trails; unbounded history
        plus concurrent writers is Delta/Iceberg territory (SURVEY
        §1.2)."""
        root = self.path_for(name, layer)
        target = os.path.join(root, f"v{version:09d}")
        _, HPath, fs = _fs(spark, root)
        if not fs.exists(HPath(target)):
            retained = [v for v, _ in _list_versions(fs, HPath, root)]
            raise FileNotFoundError(
                f"{name} version {version} not retained; available: {retained}"
            )
        return read_parquet(spark, target)

    def version_history(
        self, spark: SparkSession, name: str, layer: str | None = None
    ) -> DataFrame:
        """Retained version metadata, newest first: (version, path,
        n_files, bytes, modified_at) — the DESCRIBE HISTORY analogue
        for the versioned layout."""
        root = self.path_for(name, layer)
        _, HPath, fs = _fs(spark, root)
        rows = []

        def _parquet_files(path):
            # recurse through hive-style partition subdirectories so
            # partitioned versions report true file counts/bytes; the
            # SAME predicate as the Delta export/vacuum walk, so stats
            # and export traverse the same universe of files
            out = []
            for st in fs.listStatus(HPath(path)):
                nm = st.getPath().getName()
                if st.isDirectory() and _is_hive_dir(nm):
                    out += _parquet_files(os.path.join(path, nm))
                elif st.isFile() and nm.endswith(".parquet"):
                    out.append(st)
            return out

        for version, vpath in _list_versions(fs, HPath, root):
            files = _parquet_files(vpath)
            rows.append(
                (
                    version,
                    vpath,
                    len(files),
                    sum(st.getLen() for st in files),
                    max(
                        (st.getModificationTime() for st in files), default=0
                    ),
                )
            )
        from olist_lakehouse_2_0_spark.localrel import arrow_local_relation

        return arrow_local_relation(
            spark,
            sorted(rows, reverse=True),
            "version int, path string, n_files int, bytes long, "
            "modified_at_ms long",
        )

    def promote_version(
        self,
        spark: SparkSession,
        name: str,
        layer: str | None = None,
        keep: int = 2,
        expected_version: int | None = None,
        token: str | None = None,
    ) -> str:
        """Phase 2: atomically promote the staged directory to the next
        version (one Hadoop rename — the snapshot-isolation point) and
        register the table as ``versioned``. The previous ``keep - 1``
        versions are retained so a reader that resolved the old version
        BEFORE the promote keeps reading files that still exist; only
        versions older than that are deleted. This is the cheap
        version-directory answer to the MV swap's concurrent-reader
        window (VERDICT r4 next-step #6): a reader sees the old version
        or the new one, never FileNotFound — within the retention
        window (a reader outliving ``keep`` subsequent refreshes is
        still outside the contract; that is Delta/Iceberg territory,
        SURVEY §1.2).

        ``expected_version`` turns the promote into a compare-and-swap
        (Delta-style optimistic concurrency): the new version number is
        ``expected_version + 1`` computed from what THIS writer read,
        not from a fresh listing, and the atomic rename onto that fixed
        name is the arbiter — Hadoop ``rename`` fails when the
        destination exists, so if a concurrent writer committed
        ``v(expected+1)`` first, the rename loses and
        :class:`ConcurrentWriteError` is raised (staging cleaned up).
        There is no check-then-act window: the rename itself is the
        test-and-set. Without ``expected_version`` the legacy
        last-writer-wins behavior applies (next number from a fresh
        listing — fine for a single refresher, loses updates under
        concurrency)."""
        root = self.path_for(name, layer)
        staging = os.path.join(
            root, "_staging" if token is None else f"_staging-{token}"
        )
        _, HPath, fs = _fs(spark, root)
        versions = _list_versions(fs, HPath, root)
        if expected_version is None:
            n = (versions[-1][0] + 1) if versions else 1
        else:
            if keep < 2:
                raise ValueError(
                    "CAS promote requires keep >= 2: with keep=1 a "
                    "concurrent writer's retention pass can delete the "
                    "contended v(expected+1) slot, letting a stale "
                    "rename silently reuse the number"
                )
            n = expected_version + 1
        final = os.path.join(root, f"v{n:09d}")

        def _conflict() -> ConcurrentWriteError:
            fs.delete(HPath(staging), True)
            return ConcurrentWriteError(
                f"{name}: version {n} was committed by a concurrent "
                f"writer after this writer read version "
                f"{expected_version}; re-read and retry"
            )

        # Fresh-listing check BEFORE the rename: if anything committed
        # since this writer's read, conflict now. Without it, a stale
        # writer whose v(expected+1) slot was later vacuumed by
        # retention could rename onto the REUSED number and "commit" a
        # non-latest version readers never resolve (a silent lost
        # update). With this check plus keep>=2, reusing the slot
        # requires >= keep intervening commits to land entirely inside
        # the listing->rename instant — and the rename-onto-existing
        # failure catches every single-commit race within it.
        if expected_version is not None and versions and (
            versions[-1][0] != expected_version
        ):
            raise _conflict()
        if not fs.rename(HPath(staging), HPath(final)):
            if expected_version is not None and fs.exists(HPath(final)):
                raise _conflict()
            raise IOError(f"version promote rename failed: {final}")
        # HDFS rename is atomic fail-if-exists (the real CAS), but
        # Hadoop's LOCAL filesystem emulates POSIX mv: renaming onto an
        # existing directory nests the source INSIDE it and returns
        # true (verified empirically — see tests/test_merge.py). Detect
        # the nest, undo it, and report the loss as the conflict it is.
        nested = HPath(final, os.path.basename(staging))
        if expected_version is not None and fs.exists(nested):
            fs.rename(nested, HPath(staging))
            raise _conflict()
        _move_schema(spark, staging, final)
        survivors = [v for v in versions if v[0] < n]
        for vn, vpath in survivors[: max(0, len(survivors) - (keep - 1))]:
            fs.delete(HPath(vpath), True)
        key = f"{layer}.{name}" if layer else name
        self.tables[key] = TableRef(name=key, path=root, format="versioned")
        return final

    def latest_version_number(
        self, spark: SparkSession, name: str, layer: str | None = None
    ) -> int:
        """Newest committed version number, 0 when the table has none
        (the ``expected_version`` a first writer passes)."""
        root = self.path_for(name, layer)
        _, HPath, fs = _fs(spark, root)
        versions = _list_versions(fs, HPath, root)
        return versions[-1][0] if versions else 0

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        name: str,
        on: list[str],
        layer: str | None = None,
        keep: int = 2,
        max_retries: int = 2,
        **merge_kwargs,
    ) -> str:
        """Delta-style ``MERGE INTO`` a versioned table with optimistic
        concurrency: read the latest version, compute the post-merge
        relation (:func:`~olist_lakehouse_2_0_spark.operators.merge.
        merge_frames` — clause kwargs pass through), stage under a
        per-writer token, CAS-promote against the version that was
        read. On :class:`ConcurrentWriteError` the merge is recomputed
        against the NEW latest version and retried (``max_retries``
        times) — the lost-update prevention a plain overwrite lacks.

        ``validate_unique_source`` defaults to TRUE here (Delta MERGE
        always raises on multiple source rows matching one target row;
        silently duplicating target rows corrupts the key invariant
        every later merge assumes). Callers that already deduplicated
        the source (the streaming sink's per-batch collapse) pass
        False to skip the validation pass.

        Delegates the stage/CAS-promote/retry protocol to
        :meth:`_rewrite_versioned` — one implementation for every
        row-level write path."""
        from olist_lakehouse_2_0_spark.operators.merge import merge_frames

        merge_kwargs.setdefault("validate_unique_source", True)
        return self._rewrite_versioned(
            spark,
            name,
            lambda df: merge_frames(df, source, on, **merge_kwargs),
            layer,
            keep,
            max_retries,
        )

    def delete_where(
        self,
        spark: SparkSession,
        name: str,
        condition,
        layer: str | None = None,
        keep: int = 2,
        max_retries: int = 2,
    ) -> str:
        """Delta ``DELETE FROM t WHERE cond``: copy-on-write rewrite of
        the versioned table without matching rows, committed through
        the same optimistic CAS loop as :meth:`merge_into` (a crash
        mid-write leaves the previous version current; a concurrent
        commit triggers recompute-and-retry)."""
        return self._rewrite_versioned(
            spark, name, lambda df: df.filter(~condition), layer, keep,
            max_retries,
        )

    def update_where(
        self,
        spark: SparkSession,
        name: str,
        condition,
        set_exprs: dict,
        layer: str | None = None,
        keep: int = 2,
        max_retries: int = 2,
    ) -> str:
        """Delta ``UPDATE t SET ... WHERE cond``: copy-on-write rewrite
        applying ``set_exprs`` (col -> Column) to matching rows, CAS-
        committed like :meth:`delete_where`."""
        from pyspark.sql import functions as F

        def apply(df: DataFrame) -> DataFrame:
            cols = []
            for c in df.columns:
                if c in set_exprs:
                    cols.append(
                        F.when(condition, set_exprs[c].cast(df.schema[c].dataType))
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                else:
                    cols.append(F.col(c))
            return df.select(*cols)

        return self._rewrite_versioned(
            spark, name, apply, layer, keep, max_retries
        )

    def _rewrite_versioned(
        self, spark, name, transform, layer, keep, max_retries
    ) -> str:
        import uuid

        token = uuid.uuid4().hex[:12]
        last_err: ConcurrentWriteError | None = None
        for attempt in range(max_retries + 1):
            base = self.latest_version_number(spark, name, layer)
            if base == 0:
                raise ValueError(f"{name!r} has no committed version")
            rewritten = transform(self.read_version(spark, name, base, layer=layer))
            self.stage_version(rewritten, name, layer, token=f"{token}-{attempt}")
            try:
                return self.promote_version(
                    spark, name, layer, keep,
                    expected_version=base, token=f"{token}-{attempt}",
                )
            except ConcurrentWriteError as err:
                last_err = err
        raise last_err

    def vacuum_staging(
        self, spark: SparkSession, name: str, layer: str | None = None
    ) -> int:
        """Delete orphaned ``_staging*`` directories under a versioned
        table root — the leftovers of writers that crashed between
        stage and promote (the slice of Delta's VACUUM this layout
        needs; committed ``v<n>`` directories are never touched, and
        uncommitted staging is invisible to readers, so this is pure
        space reclamation). Returns the number of directories removed.
        Run it only when no writer is mid-commit (e.g. the weekly
        full-refresh job)."""
        root = self.path_for(name, layer)
        _, HPath, fs = _fs(spark, root)
        p = HPath(root)
        if not fs.exists(p):
            return 0
        removed = 0
        for st in fs.listStatus(p):
            nm = st.getPath().getName()
            if st.isDirectory() and nm.startswith("_staging"):
                fs.delete(st.getPath(), True)
                removed += 1
        return removed

    def table_changes(
        self,
        spark: SparkSession,
        name: str,
        from_version: int,
        to_version: int,
        layer: str | None = None,
    ) -> DataFrame:
        """Change-data-feed analogue (Delta ``table_changes``): the
        multiset row diff between two retained versions, one row per
        net inserted/deleted copy with ``_change_type`` ('insert' /
        'delete'). An updated row surfaces as a delete of the old image
        plus an insert of the new one — exactly Delta CDF's
        update_preimage/postimage pair, minus the pairing.

        Computed as a full-column groupBy count on each side joined on
        the row image (one shuffle per side, map-side combinable; no
        row-level state kept between versions — the versions themselves
        are the log). Rows identical in both versions never leave the
        aggregation."""
        from pyspark.sql import functions as F

        old = self.read_version(spark, name, from_version, layer=layer)
        new = self.read_version(spark, name, to_version, layer=layer)
        cols = old.columns
        if cols != new.columns:
            raise ValueError(
                f"{name}: column sets differ between v{from_version} "
                f"and v{to_version}; diff on the shared projection"
            )
        oc = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n_old"))
        nc = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n_new"))
        diff = (
            oc.join(nc, cols, "full_outer")
            .select(
                *cols,
                (
                    F.coalesce(F.col("__n_new"), F.lit(0))
                    - F.coalesce(F.col("__n_old"), F.lit(0))
                ).alias("__delta"),
            )
            .filter(F.col("__delta") != 0)
        )
        per_copy = diff.select(
            *cols,
            F.explode(
                F.sequence(F.lit(1), F.abs(F.col("__delta")).cast("int"))
            ).alias("__i"),
            F.when(F.col("__delta") > 0, F.lit("insert"))
            .otherwise(F.lit("delete"))
            .alias("_change_type"),
        )
        return per_copy.drop("__i")

    def write_versioned(
        self,
        df: DataFrame,
        spark: SparkSession,
        name: str,
        layer: str | None = None,
        keep: int = 2,
        enforce_schema: bool = False,
        allow_new_columns: bool = True,
        partition_by: list[str] | None = None,
    ) -> str:
        """Versioned overwrite: stage + promote in one call (use the
        two-phase methods when a gate must run between them)."""
        self.stage_version(
            df, name, layer, enforce_schema, allow_new_columns,
            partition_by=partition_by,
        )
        return self.promote_version(spark, name, layer, keep)

    @staticmethod
    def analyze(
        spark: SparkSession,
        table: str,
        columns: list[str] | None = None,
    ) -> None:
        """Collect table (and optionally column) statistics for the
        cost-based optimizer — the post-ingest discipline that makes
        CBO work at 100 TB. Without column stats Spark sizes a join
        side by its RAW bytes, so a selective filter over a large
        table is still planned as a sort-merge join; with min/max/NDV
        stats the optimizer estimates the post-filter cardinality and
        broadcasts the genuinely-small side instead (the measured flip
        is pinned in tests/test_plans.py::
        test_analyze_statistics_flip_join_to_broadcast). Session-
        catalog tables only (statistics live in table metadata, not on
        raw paths) — the bucketed/saved tables this catalog writes via
        ``saveAsTable``. Run it after every large write, the way a
        warehouse schedules ANALYZE after ingest; the scan is one
        pass, column stats piggyback on it."""
        quoted = f"`{table}`"
        if columns:
            # FOR COLUMNS already records the table-level stats
            # (rowCount + sizeInBytes) alongside the per-column
            # min/max/NDV, so the plain COMPUTE STATISTICS is an
            # else-branch — running both would scan the table twice
            # (round-5 advice).
            cols = ", ".join(f"`{c}`" for c in columns)
            spark.sql(
                f"ANALYZE TABLE {quoted} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )
        else:
            spark.sql(f"ANALYZE TABLE {quoted} COMPUTE STATISTICS")

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        num_buckets: int = 32,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> str:
        """Write ``df`` as a bucketed (and optionally sorted) table.

        Bucketing pre-shuffles the data by ``bucket_cols`` at write
        time; two tables bucketed the same way join WITHOUT a shuffle
        (no Exchange on either side — see tests/test_bucketing.py),
        and aggregations on the bucket key skip their exchange too.
        This is the 100 TB co-location strategy for repeatedly-joined
        fact tables: pay the shuffle once at ingest, never per query.

        Uses the session catalog (``saveAsTable`` — bucket metadata
        only exists for tables, not raw paths). Read back with
        ``spark.table(name)``.
        """
        spark = df.sparkSession

        def _delete_orphan_dir(table: str) -> None:
            # A managed-table directory orphaned by an earlier session
            # (in-memory catalog gone, warehouse dir still on disk)
            # makes saveAsTable/RENAME fail with
            # LOCATION_ALREADY_EXISTS. Assumes the default database and
            # Spark's lowercased managed-table directory naming (this
            # repo's sessions never USE another database).
            wh = spark.conf.get("spark.sql.warehouse.dir")
            _, HPath, fs = _fs(spark, wh)
            loc = HPath(wh, table.lower())
            if fs.exists(loc):
                fs.delete(loc, True)

        if mode == "overwrite":
            # Write the replacement FIRST (to a staging table), swap
            # after it succeeds: a crash or failed write never loses
            # the previous table (ADVICE r4 — the old sequence dropped
            # the target before the new write began). The staging
            # table name is cleaned of any earlier crashed attempt;
            # the destructive steps against the REAL name run only
            # after the staging write has fully succeeded.
            staging = f"{name}__staging"
            spark.sql(f"DROP TABLE IF EXISTS `{staging}`")
            _delete_orphan_dir(staging)
            writer = df.write.mode("errorifexists").bucketBy(
                num_buckets, *bucket_cols
            )
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
            writer.saveAsTable(staging)
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
            _delete_orphan_dir(name)
            spark.sql(f"ALTER TABLE `{staging}` RENAME TO `{name}`")
        else:
            writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
            writer.saveAsTable(name)
        self.tables[name] = TableRef(name=name, path=name, format="table")
        return name


    def overwrite_partitions(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str],
        layer: str | None = None,
    ) -> str:
        """Dynamic partition overwrite: replace ONLY the partitions
        present in ``df``, leaving all others untouched — the
        partition-scoped refresh pattern for date-partitioned gold
        tables (recompute the affected days, never rewrite history).
        Complements :mod:`plans.incremental`'s merge approach: use
        merging for mergeable aggregate states, partition overwrite
        when a partition's rows must be recomputed exactly.

        Spark's static overwrite mode would truncate the whole table
        first; the per-write ``partitionOverwriteMode=dynamic`` option
        scopes the delete to partitions the incoming data touches."""
        path = self.path_for(name, layer)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )
        return self._register_written(name, layer, path)

    def write_clustered(
        self,
        df: DataFrame,
        name: str,
        cluster_cols: list[str],
        layer: str | None = None,
        num_files: int | None = None,
    ) -> str:
        """Range-clustered write: the OSS counterpart of the
        reference's Z-ORDER / CLUSTER BY table properties (reference
        src/pipelines/bronze/orders.sql:14, gold/daily_orders.sql:19).

        ``repartitionByRange`` gives files non-overlapping key ranges
        and ``sortWithinPartitions`` tightens parquet row-group min/max
        stats, so a point or range predicate on the cluster key prunes
        to O(1) files at planning/scan time instead of scanning all of
        them — the dominant read-path win at 100 TB for key-filtered
        queries. (True multi-column Z-ordering interleaves bits; for
        the reference's single-key usage, range clustering gives the
        same pruning.)"""
        out = (
            df.repartitionByRange(num_files, *cluster_cols)
            if num_files
            else df.repartitionByRange(*cluster_cols)
        ).sortWithinPartitions(*cluster_cols)
        path = self.path_for(name, layer)
        out.write.mode("overwrite").parquet(path)
        return self._register_written(name, layer, path)

    def write_zordered(
        self,
        spark: SparkSession,
        df: DataFrame,
        name: str,
        zorder_cols: list[str],
        layer: str | None = None,
        num_files: int = 16,
        bits: int = 8,
    ) -> str:
        """Multi-dimensional Z-order clustered write — the real
        counterpart of the reference's zOrderCols table property
        (reference src/pipelines/bronze/orders.sql:14) for MULTIPLE
        filter dimensions, where single-key range clustering
        (:meth:`write_clustered`) can only serve one.

        Each numeric column is normalized to a ``bits``-bit bucket by
        equal-width binning over its [min, max] (a 2-scalar
        planning-time collect per column, same class of driver-side
        stats AQE gathers), and the buckets' bits are interleaved into
        one Z-key; files then take contiguous Z-ranges. A point/range
        predicate on ANY of the interleaved dimensions constrains
        every ``d``-th bit of the key, so it overlaps O(n^((d-1)/d))
        of the files instead of all of them — the file-skipping
        behavior parquet row-group stats give us for free once the
        layout exists. The Z-key is all JVM bit arithmetic inside one
        codegen stage; no UDFs."""
        from pyspark.sql import functions as F

        d = len(zorder_cols)
        if d < 2:
            raise ValueError("z-ordering needs >= 2 columns")
        if d * bits > 63:
            # bit i*d+j must stay inside a signed 64-bit long: shifting
            # past 63 wraps (count mod 64) and silently interleaves
            # unrelated dimensions into the same positions
            raise ValueError(
                f"{d} columns x {bits} bits = {d * bits} Z-key bits "
                "exceeds 63; lower bits (e.g. "
                f"bits={63 // d}) or drop columns"
            )
        stats = df.agg(
            *[F.min(c).alias(f"min_{c}") for c in zorder_cols],
            *[F.max(c).alias(f"max_{c}") for c in zorder_cols],
        ).first()
        n_buckets = 1 << bits
        bucketed = []
        for c in zorder_cols:
            lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
            if lo is None or hi is None or lo == hi:
                bucketed.append(F.lit(0).cast("long"))
                continue
            b = F.width_bucket(
                F.col(c).cast("double"),
                F.lit(float(lo)),
                F.lit(float(hi)),
                F.lit(n_buckets),
            )
            # width_bucket returns 1..n (n+1 at the upper bound); fold
            # to 0..n-1
            bucketed.append(
                F.least(F.greatest(b - 1, F.lit(0)), F.lit(n_buckets - 1)).cast(
                    "long"
                )
            )
        zkey = F.lit(0).cast("long")
        for i in range(bits):
            for j, b in enumerate(bucketed):
                bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
                zkey = zkey.bitwiseOR(F.shiftleft(bit, i * d + j))
        out = (
            df.withColumn("__zkey", zkey)
            .repartitionByRange(num_files, F.col("__zkey"))
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
        path = self.path_for(name, layer)
        out.write.mode("overwrite").parquet(path)
        return self._register_written(name, layer, path)

    def compact(
        self,
        spark: SparkSession,
        name: str,
        layer: str | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> tuple[int, int]:
        """Small-file compaction (the reference delegates this to
        Databricks auto-optimize, reference
        src/pipelines/bronze/orders.sql:13): rewrite a parquet
        directory into ``ceil(total_bytes / target)`` files.

        Streaming ingest appends one file set per micro-batch; at
        100 TB the resulting small-file population dominates scan
        planning and open() overhead, so compaction runs as a periodic
        maintenance job per table. ``coalesce`` merges without a
        shuffle; the rewrite lands in a staging dir and swaps in
        atomically, so readers never see a partial table. Partitioned
        layouts (``key=value`` subdirectories) are preserved: the
        discovered partition columns are re-applied on write (with a
        hash repartition on them so each partition value lands in one
        task -> one output file per partition directory) — a plain
        coalesce rewrite would flatten the layout and silently break
        partition pruning and overwrite_partitions. Returns
        (files_before, files_after); no-op when already at or below
        target.

        Committer scratch vs foreign data: ``_temporary/**`` and
        ``.spark-staging*`` trees are Spark's own write scratch,
        judged by newest mtime three ways — older than
        ``_DEBRIS_MIN_AGE_S`` is crash debris, deleted here (no other
        maintenance path removes it); RECENT means a write may be IN
        FLIGHT, refuse rather than swap the live writer's output
        away; FAR-FUTURE stamps (writer clock skew, bad archive
        restores) are indistinguishable from a live skewed writer, so
        compaction refuses with the skew named and the tree must be
        removed manually. Any OTHER hidden-named parquet is foreign
        data and always refuses: Spark's partition discovery crashes
        on it and the swap would destroy it."""
        import math
        import shutil
        import time

        from pyspark.sql import functions as F

        path = self.path_for(name, layer)

        def _mtime(p: str) -> float:
            # an entry the committer renames away between the os.walk
            # listing and this stat IS the in-flight signal — classify
            # it as just-modified, never crash the maintenance job on
            # the race
            try:
                return os.path.getmtime(p)
            except OSError:
                return time.time()

        files: list[str] = []
        foreign: list[str] = []
        debris_newest: dict[str, float] = {}
        for walk_root, dirs, names in os.walk(path):
            rel = os.path.relpath(walk_root, path)
            segs = [] if rel == "." else rel.split(os.sep)
            if segs and (
                segs[0] == "_temporary"
                or segs[0].startswith(".spark-staging")
            ):
                top = os.path.join(path, segs[0])
                newest = max(
                    debris_newest.get(top, 0.0),
                    _mtime(walk_root),
                    *(
                        _mtime(os.path.join(walk_root, f))
                        for f in names
                    ),
                )
                debris_newest[top] = newest
                continue
            hidden_dir = any(s.startswith(("_", ".")) for s in segs)
            for f in names:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(walk_root, f)
                # hidden-NAMED files are as invisible to Spark's
                # rewrite read as hidden directories are
                if hidden_dir or f.startswith(("_", ".")):
                    foreign.append(full)
                else:
                    files.append(full)
        now = time.time()
        # Three-way by mtime, erring toward refusal (deleting a LIVE
        # writer's scratch is data loss; refusing is merely a retry):
        # recent -> a write may be in flight; far-FUTURE (clock-skewed
        # writer host, bad archive stamps) -> cannot tell live from
        # debris, refuse with the skew named so the operator decides;
        # genuinely stale -> crash debris, reclaimed below.
        live = sorted(
            d
            for d, m in debris_newest.items()
            if abs(now - m) < _DEBRIS_MIN_AGE_S
        )
        skewed = sorted(
            d
            for d, m in debris_newest.items()
            if m - now >= _DEBRIS_MIN_AGE_S
        )
        if live:
            raise IOError(
                f"compact({name}): write scratch {live[0]!r} was "
                "modified recently — an ingest may be in flight; "
                "retry after it finishes"
            )
        if skewed:
            raise IOError(
                f"compact({name}): write scratch {skewed[0]!r} "
                "carries FUTURE mtimes (writer clock skew or bad "
                "archive stamps) — cannot distinguish a live write "
                "from debris; investigate and remove it manually"
            )
        # A _delta_log child means the table was converted in place
        # (convert_to_delta) — the log IS published history, so the
        # advice must be "don't compact this table", never "delete
        # those files". Probed as a DIRECTORY, not via the
        # foreign-parquet list: a freshly-converted log holds only
        # JSON commits (no checkpoint parquet yet), and the staging
        # swap would silently destroy it all the same (review r10).
        if os.path.isdir(os.path.join(path, "_delta_log")):
            raise IOError(
                f"compact({name}): this table carries a Delta log "
                "(_delta_log — it was converted in place); compacting "
                "would rewrite published history out from under its "
                "readers — compact the upstream source and re-publish "
                "a new Delta version instead"
            )
        if foreign:
            # Hidden parquet outside Spark's own scratch is FOREIGN
            # data: invisible to stats/export/reader/vacuum, fatal to
            # Spark's partition discovery on the rewrite read, and the
            # staging swap would silently DESTROY it. Refuse loudly.
            raise IOError(
                f"compact({name}): foreign parquet under hidden "
                f"names inside the table, e.g. {foreign[0]!r} — move "
                "or remove it before compacting (the rewrite would "
                "drop it)"
            )
        # stale scratch is reclaimed even when the compaction itself
        # no-ops — compact IS the maintenance path for this table
        for d in debris_newest:
            shutil.rmtree(d, ignore_errors=True)
        total = sum(os.path.getsize(f) for f in files)
        n = max(1, math.ceil(total / target_file_bytes))
        if n >= len(files):
            return (len(files), len(files))
        # Discover key=value partition nesting (one column per level).
        part_cols: list[str] = []
        probe = path
        while True:
            # same predicate as stats/export/reader/vacuum: a hidden
            # '_backup=x' dir is invisible to Spark's own discovery
            # and must not derail the nesting probe
            subs = [
                d
                for d in sorted(os.listdir(probe))
                if _is_hive_dir(d) and os.path.isdir(os.path.join(probe, d))
            ]
            if not subs:
                break
            part_cols.append(subs[0].split("=", 1)[0])
            probe = os.path.join(probe, subs[0])
        df = spark.read.parquet(path)
        staging = path + "__compacting"
        if part_cols:
            (
                df.repartition(n, *[F.col(c) for c in part_cols])
                .write.mode("overwrite")
                .partitionBy(*part_cols)
                .parquet(staging)
            )
        else:
            df.coalesce(n).write.mode("overwrite").parquet(staging)
        from olist_lakehouse_2_0_spark.plans.pipeline import _swap_dirs

        _swap_dirs(spark, staging, path)
        after = sum(
            1
            for _, _, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
        return (len(files), after)


#: Committer-scratch trees untouched for this long are crash debris;
#: anything fresher may belong to an in-flight write (same idea as
#: Delta VACUUM's retention threshold for untracked files).
_DEBRIS_MIN_AGE_S = 3600


def _is_hive_dir(name: str) -> bool:
    """True for a hive-style ``col=value`` partition directory name.
    '_'/'.'-prefixed names are excluded exactly as Spark's partition
    discovery (and the Delta export/vacuum walk, which imports this
    predicate) excludes them — a hidden ``_backup=x`` directory must
    be invisible to stats, export, reader, and vacuum alike, or the
    reported file counts diverge from what is actually published."""
    return "=" in name and not name.startswith(("_", "."))


def _list_versions(fs, HPath, root: str) -> list[tuple[int, str]]:
    """Committed version directories under ``root``, ascending.
    Commit = the atomic staging->vN rename, so every ``v<number>``
    directory is complete by construction; crashed writers only ever
    leave ``_staging`` behind, which the next stage overwrites."""
    import re

    p = HPath(root)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        nm = st.getPath().getName()
        m = re.fullmatch(r"v(\d+)", nm)
        if m and st.isDirectory():
            out.append((int(m.group(1)), os.path.join(root, nm)))
    return sorted(out)


def _fs(spark: SparkSession, path: str):
    """(jvm, Hadoop ``Path`` class, the FileSystem that holds ``path``)
    under the session's Hadoop configuration."""
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    return jvm, HPath, HPath(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )


def _latest_version_or_none(spark: SparkSession, root: str) -> str | None:
    _, HPath, fs = _fs(spark, root)
    versions = _list_versions(fs, HPath, root)
    return versions[-1][1] if versions else None


def _latest_version(spark: SparkSession, root: str) -> str:
    latest = _latest_version_or_none(spark, root)
    if latest is None:
        raise FileNotFoundError(f"no committed versions under {root}")
    return latest


def _testdata_path(sf_dir: str, name: str) -> str:
    """Resolve one testdata table: the driver ships single
    ``{table}.parquet`` files, but tolerate a ``{table}/`` dataset
    directory too (the normal parquet shape everywhere else),
    preferring whichever exists."""
    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    if os.path.exists(file_path) or not os.path.isdir(dir_path):
        return file_path
    return dir_path


def testdata_catalog(sf_dir: str) -> Catalog:
    """Catalog over one driver testdata scale-factor directory."""
    cat = Catalog(root=sf_dir)
    for t in TESTDATA_TABLES:
        cat.register(t, _testdata_path(sf_dir, t))
    return cat


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Shorthand: read one driver testdata table as a DataFrame.

    Every table is read through :func:`read_parquet`, so repeated loads
    of an unchanged table skip schema inference. ``events`` goes through
    :func:`_load_nanos_ts`: the reference ``events.parquet`` stores
    ``ts`` as TIMESTAMP(MICROS) and reads directly; a TIMESTAMP(NANOS)
    file, which Spark's reader rejects, falls back to the nanosAsLong
    legacy flag and is converted back to a (microsecond) timestamp.

    ``spread=True`` fans the scan out as :func:`spread_scan` does. Ask
    for it only when the consumer's per-row work (HOF text stats,
    regexes, UDFs, vector math) costs more than a sorted round-robin
    shuffle of the scanned columns; never for a filter, projection,
    partial aggregate or hash join, which run as fast on the scan's own
    partitions and would pay one more sort, shuffle and stage. The file
    count comes from the version tuple :func:`read_parquet` just
    memoised, so the decision needs no planner pass or file listing;
    a path that is not local falls back to :func:`spread_scan`.
    """
    path = _testdata_path(sf_dir, name)
    if name == "events":
        df = _load_nanos_ts(spark, path, "ts")
    else:
        df = read_parquet(spark, path)
    if not spread:
        return df
    hit = _SCHEMA_MEMO.get(_memo_key(spark, path))
    if hit is None:
        return spread_scan(spark, df)
    n_files = sum(
        not os.path.basename(rel).startswith(("_", ".")) for rel, _, _ in hit[0]
    )
    return _spread_over(spark, df, n_files)


#: Session confs that change how parquet footers map to Spark types;
#: a schema inferred under one setting is never reused under another.
_PARQUET_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: (path, type confs) -> (file versions, schema inferred or recorded by
#: the writer, :func:`remember_schema`). Schemas only,
#: never data: the same thing a metastore holds for a catalog table.
#: Process-wide on purpose: the key covers every input inference reads,
#: so any session or thread may reuse an entry.
_SCHEMA_MEMO: dict[tuple, tuple] = {}


def _file_versions(path: str) -> tuple:
    """(relative path, size, mtime_ns) of every file under ``path`` (or
    of ``path`` itself), so any rewrite of the table changes the key."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for root, _, names in os.walk(path):
        for nm in names:
            full = os.path.join(root, nm)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _memo_key(spark: SparkSession, path: str) -> tuple:
    return (
        os.path.abspath(path),
        tuple(spark.conf.get(k, None) for k in _PARQUET_TYPE_CONFS),
    )


def written_schema(df: DataFrame) -> StructType:
    """The schema parquet reports for files written from ``df``:
    ``df``'s fields, all nullable (nested ones too)."""
    return StructType.fromJson(json.loads(df._jdf.schema().asNullable().json()))


def remember_schema(path: str, df: DataFrame) -> None:
    """Record the schema of the files Spark just wrote from ``df`` under
    ``path`` (:func:`written_schema`) — the writer knows it, so a
    read-back need not infer it. Unpartitioned writes only: partition
    column types come from directory names."""
    if os.path.exists(path):
        _SCHEMA_MEMO[_memo_key(df.sparkSession, path)] = (
            _file_versions(path),
            written_schema(df),
        )


def _move_schema(spark: SparkSession, src: str, dst: str) -> None:
    """Carry a recorded schema across the rename of ``src`` to ``dst``
    (a rename keeps every file's relative path, size and mtime)."""
    hit = _SCHEMA_MEMO.pop(_memo_key(spark, src), None)
    if hit is not None and os.path.exists(dst):
        _SCHEMA_MEMO[_memo_key(spark, dst)] = hit


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per table
    version.

    A plain parquet read without a schema runs a Spark job to read
    footers on every call. This memoises the inferred ``StructType``,
    keyed on the path, the size and mtime of every file under it, and
    the session confs that change parquet type mapping, then reads with
    ``spark.read.schema(s)``; a schema the writer recorded
    (:func:`remember_schema`) is used the same way. Only successful
    inferences are memoised, so a read that raises (a TIMESTAMP(NANOS)
    footer without the nanosAsLong flag) raises again next time. Paths that are not on the
    local filesystem are read without the memo.
    """
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key = _memo_key(spark, path)
    # Versions are taken BEFORE inference: a rewrite racing the
    # inference leaves a stale version in the entry, never a stale schema.
    versions = _file_versions(path)
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == versions:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = (versions, df.schema)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so the engine is
    queryable through plain ``spark.sql`` — the reference's users write
    SQL (Lakeflow SQL files), so the SQL entry point is part of
    capability parity, and Catalyst plans a SQL query and the
    equivalent DataFrame identically (same optimizer, same physical
    plans)."""
    for t in TESTDATA_TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """SQL entry point over the testdata tables."""
    register_views(spark, sf_dir)
    return spark.sql(query)


def spread_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Fan a narrow scan out across all cores before per-row-heavy work.

    Parquet split granularity is the row group: a table stored as few
    files with one row group each scans as that many partitions no
    matter what ``maxPartitionBytes`` says, pinning any expensive
    per-row compute (HOF text stats, LSH signatures, Pandas-UDF codecs)
    to a handful of cores. When the file count is below the cluster's
    default parallelism, round-robin repartition; at real scale (many
    files / row groups) this is a driver-side check and a no-op, so no
    shuffle is added on large inputs.

    The repartition sorts every input partition
    (``spark.sql.execution.sortBeforeRepartition``) and shuffles the
    scanned columns, so it pays only when the per-row work costs more
    than that (see :func:`load`). The file count comes from
    ``df.inputFiles()``, a planner pass and a listing; :func:`load`
    reads it from the schema memo and calls this only for paths that
    are not local.
    """
    return _spread_over(spark, df, len(df.inputFiles()))


def _spread_over(spark: SparkSession, df: DataFrame, n_files: int) -> DataFrame:
    target = spark.sparkContext.defaultParallelism
    return df.repartition(target) if n_files < target else df


def forget_schemas_under(root: str) -> None:
    """Drop every memo entry for ``root`` or a path under it: called
    when a staging root is deleted, so the memo holds no entry for a
    path that no longer exists."""
    root = os.path.abspath(root)
    under = [k for k in list(_SCHEMA_MEMO) if os.path.commonpath((k[0], root)) == root]
    for key in under:
        _SCHEMA_MEMO.pop(key, None)


def _load_nanos_ts(spark: SparkSession, path: str, ts_col: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # The reference events file stores the timestamp as a real parquet
    # TIMESTAMP(MICROS), which reads directly. A TIMESTAMP(NANOS) file
    # reads only via the nanosAsLong legacy flag, as int64 epoch-nanos.
    # Probe the plain read first and only fall back to the nanos path
    # when the column is long-typed or the footer is rejected.
    try:
        df = read_parquet(spark, path)
        if not isinstance(df.schema[ts_col].dataType, LongType):
            # Cast NTZ → TIMESTAMP (session tz is UTC, values unchanged)
            # so downstream watermarks/windows see event-time typing.
            return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    except Exception:
        pass

    # NOTE: the flag must STAY set — Spark re-reads it from the session
    # conf when the physical parquet scan is built (execution time, not
    # analysis time), so restoring it here would make every later
    # action on the returned (lazy) DataFrame fail on the footer's
    # TIMESTAMP(NANOS). Same tradeoff as the streaming reader
    # (streaming/stateful.py::read_events_stream); the flag only
    # affects TIMESTAMP(NANOS) columns, which nothing else reads.
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    df = read_parquet(spark, path)
    # `div` = integer division: epoch-nanos exceed double's 53-bit
    # mantissa, so `/ 1000` + cast would be off by ±1 microsecond.
    return df.withColumn(
        ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
    )
