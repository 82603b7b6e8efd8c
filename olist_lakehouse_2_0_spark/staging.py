"""Bounded staging directories for queries that re-stage data on disk.

The streaming-path queries (incremental SCD merges, exactly-once CSV
ingest, stateful profiles) stage a copy of their input plus checkpoints
under a temp root on every invocation. ``tempfile.mkdtemp`` alone leaks:
repeated correctness/profiling runs accumulate unbounded disk under
/tmp (ADVICE r2). This module bounds the accumulation instead of
leaking or deleting eagerly:

- At most ``KEEP_ROOTS`` live roots per tag: requesting a new root for
  a tag deletes the OLDEST once the cap is hit, not the most recent.
  The one-generation grace matters because these queries return
  DataFrames that read their staged files LAZILY — a caller that
  invokes the same query twice before consuming the first result
  (ADVICE r3) still holds a readable root for the prior result; only
  a third invocation invalidates it.
- Every live root is removed at interpreter exit.

The roots cannot be deleted in a ``try/finally`` inside the query —
the returned DataFrame reads the staged parquet only when an action
runs, after the query function returns.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from olist_lakehouse_2_0_spark.catalog import forget_schemas_under

#: Live roots retained per tag. 2 = current + one grace generation for
#: a still-unconsumed lazy result over the previous root.
KEEP_ROOTS = 2

_ACTIVE: dict[str, list[str]] = {}


def _cleanup_all() -> None:
    for roots in _ACTIVE.values():
        for path in roots:
            shutil.rmtree(path, ignore_errors=True)
    _ACTIVE.clear()


atexit.register(_cleanup_all)


def staging_dir(tag: str) -> str:
    """Fresh staging root for ``tag``. Deletes the oldest root staged
    under the same tag once ``KEEP_ROOTS`` are live (see module
    docstring for the lazy-reader grace contract), together with the
    schema-memo entries under it, and registers the new one for exit
    cleanup."""
    roots = _ACTIVE.setdefault(tag, [])
    while len(roots) >= KEEP_ROOTS:
        old = roots.pop(0)
        shutil.rmtree(old, ignore_errors=True)
        forget_schemas_under(old)
    root = tempfile.mkdtemp(prefix=f"{tag}_")
    roots.append(root)
    return root
