"""The session cache: pinned frames and driver-side memos in one place.

Two kinds of entry share one FIFO dict and one bound (``MAX_ENTRIES``),
so a long-lived service cycling sessions and corpora cannot accumulate
them:

* **pins** — persisted DataFrames, one per (application, slot). A query
  that runs again releases its previous frame and persists the new one.
  The order matters: Spark's cache manager matches entries by plan, so
  persisting a same-plan rebuild first and releasing the old frame
  second would drop the cache entry both share. ``pin`` is the only
  place that persists a pinned frame, so that order holds everywhere.
* **memos** — small driver-side values (a collected dimension, a count,
  trained centroids), keyed on the application id, the caller's key, the
  input plan's semantic hash and a (path, length, mtime) snapshot of the
  input files. A file rewritten in place keeps its path and plan but
  changes the snapshot, so the next lookup recomputes instead of
  serving the old value. A frame with no input files (``createDataFrame``)
  keys on its plan alone.

Pinned frames keep Spark's own cache semantics when an input changes:
the cache manager still serves the persisted data.
"""

from __future__ import annotations

import threading
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

MAX_ENTRIES = 64

T = TypeVar("T")

_ENTRIES: dict[tuple, object] = {}
_LOCK = threading.Lock()     # pipeline.DAG runs queries on threads


def _release(value: object) -> None:
    if isinstance(value, DataFrame):
        # An entry may belong to a stopped SparkContext, where unpersist
        # raises; its blocks are gone already.
        try:
            value.unpersist()
        except Exception:
            pass


def _store(key: tuple, value: object) -> None:
    with _LOCK:
        _ENTRIES.pop(key, None)     # a racing memo fill of the same key
        while len(_ENTRIES) >= MAX_ENTRIES:
            _release(_ENTRIES.pop(next(iter(_ENTRIES))))
        _ENTRIES[key] = value


def pin(spark: SparkSession, slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` as the slot's frame, releasing the previous one
    first, and return it. Callers embed what the frame depends on
    beyond the query itself (``sf_dir``, parameters) in ``slot``."""
    key = (spark.sparkContext.applicationId, slot)
    with _LOCK:
        prev = _ENTRIES.pop(key, None)
    if prev is not None and prev is not df:
        _release(prev)
    df.persist()
    _store(key, df)
    return df


def pinned(spark: SparkSession, slot: str,
           build: Callable[[], DataFrame]) -> DataFrame:
    """The slot's frame while it is still cached, else ``build()``
    pinned and materialized.

    Re-invoking a query returns the SAME DataFrame object rather than an
    identical-plan twin, so its consumers share one cache entry."""
    df = _ENTRIES.get((spark.sparkContext.applicationId, slot))
    if df is not None:
        try:
            # Not df.is_cached: that flag stays True after
            # spark.catalog.clearCache(); the storage level reports
            # whether the data can still be served.
            lvl = df.storageLevel
            if lvl.useMemory or lvl.useDisk:
                return df
        except Exception:
            pass
    df = pin(spark, slot, build())
    df.count()
    return df


def _root_paths(df: DataFrame) -> list:
    """Root paths of the file relations ``df`` reads. Taken from the
    analyzed plan: a persisted frame's optimized plan reads the cache,
    not the files, so ``inputFiles()`` would come back empty for it."""
    out = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            roots = rel.location().rootPaths().iterator()
            while roots.hasNext():
                out.append(roots.next())
    return out


def _snapshot(spark: SparkSession, paths: list) -> tuple:
    """(path, length, mtime) of every file under the Hadoop ``paths``,
    read through Hadoop FileSystem; a missing path snapshots as
    (path, -1, -1)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    out = []
    for path in paths:
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            out.append((path.toString(), -1, -1))
            continue
        stack = [fs.getFileStatus(path)]
        while stack:
            st = stack.pop()
            if st.isDirectory():
                stack.extend(fs.listStatus(st.getPath()))
            else:
                out.append((st.getPath().toString(), st.getLen(),
                            st.getModificationTime()))
    return tuple(sorted(out))


def memo(spark: SparkSession, key, inputs: DataFrame | str,
         compute: Callable[[], T]) -> T:
    """``compute()`` once per (application, key, inputs): ``inputs`` is
    the frame the value is computed from, or the path it reads."""
    if isinstance(inputs, DataFrame):
        plan, paths = inputs.semanticHash(), _root_paths(inputs)
    else:
        plan = None
        paths = [spark.sparkContext._jvm.org.apache.hadoop.fs.Path(inputs)]
    full = (spark.sparkContext.applicationId, key, plan,
            _snapshot(spark, paths))
    with _LOCK:
        if full in _ENTRIES:
            return _ENTRIES[full]
    value = compute()
    _store(full, value)
    return value


def reset() -> None:
    """Unpersist every pinned frame and forget every memo."""
    with _LOCK:
        values = list(_ENTRIES.values())
        _ENTRIES.clear()
    for v in values:
        _release(v)
