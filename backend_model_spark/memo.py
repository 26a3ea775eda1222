"""One session memo for the engine's shared expensive stages (LSH
candidates, SemDeDup assignment, BRP reps, trainer features and fits),
built once per Spark application. One rule for every site: a miss runs
exactly the jobs ``build`` runs; a hit runs none.

* Keys are ``(applicationId, key)``. An insert drops other
  applications' entries without unpersisting: their context is gone.
* The memo owns the DataFrames in the built value (the value itself,
  or members of a tuple or list) that are persisted when ``build``
  returns. Callers never unpersist them.
* Frame-owning entries share one LRU bound; eviction unpersists.
  Value-only entries live until the application changes.
* An external ``clearCache()`` unpersists owned frames behind the
  memo's back. A hit re-registers each dead frame at its recorded
  storage level, so the first action that consumes it fills the cache
  and later consumers read it.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

# a corpus needs at most ~10 frame-owning entries; the test suite runs
# many fixture data dirs through one application
MAX_FRAME_ENTRIES = 16

# (applicationId, key) -> (value, [(owned frame, storage level), ...])
_ENTRIES: OrderedDict = OrderedDict()


def _live(df: DataFrame) -> bool:
    sl = df.storageLevel
    return sl.useMemory or sl.useDisk


def memo(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value memoized under ``key`` in this application; ``build()``
    makes it on a miss."""
    app = spark.sparkContext.applicationId
    hit = _ENTRIES.get((app, key))
    if hit is not None:
        _ENTRIES.move_to_end((app, key))
        for df, level in hit[1]:
            if not _live(df):
                df.persist(level)
        return hit[0]
    value = build()
    for k in [k for k in _ENTRIES if k[0] != app]:
        del _ENTRIES[k]
    parts = value if isinstance(value, (tuple, list)) else (value,)
    frames = [
        (df, df.storageLevel) for df in parts if isinstance(df, DataFrame) and _live(df)
    ]
    _ENTRIES[(app, key)] = (value, frames)
    owning = [k for k, (_, f) in _ENTRIES.items() if f]
    for k in owning[: max(0, len(owning) - MAX_FRAME_ENTRIES)]:
        for df, _ in _ENTRIES.pop(k)[1]:
            df.unpersist()
    return value


def lookup(spark: SparkSession, key: Hashable) -> Any:
    """The value memoized under ``key`` in this application, or None;
    no recency update, no re-registration."""
    hit = _ENTRIES.get((spark.sparkContext.applicationId, key))
    return None if hit is None else hit[0]


def clear(spark: SparkSession, *keys: Hashable) -> None:
    """Drop the entries under ``keys`` (all of this application's when
    none is given) and unpersist the frames they own."""
    app = spark.sparkContext.applicationId
    targets = [(app, k) for k in keys] if keys else [k for k in _ENTRIES if k[0] == app]
    for k in targets:
        for df, _ in _ENTRIES.pop(k, (None, []))[1]:
            df.unpersist()
