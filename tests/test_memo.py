"""The session memo: re-registration after clearCache, the LRU bound over
frame-owning entries, and the purge of other applications' entries."""

from __future__ import annotations

from collections import OrderedDict
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from backend_model_spark import memo
from tests.conftest import group_jobs


@pytest.fixture
def entries(spark, monkeypatch):
    """An empty memo for the test; the session's own entries come back
    afterwards untouched."""
    monkeypatch.setattr(memo, "_ENTRIES", OrderedDict())
    yield
    memo.clear(spark)


def _cache_loaded(spark, df) -> bool:
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    assert cached.isDefined(), "frame is not registered in the cache manager"
    return cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def _live(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def _frame(spark, tag: int):
    df = spark.range(50).withColumn("tag", F.lit(tag)).persist()
    df.count()
    return df


def test_hit_after_clearcache_rebuilds_dead_frames(spark, entries):
    """A hit after clearCache() returns the same objects and runs no
    job: it re-registers both dead frames, and the next action on the
    later frame fills both caches."""

    def build():
        base = spark.range(200).withColumn("k", F.col("id") % 7).persist()
        base.count()
        rolled = base.groupBy("k").agg(F.count("*").alias("n")).persist()
        rolled.count()
        return base, rolled, 42

    base, rolled, _ = memo.memo(spark, "two-frames", build)
    spark.catalog.clearCache()
    assert not _live(base) and not _live(rolled)
    got = []
    hit = lambda: got.extend(memo.memo(spark, "two-frames", build))  # noqa: E731
    jobs = group_jobs(spark, "memo-hit", hit)
    assert got[0] is base and got[1] is rolled  # a hit, not a rebuild
    assert jobs == 0
    assert _live(base) and _live(rolled)
    assert not _cache_loaded(spark, base) and not _cache_loaded(spark, rolled)
    assert rolled.count() == 7
    assert _cache_loaded(spark, rolled)
    assert _cache_loaded(spark, base), "rolled's cache was built without reading base's"


def test_lru_bound_evicts_and_unpersists(spark, entries, monkeypatch):
    monkeypatch.setattr(memo, "MAX_FRAME_ENTRIES", 2)
    first = memo.memo(spark, "f1", lambda: _frame(spark, 1))
    memo.memo(spark, "f2", lambda: _frame(spark, 2))
    memo.memo(spark, "value", lambda: [1.0, 2.0])  # owns no frame
    memo.memo(spark, "f1", lambda: pytest.fail("f1 must hit"))  # most recent now
    memo.memo(spark, "f3", lambda: _frame(spark, 3))
    assert memo.lookup(spark, "f2") is None
    assert memo.lookup(spark, "f1") is first and _live(first)
    assert memo.lookup(spark, "value") == [1.0, 2.0]
    last = memo.memo(spark, "f4", lambda: _frame(spark, 4))
    assert memo.lookup(spark, "f1") is None and not _live(first)
    memo.clear(spark)
    assert not _live(last)


def test_new_application_purges_old_entries(spark, entries):
    old_app = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-old"))
    frame = memo.memo(old_app, "frame", lambda: _frame(spark, 9))
    memo.memo(old_app, "value", lambda: 1)
    assert memo.lookup(old_app, "value") == 1
    memo.memo(spark, "value", lambda: 2)
    assert memo.lookup(old_app, "value") is None
    assert memo.lookup(old_app, "frame") is None
    # dropped without an unpersist: the old context is gone
    assert _live(frame)
    frame.unpersist()


def test_fit_memo_binds_defaults(spark, sf_dir):
    """Two spellings of the same trainer fit share one memo entry."""
    from backend_model_spark.ml.train_distributed import TRAIN_LR, fit

    assert fit(spark, sf_dir, lr=TRAIN_LR) is fit(spark, sf_dir)
