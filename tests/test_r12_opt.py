"""Round-12 optimization regression tests.

Covers the two correctness-adjacent items from the round-11 judge:

* the schema-inference memo's directory key must observe EVERY child
  of a directory dataset (the former 64-child sampling cap could
  serve a stale schema after an in-place rewrite of the 65th+ part);
* ``with_global_rank``'s pin on the ranged frame is REQUIRED for
  correctness (range-exchange bounds are re-sampled per action), so
  on a frame large enough to trigger real range sampling its rank,
  running sum, grand total and running max must equal the
  single-partition window's, exactly: with the session's settings,
  under 7 shuffle partitions, with AQE off, on the single-partition
  path (``parts=1``), and for a ``decimal(12,2)`` value column with
  negatives and NULLs (the literal offsets take the rollup's own
  type).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import group_jobs


def test_dataset_key_observes_every_child(tmp_path):
    from backend_model_spark.sources.tables import _dataset_key

    d = tmp_path / "data.parquet"
    d.mkdir()
    for i in range(70):
        (d / f"part-{i:05d}").write_bytes(b"x")
    k1 = _dataset_key(str(d))
    assert k1 is not None
    # stable on re-stat
    assert _dataset_key(str(d)) == k1
    # mutate the 69th child IN PLACE: same name, same size, new mtime
    # (and leave the directory's own mtime untouched — no entry is
    # added or removed). The old sampled key missed children past the
    # first 64; the hashed key must change.
    target = d / "part-00068"
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    k2 = _dataset_key(str(d))
    assert k2 != k1


def _values():
    """Value columns by case id: varied longs, and decimal cents with
    negatives where four rows in five are NULL, so NULL rows open the
    order and (almost surely) some later range partitions."""
    return {
        "long": ((F.col("id") * 7919) % 1009).cast("long"),
        "decimal": F.when(F.col("id") % 5 != 1, None).otherwise(
            (((F.col("id") * 7919) % 200_001 - 100_000) / 100).cast("decimal(12,2)")
        ),
    }


@pytest.mark.parametrize(
    "conf,parts,value",
    [
        ({}, None, "long"),
        ({"spark.sql.shuffle.partitions": "7"}, None, "long"),
        ({"spark.sql.adaptive.enabled": "false"}, None, "long"),
        ({}, 1, "long"),
        ({}, None, "decimal"),
    ],
    ids=["localcheckpoint", "shuffle7", "aqe_off", "parts1", "decimal"],
)
def test_global_rank_is_exact_permutation(spark, conf, parts, value):
    """Rank, running sum, grand total and running max equal the
    single-partition window's, exactly and with its types."""
    from pyspark.sql import Window as W

    from backend_model_spark.operators.scale_utils import with_global_rank

    n = 150_000
    order = [F.col("k").asc(), F.col("id").asc()]
    # non-trivial distribution + ties on the first key so the
    # composite ordering and the range sampler both do real work
    df = (
        spark.range(n)
        .withColumn("k", (F.col("id") * 2654435761) % 1000)
        .withColumn("v", _values()[value])
        .withColumn("m", (F.col("id") * 40503) % 100_003)
        .repartition(16)
    )
    w = W.orderBy(*order)
    upto = w.rowsBetween(W.unboundedPreceding, 0)
    truth = df.select(
        "id",
        F.row_number().over(w).alias("rk"),
        F.sum("v").over(upto).alias("cum"),
        F.sum("v").over(W.partitionBy()).alias("gt"),
        F.max("m").over(upto).alias("peak"),
    )
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = with_global_rank(
            df,
            order,
            "rk",
            prefix_sum=("v", "cum"),
            grand_total=("v", "gt"),
            prefix_max=("m", "peak"),
            parts=parts,
        ).select(truth.columns)
        rows = got.collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(rows) == n
    types = lambda d: [f.dataType for f in d.schema][2:]  # noqa: E731
    assert types(got) == types(truth)
    assert sorted(rows) == sorted(truth.collect())


def _cache_loaded(spark, df) -> bool:
    """Whether ``df``'s cached relation holds materialized blocks."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    assert cached.isDefined(), "frame is not registered in the cache manager"
    return cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def test_semdedup_memo_reregisters_grouped_alone(spark, sf_dir):
    """A memo hit where only ``grouped`` lost its cache re-registers
    ``grouped`` at its storage level without running a job, keeps the
    still-live ``assigned``, and the entry's rows are unchanged."""
    from pyspark import StorageLevel

    from backend_model_spark import memo
    from backend_model_spark.operators import similarity

    before = similarity.semdedup_clusters(spark, sf_dir).collect()
    grouped, assigned = memo.lookup(spark, ("semdedup", sf_dir))
    grouped.unpersist(blocking=True)
    hit = lambda: similarity._semdedup_parts(spark, sf_dir)  # noqa: E731
    assert group_jobs(spark, "semdedup-hit", hit) == 0
    assert grouped.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert _cache_loaded(spark, assigned)
    assert similarity.semdedup_clusters(spark, sf_dir).collect() == before
    assert _cache_loaded(spark, grouped), "the entry's action did not fill grouped"
