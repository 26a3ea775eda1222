"""Round-12 optimization regression tests.

Covers the two correctness-adjacent items from the round-11 judge:

* the schema-inference memo's directory key must observe EVERY child
  of a directory dataset (the former 64-child sampling cap could
  serve a stale schema after an in-place rewrite of the 65th+ part);
* ``with_global_rank``'s pin on the ranged frame is REQUIRED for
  correctness (range-exchange bounds are re-sampled per action), so
  the ranks must form an exact 1..n permutation on a frame large
  enough to trigger real range sampling — under both pin strategies
  (``localcheckpoint`` default and the cluster-safe ``persist``) —
  and the single-partition path (``parts=1``) must return the same
  rows as the two-stage path, running prefix max included.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


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


def _ranked_rows(spark, **kw):
    from backend_model_spark.operators.scale_utils import with_global_rank

    n = 150_000
    # non-trivial distribution + ties on the first key so the
    # composite ordering and the range sampler both do real work
    df = (
        spark.range(n)
        .withColumn("k", (F.col("id") * 2654435761) % 1000)
        .withColumn("v", F.lit(1).cast("long"))
        .withColumn("m", (F.col("id") * 40503) % 100_003)
        .repartition(16)
    )
    out = with_global_rank(
        df,
        [F.col("k").asc(), F.col("id").asc()],
        "rk",
        prefix_sum=("v", "cum"),
        prefix_max=("m", "peak"),
        **kw,
    )
    return n, out.select("rk", "cum", "peak", "k", "id", "m").collect()


@pytest.mark.parametrize(
    "pin_mode,parts",
    [("localcheckpoint", None), ("persist", None), ("localcheckpoint", 1)],
    ids=["localcheckpoint", "persist", "parts1"],
)
def test_global_rank_is_exact_permutation(spark, pin_mode, parts, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_RANK_PIN", pin_mode)
    n, got = _ranked_rows(spark, parts=parts)
    assert len(got) == n
    ranks = sorted(r["rk"] for r in got)
    assert ranks == list(range(1, n + 1)), "ranks must be a 1..n permutation"
    # prefix sum of the constant 1 equals the rank itself
    assert all(r["cum"] == r["rk"] for r in got)
    # the rank order must agree with the declared sort order
    by_rank = sorted(got, key=lambda r: r["rk"])
    keys = [(r["k"], r["id"]) for r in by_rank]
    assert keys == sorted(keys)
    # the running max must be the max of every value up to the rank
    peak = None
    for r in by_rank:
        peak = r["m"] if peak is None else max(peak, r["m"])
        assert r["peak"] == peak
    if parts == 1:
        # row-for-row equal to the default two-stage path
        _, two_stage = _ranked_rows(spark)
        assert sorted(got) == sorted(two_stage)


def _cache_loaded(spark, df) -> bool:
    """Whether ``df``'s cached relation holds materialized blocks."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    assert cached.isDefined(), "frame is not registered in the cache manager"
    return cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def test_semdedup_memo_rebuilds_grouped_alone(spark, sf_dir):
    """A memo hit where only ``grouped`` lost its cache must rebuild
    ``grouped`` itself, not just re-count the still-live ``assigned``."""
    from backend_model_spark import memo
    from backend_model_spark.operators import similarity

    similarity._semdedup_parts(spark, sf_dir)
    grouped, assigned = memo.lookup(spark, ("semdedup", sf_dir))
    assert _cache_loaded(spark, grouped) and _cache_loaded(spark, assigned)
    grouped.unpersist(blocking=True)
    similarity._semdedup_parts(spark, sf_dir)
    assert _cache_loaded(spark, assigned)
    assert _cache_loaded(spark, grouped), "grouped was re-registered but never built"
