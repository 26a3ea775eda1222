"""Cross-engine parity of the round-8 star contract ON A DUPLICATED
CORPUS.

The committed sf0.001/sf0.01 testdata is duplicate-free, so the star
CTEs / UNION ALL star branches added to the dedup-family oracles in
round 8 are DEAD CODE in every ordinary parity run — a wrong join key
in a star branch would pass the whole suite and only surface when the
driver meets real duplication (round-8 review finding). This suite
builds an adversarial corpus that lights up every branch:

* a 7-copy duplicate group of a long doc (star edges + rep collapse),
* a 3-copy group of a SHORT (<3-token) doc (must be EXCLUDED from the
  LSH family by the eligibility filter on both engines),
* a near-duplicate (distinct text, high Jaccard) of the hot doc
  (rep-level band pair must survive),
* unique docs (cold mass),
* identical embeddings within one label (star rows at cosine 1.0),
* identical embeddings under DIFFERENT labels (must NOT pair),
* identical ZERO vectors (must NOT pair — zero-norm rule),

then hash-compares Spark against the registered DuckDB oracle for
every rewritten entry, with the driver's exact name-sorted-column,
dtype-strict value hash.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pytest

STAR_ENTRIES = [
    "dedup_minhash_lsh_candidates",
    "dedup_ngram_jaccard",
    "dedup_containment_pairs",
    "dedup_lsh_verified",
    "dedup_lsh_recall",
    "dedup_graph_pagerank",
    "dedup_graph_triangles",
    "dedup_duplicate_clusters",
    "dedup_keep_list",
    "dedup_golden_record",
    "dedup_embedding_neardup",
    "dedup_embedding_clusters",
    "dedup_semantic_semdedup",
]


def _vhash(pdf: pd.DataFrame) -> str:
    # itertuples, NOT iterrows — the driver's dtype-strict hash
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(str(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5(json.dumps(rows).encode()).hexdigest()[:12]


@pytest.fixture(scope="module")
def dirty_dir(tmp_path_factory) -> str:
    sf = str(tmp_path_factory.mktemp("dirty"))
    long_doc = " ".join(f"tok{i}" for i in range(40))
    near = long_doc + " extra trailing words"
    short = "hi there"  # < 3 tokens: ineligible for the LSH family
    texts = (
        [long_doc] * 7
        + [short] * 3
        + [near]
        + [f"unique doc number {i} body words alpha{i} beta{i} gamma{i}" for i in range(9)]
    )
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en", "de"] * (len(texts) // 2),
            "source": [f"s{i % 3}" for i in range(len(texts))],
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(sf, "documents.parquet"))

    rng = np.random.RandomState(7)
    base = rng.uniform(-1, 1, size=(10, 64)).astype("float32")
    hot = base[0]
    zero = np.zeros(64, dtype="float32")
    emb = [hot, hot, hot, hot]  # 4 identical, label 0 → 3 star rows
    labels = [0, 0, 0, 0]
    emb += [hot, hot]  # identical but label 1 vs 2 → never pair
    labels += [1, 2]
    emb += [zero, zero]  # identical zero vectors, label 0 → no rows
    labels += [0, 0]
    for i in range(1, 10):
        emb.append(base[i])
        labels.append(i % 3)
    pd.DataFrame(
        {
            "vec_id": range(len(emb)),
            "embedding": [list(map(float, v)) for v in emb],
            "label": labels,
        }
    ).to_parquet(os.path.join(sf, "embeddings.parquet"))
    return sf


@pytest.mark.parametrize("name", STAR_ENTRIES)
def test_star_branch_parity(spark, dirty_dir, name):
    import duckdb

    from backend_model_spark.plans import registry

    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    spdf = fn(spark, dirty_dir).toPandas()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{dirty_dir}/{t}.parquet')"
        )
    opdf = con.execute(sql).fetchdf()
    assert len(spdf) == len(opdf), f"{name}: {len(spdf)} vs {len(opdf)} rows"
    assert _vhash(spdf) == _vhash(opdf), f"{name}: value hash mismatch"


def test_fixture_lights_up_the_star_branches(spark, dirty_dir):
    """The fixture must actually exercise what this suite claims:
    star edges present, short-doc group absent, near-dup rep pair
    present, zero/cross-label embedding groups absent."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.dedup import (
        embedding_neardup_pairs,
        lsh_candidate_pairs,
    )

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(spark, dirty_dir).collect()
    }
    assert {(0, i) for i in range(1, 7)} <= pairs, "7-copy star edges"
    assert (1, 2) not in pairs, "within-group pair must not be emitted"
    assert not any(7 <= a <= 9 or 7 <= b <= 9 for a, b in pairs), (
        "short-doc duplicate group must be excluded by eligibility"
    )
    assert (0, 10) in pairs, "near-dup rep-level band pair"

    epairs = embedding_neardup_pairs(spark, dirty_dir)
    stars = {
        (r["vec_a"], r["vec_b"])
        for r in epairs.filter(F.col("cosine") == 1.0).collect()
    }
    assert {(0, 1), (0, 2), (0, 3)} <= stars, "identical-vector star rows"
    flat = {(r["vec_a"], r["vec_b"]) for r in epairs.collect()}
    assert (4, 5) not in flat, "identical vectors under different labels"
    assert (6, 7) not in flat, "identical zero vectors must not pair"


def test_semdedup_star_form_equals_direct_form(spark, dirty_dir):
    """The round-11 star rewrite of ``dedup_semantic_semdedup`` must
    reproduce the r10 DIRECT per-vector semantics EXACTLY on a
    corpus with duplicated embeddings (6 identical hot copies across
    3 labels + 2 identical zero vectors): DuckDB runs the retired
    direct-form SQL (quadratic in duplication — the reason it was
    retired) and the registered star-form oracle; both must match
    the Spark star implementation row for row."""
    import duckdb

    from backend_model_spark.operators.similarity import (
        SEMDEDUP_DIRECT_ORACLE,
    )
    from backend_model_spark.plans import registry

    spdf = registry.queries()["dedup_semantic_semdedup"](
        spark, dirty_dir
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{dirty_dir}/embeddings.parquet')"
    )
    star = con.execute(
        registry.oracle_sql()["dedup_semantic_semdedup"]
    ).fetchdf()
    direct = con.execute(SEMDEDUP_DIRECT_ORACLE).fetchdf()
    assert _vhash(star) == _vhash(direct), "star form diverged from direct"
    assert len(spdf) == len(direct)
    assert _vhash(spdf) == _vhash(direct)
    # the 6-copy hot group must contribute its 5 non-rep members as
    # star drops and the 2-copy zero group must contribute none
    assert int(spdf["n_dropped"].sum()) >= 5


def test_lsh_candidates_inline_and_memo_paths_agree(spark, dirty_dir):
    """Round-11: ``lsh_candidate_pairs`` reuses the ``_rep_shingled``
    session memo when an earlier entry already built it, and inlines
    the shingle lineage (no extra materialization pass) when not.
    Both paths must emit the identical pair set — on a duplicated
    corpus so the star branch is live in both."""
    from backend_model_spark import memo
    from backend_model_spark.operators import dedup

    def fresh_pairs():
        # drop every dedup memo so the build path runs from scratch
        memo.clear(
            spark,
            ("dedup.pairs", dirty_dir),
            ("dedup.shingles", dirty_dir),
            ("dedup.reps", dirty_dir),
        )
        return dedup.lsh_candidate_pairs(spark, dirty_dir)

    inline = {
        (r["doc_a"], r["doc_b"]) for r in fresh_pairs().collect()
    }
    # memo path: pre-build the shingle index, then rebuild the pairs
    memo.clear(spark, ("dedup.pairs", dirty_dir))
    dedup._rep_shingled(spark, dirty_dir)  # memo now present
    assert memo.lookup(spark, ("dedup.shingles", dirty_dir)) is not None
    via_memo = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(spark, dirty_dir).collect()
    }
    assert inline == via_memo
