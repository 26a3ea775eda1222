"""Similarity search over the ``embeddings`` table (array<float>, 64-d)
— BASELINE.json north-star extension (SURVEY.md §7 M4
`ops/similarity`; the reference's nearest analog is its correlation
ranking, SURVEY.md §2.5 A7).

Three tiers, per the scale playbook:
* brute-force cosine top-k — the exact baseline; broadcast the (small)
  query set against the corpus, never corpus × corpus.
* IVF (inverted-file) top-k — the scale path: assign vectors to
  coarse centroids, search only the probed bucket. Here centroids are
  the per-label means (deterministic); a production build would drop
  in MLlib KMeans centroids with the same plumbing.
* random-hyperplane LSH — Hamming-bucketed candidates; deterministic
  hyperplanes derived from md5 so both engines agree.

All dot products fold left-to-right in double on both engines, so the
oracle comparison is exact after a single round at the edge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from backend_model_spark.memo import memo
from backend_model_spark.operators.dedup import grid_cosine_pairs
from backend_model_spark.operators.scale_utils import sort_bounded
from backend_model_spark.sources.tables import load_table, spread

DIM = 64
N_QUERIES = 10
TOP_K = 5

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
NORM = "sqrt(aggregate(transform({a}, x -> x * x), cast(0.0 as double), (acc, x) -> acc + x))"

DOT_SQL = "list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i] * {b}[i]))"
NORM_SQL = "sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i] * {a}[i])))"


def _safe_cos(dot: str, norm_prod: str) -> str:
    """Zero-norm-safe cosine, ONE text for both engines (valid Spark
    SQL and DuckDB SQL): a zero vector is similar to nothing —
    cosine 0.0 — instead of an ANSI DIVIDE_BY_ZERO (found by the
    round-6 zero-vector adversarial fixture)."""
    return (
        f"CASE WHEN ({norm_prod}) = 0 THEN cast(0.0 as double) "
        f"ELSE ({dot}) / ({norm_prod}) END"
    )


def _vectors(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )


def _as_double(df: DataFrame) -> DataFrame:
    # spread: the 64-d dot-product fan-out wants all cores when the
    # embeddings arrive as one small parquet file (no-op at scale)
    return _vectors(spread(df))


def _corpus_and_queries(spark: SparkSession, sf_dir: str, extend=lambda df: df):
    """The spread corpus and its first N_QUERIES vectors, each passed
    through ``extend``. The query side is broadcast, so it reads the
    raw scan: its vec_id filter would push below spread's round-robin
    exchange, into a second shuffle of the scan that AQE cannot reuse."""
    raw = load_table(spark, "embeddings", sf_dir)
    queries = extend(_vectors(raw)).filter(F.col("vec_id") < N_QUERIES)
    return extend(_as_double(raw)), queries


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("vn", F.expr(NORM.format(a="v")))


def _cosine(a: str, b: str, na: str | None = None, nb: str | None = None) -> Column:
    """:func:`_safe_cos` of array columns ``a`` and ``b``. ``na`` and
    ``nb`` name precomputed norm columns (:func:`_with_norm`); a norm
    not given is folded inline, in the same order."""
    return F.expr(
        _safe_cos(
            DOT.format(a=a, b=b),
            f"{na or NORM.format(a=a)} * {nb or NORM.format(a=b)}",
        )
    )


SALT_BUCKETS = 32  # stage-1 fan-out knob: ≈ shuffle parallelism / |queries|


def _salted_topk(
    scored: DataFrame, score: str, descending: bool, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-query top-TOP_K of ``scored`` (q_id, vec_id, *carry, score)
    by (score, vec_id), in TWO stages so top-k parallelism follows the
    corpus, not the query count.

    A single window partitioned by q_id would funnel the whole scored
    corpus through |queries| tasks (10 here). Stage 1 ranks within
    (q_id, salt), salt = md5(vec_id) % SALT_BUCKETS — a
    content-derived, partitioning-independent bucket — keeping only
    TOP_K per bucket: parallelism |queries|·SALT_BUCKETS, each task
    seeing ~1/SALT_BUCKETS of the corpus (raise SALT_BUCKETS with the
    cluster; any salting yields the same global top-k, so the knob is
    pure parallelism). Stage 2 re-ranks the surviving
    |queries|·SALT_BUCKETS·TOP_K rows — trivially small at any SF.

    Returns (q_id, neighbor_id, *carry, score, rank), unsorted: each
    caller keeps its own final sort."""
    key = F.col(score).desc() if descending else F.col(score).asc()
    order = (key, F.col("vec_id").asc())
    salt = F.expr(
        f"conv(substring(md5(cast(vec_id as string)), 1, 4), 16, 10) % {SALT_BUCKETS}"
    )
    survivors = (
        scored.withColumn("salt", salt)
        .withColumn(
            "lrank", F.row_number().over(W.partitionBy("q_id", "salt").orderBy(*order))
        )
        .filter(F.col("lrank") <= TOP_K)
        .select("q_id", "vec_id", *carry, score)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(W.partitionBy("q_id").orderBy(*order)))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), *carry, score, "rank")
    )


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: first N_QUERIES vectors as queries against
    the full corpus. The query side is tiny → broadcast join; the
    corpus is scanned once; top-k per query via :func:`_salted_topk`.
    """
    # norms are per-vector, not per-pair: compute once on each side
    # before the join (the corpus norm would otherwise be re-folded
    # N_QUERIES times, the query norm once per corpus row). Same fold
    # order as the oracle's norm → bit-identical cosine.
    emb, queries = _corpus_and_queries(spark, sf_dir, _with_norm)
    queries = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id")).withColumn(
        "cosine", F.round(_cosine("qv", "v", "qn", "vn"), 6)
    )
    # N_QUERIES·TOP_K rows: bounded by construction
    return sort_bounded(_salted_topk(scored, "cosine", descending=True), "q_id", "rank")


COSINE_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT
    q.q_id,
    v.vec_id AS neighbor_id,
    ROUND(
      {_safe_cos(DOT_SQL.format(a="q.qv", b="v.v", dim=DIM), NORM_SQL.format(a="q.qv", dim=DIM) + " * " + NORM_SQL.format(a="v.v", dim=DIM))},
    6) AS cosine
  FROM q JOIN v ON v.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, cosine, rank
FROM ranked
WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: centroids = per-label mean vectors; each query
    probes only its nearest centroid's bucket (nprobe=1), exact top-3
    within the bucket.

    Scale: centroid table is tiny (n_labels rows) → broadcast twice;
    the corpus is scanned once for assignment (its own label IS its
    bucket here) and once per probe — never an all-pairs join.
    """
    emb, queries = _corpus_and_queries(spark, sf_dir)
    # per-label centroids: positional explode → avg per (label, pos)
    pos = emb.select(
        "label", F.posexplode("v").alias("pos", "x")
    )
    centroids = (
        pos.groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("c_label"),
            F.expr("transform(pc, s -> s.c)").alias("cv"),
        )
    )
    queries = queries.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    wq = W.partitionBy("q_id").orderBy(F.col("c_cos").desc(), F.col("c_label").asc())
    probe = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("c_cos", F.round(_cosine("qv", "cv"), 6))
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") == 1)
        .select("q_id", "qv", F.col("c_label").alias("probe_label"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    # N_QUERIES·3 rows: bounded by construction
    return sort_bounded(
        emb.join(F.broadcast(probe), (F.col("label") == F.col("probe_label")) & (F.col("vec_id") != F.col("q_id")))
        .withColumn("cosine", F.round(_cosine("qv", "v"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("q_id", "probe_label", F.col("vec_id").alias("neighbor_id"), "cosine", "rank"),
        "q_id",
        "rank",
    )


IVF_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pos AS (
  SELECT label, i AS pos, v[i] AS x
  FROM v, unnest(generate_series(1, {DIM})) AS t(i)
),
centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv
  FROM (SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos)
  GROUP BY label
),
q AS (
  SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}
),
probe AS (
  SELECT q_id, qv, c_label AS probe_label
  FROM (
    SELECT q.q_id, q.qv, c.c_label,
      ROW_NUMBER() OVER (
        PARTITION BY q.q_id
        ORDER BY ROUND(
          {_safe_cos(DOT_SQL.format(a="q.qv", b="c.cv", dim=DIM), NORM_SQL.format(a="q.qv", dim=DIM) + " * " + NORM_SQL.format(a="c.cv", dim=DIM))},
        6) DESC, c.c_label ASC
      ) AS c_rank
    FROM q CROSS JOIN centroids c
  )
  WHERE c_rank = 1
),
scored AS (
  SELECT
    p.q_id, p.probe_label, v.vec_id AS neighbor_id,
    ROUND(
      {_safe_cos(DOT_SQL.format(a="p.qv", b="v.v", dim=DIM), NORM_SQL.format(a="p.qv", dim=DIM) + " * " + NORM_SQL.format(a="v.v", dim=DIM))},
    6) AS cosine
  FROM probe p
  JOIN v ON v.label = p.probe_label AND v.vec_id <> p.q_id
),
ranked AS (
  SELECT q_id, probe_label, neighbor_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, probe_label, neighbor_id, cosine, rank
FROM ranked
WHERE rank <= 3
ORDER BY q_id, rank
"""


def lsh_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: 8 deterministic hyperplanes
    (md5-derived ±1 per (plane, dim)), 8-bit sign bucket per vector,
    bucket histogram. The equi-join on bucket is the ANN candidate
    generator at scale."""
    emb = _as_double(load_table(spark, "embeddings", sf_dir))
    # hyperplane(p)[i] = +1 if md5('p_i') first hex nibble >= 8 else -1
    # hex nibble >= 8 ⇔ first md5 hex char in {8,9,a..f} ⇔ ascii >= 56
    # (digits '0'-'7' are 48-55; '8','9' are 56,57; 'a'-'f' are 97+)
    sign = (
        "transform(sequence(1, 64), i -> "
        "CASE WHEN ascii(substring(md5(cast(concat('{p}_', i) as binary)), 1, 1)) >= 56 "
        "THEN cast(1.0 as double) ELSE cast(-1.0 as double) END)"
    )
    bucket = None
    for p in range(8):
        plane = sign.format(p=p)
        bit = F.when(
            F.expr(DOT.format(a="v", b=plane)) > 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return (
        emb.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


def _plane_sql(p: int) -> str:
    return (
        f"list_transform(generate_series(1, 64), i -> "
        f"CASE WHEN ascii(substr(md5('{p}_' || i), 1, 1)) >= 56 "
        f"THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
    )


LSH_BUCKETS_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
bucketed AS (
  SELECT vec_id,
    {" + ".join(
      f"(CASE WHEN {DOT_SQL.format(a='v', b=_plane_sql(p), dim=64)} > 0"
      f" THEN {1 << p} ELSE 0 END)"
      for p in range(8)
    )} AS bucket
  FROM v
)
SELECT bucket, COUNT(*) AS n_vectors
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric max-abs int8 quantization of the embedding column —
    the storage/bandwidth op an embedding pipeline runs before writing
    a 100 TB vector corpus (4× smaller than float32, 8× than float64).

    Purely per-row (no shuffle, no UDF): higher-order array functions
    keep it in whole-stage codegen. The element rounding uses
    floor(x*scale+0.5) — the same IEEE sequence on both engines —
    instead of ROUND, whose half-way semantics differ between Spark
    and DuckDB.
    """
    emb = load_table(spark, "embeddings", sf_dir)
    as_double = "transform(embedding, x -> cast(x as double))"
    maxabs = f"greatest(aggregate({as_double}, cast(0.0 as double), (acc, x) -> greatest(acc, abs(x))), cast(1e-12 as double))"
    scale = f"(127.0 / {maxabs})"
    # emitted as a CSV string, not array<int>: raw arrays round-trip
    # through pandas as list-vs-ndarray depending on Arrow settings,
    # which breaks str()-based result hashing across engines
    qvec = (
        f"concat_ws(',', transform({as_double},"
        f" x -> cast(cast(floor(x * {scale} + 0.5) as int) as string)))"
    )
    return emb.select(
        "vec_id",
        F.expr(qvec).alias("qvec_csv"),
        F.round(F.expr(scale), 6).alias("scale"),
    ).orderBy("vec_id")


QUANTIZE_ORACLE = f"""
WITH scaled AS (
  SELECT
    vec_id,
    127.0 / greatest(
      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
      1e-12) AS scale
  FROM embeddings
)
SELECT
  e.vec_id AS vec_id,
  array_to_string(list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT)), ',') AS qvec_csv,
  ROUND(scale, 6) AS scale
FROM embeddings e
JOIN scaled s ON e.vec_id = s.vec_id
ORDER BY e.vec_id
"""


def _micro_means(df: DataFrame, key: str) -> DataFrame:
    """(key, cv): the mean of the ``v`` arrays of each ``key`` group.
    Components go through integer micro-unit sums, not avg(): a double
    SUM is fold-order-dependent (Spark partial aggs vs DuckDB's scan
    order), and a 1-ulp drift flips ROUND at the 1e-6 boundary.
    Integer sums commute exactly."""
    return (
        df.select(key, F.posexplode("v").alias("pos", "x"))
        .groupBy(key, "pos")
        .agg(
            F.sum(F.floor(F.col("x") * 1_000_000 + F.lit(0.5)).cast("long")).alias("sm"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("c", F.col("sm") / F.col("n") / F.lit(1_000_000.0))
        .groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(key, F.expr("transform(pc, s -> s.c)").alias("cv"))
    )


def _nearest_centroid(
    vecs: DataFrame, centroids: DataFrame, keys: tuple[str, ...], payload: Column, micro: str
) -> DataFrame:
    """E-step: (*keys, best, micro) — per ``keys`` group of ``vecs``
    (``v``), the ``payload`` of its nearest ``centroids`` row
    (c_label, cv) by cosine, and that cosine as micro-units.

    ``micro`` is the ONLY discretization: FLOOR on the raw double
    (identical IEEE op in both engines). No intermediate ROUND —
    Spark's BigDecimal half-up and DuckDB's float rounding disagree
    on boundary doubles (see duckdb-spark parity discipline).
    The pick is a max_by, not a row_number window (round 11, guide
    §2.1): the K candidate rows per group are co-located after the
    broadcast cross join, so the partial max_by collapses them
    map-side BEFORE the exchange — group-width shuffle. (Spark plans
    this max_by as a SortAggregate, so both sides still sort by the
    group keys.) Key (micro, -c_label) is unique per group (labels
    distinct) ⇒ identical pick to ORDER BY micro DESC, c_label ASC
    LIMIT 1."""
    return (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn(micro, F.floor(_cosine("v", "cv") * 1_000_000 + F.lit(0.5)).cast("long"))
        .groupBy(*keys)
        .agg(
            F.max_by(payload, F.struct(F.col(micro), (-F.col("c_label")).alias("nl"))).alias(
                "best"
            ),
            F.max(micro).alias(micro),
        )
    )


def centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means E-step over the full corpus: every vector is assigned
    to its nearest per-label mean centroid (cosine), emitting the
    true-label × assigned-centroid confusion matrix with mean
    assignment cosine — the building block of Lloyd iterations and of
    IVF index construction.

    Scale: the centroid table is K rows → broadcast; the corpus is
    scanned exactly once and never self-joined. Mean cosine is
    aggregated as integer micro-units (floor(x·1e6+0.5)) so the
    group-sum is order-independent — the cross-engine discipline for
    averaging floats under hash comparison.
    """
    emb = _as_double(load_table(spark, "embeddings", sf_dir))
    centroids = _micro_means(emb, "label").withColumnRenamed("label", "c_label")
    assigned = _nearest_centroid(
        emb, centroids, ("vec_id", "label"), F.col("c_label"), "cos_micro"
    )
    # labels² rows at most: bounded by construction
    return sort_bounded(
        assigned.groupBy("label", F.col("best").alias("assigned_label"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("cos_micro").alias("sum_cos_micro"),
        )
        .withColumn(
            "avg_cosine",
            F.floor(
                F.col("sum_cos_micro") / F.col("n_vectors") + F.lit(0.5)
            ).cast("long")
            / F.lit(1_000_000.0),
        )
        .select("label", "assigned_label", "n_vectors", "avg_cosine"),
        "label",
        "assigned_label",
    )


CENTROID_ASSIGN_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pos AS (
  SELECT label, i AS pos, v[i] AS x
  FROM v, unnest(generate_series(1, {DIM})) AS t(i)
),
centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv
  FROM (
    SELECT label, pos,
      CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1000000.0 AS c
    FROM pos GROUP BY label, pos
  )
  GROUP BY label
),
assigned AS (
  SELECT label, c_label, cos_micro
  FROM (
    SELECT v.label, c.c_label,
      CAST(FLOOR(
        {_safe_cos(DOT_SQL.format(a="v.v", b="c.cv", dim=DIM), NORM_SQL.format(a="v.v", dim=DIM) + " * " + NORM_SQL.format(a="c.cv", dim=DIM))}
        * 1000000 + 0.5
      ) AS BIGINT) AS cos_micro,
      ROW_NUMBER() OVER (
        PARTITION BY v.vec_id ORDER BY CAST(FLOOR(
          {_safe_cos(DOT_SQL.format(a="v.v", b="c.cv", dim=DIM), NORM_SQL.format(a="v.v", dim=DIM) + " * " + NORM_SQL.format(a="c.cv", dim=DIM))}
          * 1000000 + 0.5
        ) AS BIGINT) DESC, c.c_label ASC
      ) AS rnk
    FROM v CROSS JOIN centroids c
  )
  WHERE rnk = 1
)
SELECT label, c_label AS assigned_label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(FLOOR(
         CAST(SUM(cos_micro) AS DOUBLE) / COUNT(*) + 0.5
       ) AS BIGINT) / 1000000.0 AS avg_cosine
FROM assigned
GROUP BY label, c_label
ORDER BY label, assigned_label
"""


def ivf_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF approximate search against the brute-force
    exact top-k — the evaluation every ANN deployment owes its users
    (speed is meaningless without a recall number).

    Both sides are this module's own deterministic operators, so the
    metric itself is deterministic. Fully oracled since round 6:
    ``IVF_RECALL_ORACLE`` composes the long-green brute-force and IVF
    oracle CTEs and recomputes |IVF ∩ exact| / k per query in SQL.

    Scale: joins two per-query top-k tables (k rows per query each) —
    evaluation cost is query-bounded, not corpus-bounded.
    """
    # queries×k rows, but TWO consumers (the k counts and the
    # intersection) — unpersisted, the whole brute-force corpus scan
    # re-derives per consumer
    exact = (
        cosine_topk_bruteforce(spark, sf_dir)
        .select("q_id", F.col("neighbor_id").alias("hit"))
        .persist()
    )
    approx = ivf_topk(spark, sf_dir).select(
        "q_id", F.col("neighbor_id").alias("hit")
    )
    k = exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("k"))
    inter = (
        exact.join(approx, ["q_id", "hit"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    per_q = (
        k.join(inter, "q_id", "left")
        .select(
            "q_id",
            "k",
            F.coalesce(F.col("n_match"), F.lit(0)).alias("n_match"),
        )
        .withColumn(
            "recall",
            F.floor(F.col("n_match") / F.col("k") * 1_000_000 + 0.5)
            / 1_000_000.0,
        )
    )
    return sort_bounded(per_q, "q_id")  # one row per query


# Composed from the long-green COSINE_TOPK_ORACLE and IVF_TOPK_ORACLE
# CTE chains (exact arm rank <= TOP_K, IVF arm rank <= 3 — the same
# cuts the Spark operators apply), then recall per query in SQL.
IVF_RECALL_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}
),
exact_scored AS (
  SELECT
    q.q_id,
    v.vec_id AS neighbor_id,
    ROUND(
      {_safe_cos(DOT_SQL.format(a="q.qv", b="v.v", dim=DIM), NORM_SQL.format(a="q.qv", dim=DIM) + " * " + NORM_SQL.format(a="v.v", dim=DIM))},
    6) AS cosine
  FROM q JOIN v ON v.vec_id <> q.q_id
),
exact_top AS (
  SELECT q_id, neighbor_id FROM (
    SELECT q_id, neighbor_id,
      ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank
    FROM exact_scored
  ) WHERE rank <= {TOP_K}
),
pos AS (
  SELECT label, i AS pos, v[i] AS x
  FROM v, unnest(generate_series(1, {DIM})) AS t(i)
),
centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv
  FROM (SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos)
  GROUP BY label
),
probe AS (
  SELECT q_id, qv, c_label AS probe_label
  FROM (
    SELECT q.q_id, q.qv, c.c_label,
      ROW_NUMBER() OVER (
        PARTITION BY q.q_id
        ORDER BY ROUND(
          {_safe_cos(DOT_SQL.format(a="q.qv", b="c.cv", dim=DIM), NORM_SQL.format(a="q.qv", dim=DIM) + " * " + NORM_SQL.format(a="c.cv", dim=DIM))},
        6) DESC, c.c_label ASC
      ) AS c_rank
    FROM q CROSS JOIN centroids c
  )
  WHERE c_rank = 1
),
approx_top AS (
  SELECT q_id, neighbor_id FROM (
    SELECT
      p.q_id, v.vec_id AS neighbor_id,
      ROW_NUMBER() OVER (
        PARTITION BY p.q_id
        ORDER BY ROUND(
          {_safe_cos(DOT_SQL.format(a="p.qv", b="v.v", dim=DIM), NORM_SQL.format(a="p.qv", dim=DIM) + " * " + NORM_SQL.format(a="v.v", dim=DIM))},
        6) DESC, v.vec_id ASC
      ) AS rank
    FROM probe p
    JOIN v ON v.label = p.probe_label AND v.vec_id <> p.q_id
  ) WHERE rank <= 3
),
k AS (
  SELECT q_id, CAST(COUNT(*) AS BIGINT) AS k FROM exact_top GROUP BY q_id
),
inter AS (
  SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_match
  FROM exact_top e
  JOIN approx_top a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.q_id
)
SELECT
  k.q_id,
  k.k,
  COALESCE(i.n_match, 0) AS n_match,
  CAST(FLOOR(COALESCE(i.n_match, 0) / k.k * 1000000 + 0.5) AS BIGINT)
    / 1000000.0 AS recall
FROM k LEFT JOIN inter i ON i.q_id = k.q_id
ORDER BY k.q_id
"""


# PQ geometry: 64-dim vectors → 8 subspaces × 8 dims; codebook per
# subspace = per-label mean subvector (deterministic stand-in for a
# trained k-means codebook — k = |labels|)
PQ_SUBSPACES = 8
PQ_SUBDIM = 8


def _pq_cells(emb: DataFrame) -> DataFrame:
    """(vec_id, label, dim, sub, x_int): embeddings exploded to
    micro-unit integers with their subspace key — the shared first
    step of PQ encode and ADC search."""
    return (
        emb.select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("dim", "x"),
        )
        .withColumn(
            "x_int",
            F.floor(F.col("x").cast("double") * 1_000_000 + 0.5).cast("bigint"),
        )
        .withColumn("sub", (F.col("dim") / PQ_SUBDIM).cast("int"))
    )


def _pq_centroids(cells: DataFrame) -> DataFrame:
    """(cand_label, sub, dim, c_int): per-label mean subvectors as
    once-rounded micro-unit integers (floor((2s+n)/2n)) — the
    deterministic codebook shared by encode and search."""
    return (
        cells.groupBy(F.col("label").alias("cand_label"), "sub", "dim")
        .agg(F.sum("x_int").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "c_int",
            F.floor((2.0 * F.col("s") + F.col("n")) / (2.0 * F.col("n"))).cast(
                "bigint"
            ),
        )
        .select("cand_label", "sub", "dim", "c_int")
    )


def _sq_sum(a: str, b: str) -> Column:
    """BIGINT sum of squared differences of two micro-unit columns —
    every PQ distance; no float accumulation anywhere."""
    return F.sum((F.col(a) - F.col(b)) * (F.col(a) - F.col(b)))


def _pq_nearest(cells: DataFrame, centroids: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(dists, codes): the subspace-distance table (vec_id, sub,
    cand_label, dist) of every subvector to every codebook centroid,
    and its per-(vec_id, sub) argmin (vec_id, sub, best, code) —
    ``best`` = min struct(dist, cand_label), so ties break by label,
    and ``code`` = its label. A caller that needs the corpus shuffled
    once by vec_id passes ``cells.repartition("vec_id")``."""
    dists = (
        cells.join(F.broadcast(centroids), ["sub", "dim"])
        .groupBy("vec_id", "sub", "cand_label")
        .agg(_sq_sum("x_int", "c_int").alias("dist"))
    )
    codes = (
        dists.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("dist", "cand_label")).alias("best"))
        .withColumn("code", F.col("best.cand_label"))
    )
    return dists, codes


def _pq_lut(cells: DataFrame, centroids: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(qcells, lut): the first N_QUERIES vectors' cells (q_id, sub,
    dim, q_int) and their ADC lookup table (q_id, sub, code, qdist) —
    the RAW query subvector's distance to EVERY centroid (that is the
    "asymmetric" in ADC: queries are never quantized)."""
    qcells = cells.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "sub", "dim", F.col("x_int").alias("q_int")
    )
    lut = (
        qcells.join(F.broadcast(centroids), ["sub", "dim"])
        .groupBy("q_id", "sub", F.col("cand_label").alias("code"))
        .agg(_sq_sum("q_int", "c_int").alias("qdist"))
    )
    return qcells, lut


def _pq_adc(codes: DataFrame, lut: DataFrame) -> DataFrame:
    """(q_id, vec_id, adc_dist): every corpus code word scored against
    the broadcast LUT — the sum of its subspaces' query distances —
    the query itself excluded."""
    return (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("qdist").alias("adc_dist"))
    )


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the IVF-PQ building block): split each
    64-dim embedding into 8 subspaces, quantize every subvector to the
    nearest codebook centroid, and report the 8-code word plus the
    total reconstruction error. Codebooks here are the per-label mean
    subvectors — deterministic, so the whole encode is oracle-exact;
    swapping in k-means codebooks changes only the centroid input.

    Exactness discipline: embeddings are lifted to micro-units
    (``floor(x·1e6 + 0.5)`` — float32→double is exact), centroids are
    rationals rounded once to micro-units via
    ``floor((2s + n) / 2n)``, and every distance is a BIGINT sum of
    squared integer differences — no float accumulation anywhere, so
    argmin ties break identically (then by label id) on both engines.

    Scale: the assignment join is (vectors × k) per subspace — the
    canonical PQ-encode cost, shuffled on the subspace key with the
    k·d codebook broadcast; at 10⁹ vectors this is the embarrassingly
    parallel pass ANN indexes pay once at build time. Encoded codes
    are 8 small ints per vector — the 64× compression that makes
    billion-scale ANN RAM-resident.
    """
    cells = _pq_cells(load_table(spark, "embeddings", sf_dir))
    _, assigned = _pq_nearest(cells, _pq_centroids(cells))
    return (
        assigned.groupBy("vec_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sub", F.col("best.cand_label").alias("c")))
                    ),
                    lambda s: s["c"].cast("string"),
                ),
            ).alias("code"),
            F.sum("best.dist").alias("recon_err"),
        )
        .orderBy("vec_id")
    )


PQ_ENCODE_ORACLE = f"""
WITH cells AS (
  SELECT
    vec_id,
    label,
    CAST(d.i - 1 AS INTEGER) AS dim,
    CAST((d.i - 1) // {PQ_SUBDIM} AS INTEGER) AS sub,
    CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      AS x_int
  FROM embeddings,
       (SELECT unnest(generate_series(1, {PQ_SUBSPACES * PQ_SUBDIM})) AS i) d
),
centroids AS (
  SELECT label AS cand_label, sub, dim,
         CAST(FLOOR((2.0 * SUM(x_int) + COUNT(*)) / (2.0 * COUNT(*)))
           AS BIGINT) AS c_int
  FROM cells
  GROUP BY label, sub, dim
),
dists AS (
  SELECT c.vec_id, c.sub, ct.cand_label,
         SUM((c.x_int - ct.c_int) * (c.x_int - ct.c_int)) AS dist
  FROM cells c
  JOIN centroids ct ON ct.sub = c.sub AND ct.dim = c.dim
  GROUP BY c.vec_id, c.sub, ct.cand_label
),
assigned AS (
  SELECT vec_id, sub, cand_label, dist,
         row_number() OVER (
           PARTITION BY vec_id, sub ORDER BY dist, cand_label
         ) AS rn
  FROM dists
)
SELECT
  vec_id,
  string_agg(CAST(cand_label AS VARCHAR), ',' ORDER BY sub) AS code,
  CAST(SUM(dist) AS BIGINT) AS recon_err
FROM assigned
WHERE rn = 1
GROUP BY vec_id
ORDER BY vec_id
"""


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: the SEARCH half of product
    quantization (:func:`pq_encode` is the build half) — the scan
    shape behind every billion-vector ANN index (IVF-PQ / FAISS): the
    corpus is touched only through its 8-code words; raw query-to-
    centroid distances live in a tiny per-query lookup table.

    Shape: corpus codes (vec_id, sub, code) join the BROADCAST LUT
    (q_id, sub, code, qdist — |queries|·subspaces·k rows of index
    metadata), partial-sum map-side, one shuffle of pre-combined
    (q_id, vec_id) rows, then the salted two-stage rank
    (:func:`_salted_topk`) so top-k parallelism follows the
    corpus. Compare: exact search moves |corpus|·d floats; ADC moves
    |corpus| code words and |queries|·k·d LUT integers. At >>1000
    queries the LUT stops being a join side and becomes a
    register-resident array inside a vectorized (Arrow) UDF — same
    algebra, documented as the batch-serving variant.

    Exactness: identical micro-unit integer discipline as pq_encode —
    every distance is a BIGINT sum of squared integer differences;
    ties break by (dist, code) at assignment and (dist, vec_id) at
    ranking on both engines. No floats anywhere.
    """
    cells = _pq_cells(load_table(spark, "embeddings", sf_dir))
    centroids = _pq_centroids(cells)
    # corpus side: nearest-centroid code per (vec_id, sub) — exactly
    # pq_encode's assignment (the index build this search runs against).
    # REPARTITION-ONCE-BY-vec_id (round-10 sf1 stage audit): hash(vec_id)
    # satisfies the clustering of EVERY downstream aggregation —
    # (vec_id, sub, cand_label), (vec_id, sub), and the scored
    # (q_id, vec_id) — so Catalyst elides all three exchanges and each
    # map-side combine finishes (one row per group). Without it, a
    # vector's 8 sub rows land in 8 partitions after the (vec_id, sub)
    # agg and the scored partial-agg emitted ~6.5 rows per group at
    # sf1 (measured: the scored stage wrote 1.29M rows for 200k
    # groups; shuffle factor 19x on 10x data → ~10x after the fix).
    _, codes = _pq_nearest(cells.repartition("vec_id"), centroids)
    _, lut = _pq_lut(cells, centroids)
    # N_QUERIES·TOP_K rows: bounded by construction
    return sort_bounded(
        _salted_topk(_pq_adc(codes, lut), "adc_dist", descending=False), "q_id", "rank"
    )


PQ_ADC_TOPK_ORACLE = f"""
WITH cells AS (
  SELECT
    vec_id,
    label,
    CAST(d.i - 1 AS INTEGER) AS dim,
    CAST((d.i - 1) // {PQ_SUBDIM} AS INTEGER) AS sub,
    CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      AS x_int
  FROM embeddings,
       (SELECT unnest(generate_series(1, {PQ_SUBSPACES * PQ_SUBDIM})) AS i) d
),
centroids AS (
  SELECT label AS cand_label, sub, dim,
         CAST(FLOOR((2.0 * SUM(x_int) + COUNT(*)) / (2.0 * COUNT(*)))
           AS BIGINT) AS c_int
  FROM cells
  GROUP BY label, sub, dim
),
cdists AS (
  SELECT c.vec_id, c.sub, ct.cand_label,
         SUM((c.x_int - ct.c_int) * (c.x_int - ct.c_int)) AS dist
  FROM cells c
  JOIN centroids ct ON ct.sub = c.sub AND ct.dim = c.dim
  GROUP BY c.vec_id, c.sub, ct.cand_label
),
codes AS (
  SELECT vec_id, sub, cand_label AS code
  FROM (
    SELECT vec_id, sub, cand_label,
           row_number() OVER (
             PARTITION BY vec_id, sub ORDER BY dist, cand_label
           ) AS rn
    FROM cdists
  )
  WHERE rn = 1
),
lut AS (
  SELECT c.vec_id AS q_id, c.sub, ct.cand_label AS code,
         SUM((c.x_int - ct.c_int) * (c.x_int - ct.c_int)) AS qdist
  FROM cells c
  JOIN centroids ct ON ct.sub = c.sub AND ct.dim = c.dim
  WHERE c.vec_id < {N_QUERIES}
  GROUP BY c.vec_id, c.sub, ct.cand_label
),
scored AS (
  SELECT l.q_id, k.vec_id, CAST(SUM(l.qdist) AS BIGINT) AS adc_dist
  FROM codes k
  JOIN lut l ON l.sub = k.sub AND l.code = k.code
  WHERE k.vec_id <> l.q_id
  GROUP BY l.q_id, k.vec_id
)
SELECT q_id, vec_id AS neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (
           PARTITION BY q_id ORDER BY adc_dist, vec_id
         ) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


def pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ asymmetric-distance search against EXACT
    integer L2 — the accuracy side of the 64x code compression, per
    query: overlap between the ADC top-``TOP_K`` and the exact
    top-``TOP_K`` (identical (dist, vec_id) tie-breaks), as
    (q_id, n_overlap, recall_micro). The companion evaluator to
    :func:`pq_adc_topk`, same role as ``sim_ivf_recall`` /
    ``sim_matryoshka_recall``: the approximation is deployed WITH its
    measured cost, never on faith. (On the driver's random synthetic
    embeddings, 8-code ADC recalls 0-2 of the exact top-5 — random
    vectors are the worst case for coarse codes, and queries with
    zero overlap produce no row on either engine; the measurement
    being honest IS the product, as with matryoshka.)

    Scale: the exact side is the expensive one (query-broadcast
    corpus scan) — at 100 TB this evaluator runs on an eval SLICE
    (first N_QUERIES here), exactly how production ANN recall is
    monitored; the ADC side reuses the code+LUT chain. Both sides are
    BIGINT sums of squared micro-int differences — no floats, so the
    rankings are bit-deterministic cross-engine.
    """
    cells = _pq_cells(load_table(spark, "embeddings", sf_dir))
    # codebook training scans the corpus; persisted because both the
    # code-assignment join and the query LUT join consume it
    centroids = _pq_centroids(cells).persist()
    qcells, lut = _pq_lut(cells, centroids)
    # exact integer L2^2 per (query, corpus vector)
    exact = (
        cells.join(F.broadcast(qcells), ["sub", "dim"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(_sq_sum("x_int", "q_int").alias("ed"))
    )
    we = W.partitionBy("q_id").orderBy(F.col("ed").asc(), F.col("vec_id").asc())
    exact_top = (
        exact.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id")
    )

    # ADC side: the same codes + broadcast LUT chain as pq_adc_topk
    _, codes = _pq_nearest(cells, centroids)
    wa = W.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    adc_top = (
        _pq_adc(codes, lut).withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id")
    )

    # one row per query: bounded by construction
    return sort_bounded(
        exact_top.join(adc_top, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .withColumn(
            "recall_micro",
            F.floor(F.col("n_overlap") * 1000000 / TOP_K + F.lit(0.5)).cast("long"),
        ),
        "q_id",
    )


PQ_ADC_RECALL_ORACLE = f"""
WITH cells AS (
  SELECT
    vec_id,
    label,
    CAST(d.i - 1 AS INTEGER) AS dim,
    CAST((d.i - 1) // {PQ_SUBDIM} AS INTEGER) AS sub,
    CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      AS x_int
  FROM embeddings,
       (SELECT unnest(generate_series(1, {PQ_SUBSPACES * PQ_SUBDIM})) AS i) d
),
centroids AS (
  SELECT label AS cand_label, sub, dim,
         CAST(FLOOR((2.0 * SUM(x_int) + COUNT(*)) / (2.0 * COUNT(*)))
           AS BIGINT) AS c_int
  FROM cells
  GROUP BY label, sub, dim
),
qcells AS (
  SELECT vec_id AS q_id, sub, dim, x_int AS q_int
  FROM cells WHERE vec_id < {N_QUERIES}
),
exact AS (
  SELECT q.q_id, c.vec_id, SUM((c.x_int - q.q_int) * (c.x_int - q.q_int)) AS ed
  FROM cells c JOIN qcells q ON q.sub = c.sub AND q.dim = c.dim
  WHERE c.vec_id <> q.q_id
  GROUP BY q.q_id, c.vec_id
),
exact_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
      row_number() OVER (PARTITION BY q_id ORDER BY ed, vec_id) AS rk
    FROM exact
  ) WHERE rk <= {TOP_K}
),
cdists AS (
  SELECT c.vec_id, c.sub, ct.cand_label,
         SUM((c.x_int - ct.c_int) * (c.x_int - ct.c_int)) AS dist
  FROM cells c JOIN centroids ct ON ct.sub = c.sub AND ct.dim = c.dim
  GROUP BY c.vec_id, c.sub, ct.cand_label
),
codes AS (
  SELECT vec_id, sub, cand_label AS code
  FROM (
    SELECT vec_id, sub, cand_label,
           row_number() OVER (
             PARTITION BY vec_id, sub ORDER BY dist, cand_label
           ) AS rn
    FROM cdists
  )
  WHERE rn = 1
),
lut AS (
  SELECT q.q_id, q.sub, ct.cand_label AS code,
         SUM((q.q_int - ct.c_int) * (q.q_int - ct.c_int)) AS qdist
  FROM qcells q JOIN centroids ct ON ct.sub = q.sub AND ct.dim = q.dim
  GROUP BY q.q_id, q.sub, ct.cand_label
),
adc AS (
  SELECT l.q_id, k.vec_id, SUM(l.qdist) AS ad
  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
  WHERE k.vec_id <> l.q_id
  GROUP BY l.q_id, k.vec_id
),
adc_top AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
      row_number() OVER (PARTITION BY q_id ORDER BY ad, vec_id) AS rk
    FROM adc
  ) WHERE rk <= {TOP_K}
)
SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_overlap,
  CAST(FLOOR(COUNT(*) * 1000000 / {TOP_K} + 0.5) AS BIGINT) AS recall_micro
FROM exact_top e JOIN adc_top a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
GROUP BY e.q_id
ORDER BY e.q_id
"""


def mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum inner-product search (MIPS) top-k: the retrieval
    semantics of recommendation scoring (user·item), distinct from
    cosine — a long vector can win on raw dot product while losing on
    angle. First N_QUERIES vectors as queries against the corpus.

    Scale: identical skeleton to the cosine sibling (broadcast query
    side, one corpus scan, per-query window top-k). The approximate
    path at 100 TB is the published MIPS→cosine reduction: augment
    each corpus vector with sqrt(M² − ‖x‖²) (M = max corpus norm) and
    queries with 0 — inner-product order becomes cosine order on the
    augmented vectors, so the existing hyperplane-LSH bucketing
    (:func:`lsh_hyperplane_buckets`) serves MIPS unchanged. This
    exact variant is the oracle-checkable contrast.
    """
    emb, queries = _corpus_and_queries(spark, sf_dir)
    queries = queries.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    scored = emb.join(
        F.broadcast(queries), F.col("vec_id") != F.col("q_id")
    ).withColumn("dot", F.round(F.expr(DOT.format(a="qv", b="v")), 6))
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    # N_QUERIES·TOP_K rows: bounded by construction
    return sort_bounded(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "dot", "rank"),
        "q_id",
        "rank",
    )


MIPS_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT
    q.q_id,
    v.vec_id AS neighbor_id,
    ROUND({DOT_SQL.format(a="q.qv", b="v.v", dim=DIM)}, 6) AS dot
  FROM q JOIN v ON v.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, dot,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY dot DESC, neighbor_id ASC
    ) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, neighbor_id, dot, rank
FROM ranked
WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction (k = TOP_K) for the first N_QUERIES
    vectors: cosine neighbors vote, majority label wins
    (ties break to the lexicographically smaller label) — the
    classifier every embedding store exposes as a primitive.

    Scale: the same broadcast-query / single-corpus-scan / windowed
    top-k skeleton as the cosine search; the vote is a TOP_K-row
    groupBy per query (map-side combinable) and one more tiny window
    over ≤k rows per query to pick the winner.
    """
    emb, queries = _corpus_and_queries(spark, sf_dir, _with_norm)
    queries = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    neighbors = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", F.round(_cosine("qv", "v", "qn", "vn"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )
    votes = neighbors.groupBy("q_id", "q_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = W.partitionBy("q_id").orderBy(F.col("n_votes").desc(), F.col("label").asc())
    # one row per query: bounded by construction
    return sort_bounded(
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            "q_label",
            F.col("label").alias("pred_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
            (F.col("label") == F.col("q_label")).alias("correct"),
        ),
        "q_id",
    )


KNN_CLASSIFY_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, label AS q_label, v AS qv
  FROM v WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, q.q_label, v.vec_id, v.label,
    ROUND(
      {_safe_cos(DOT_SQL.format(a="q.qv", b="v.v", dim=DIM), NORM_SQL.format(a="q.qv", dim=DIM) + " * " + NORM_SQL.format(a="v.v", dim=DIM))},
    6) AS cosine
  FROM q JOIN v ON v.vec_id <> q.q_id
),
topk AS (
  SELECT * FROM (
    SELECT q_id, q_label, label,
      ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC
      ) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
),
votes AS (
  SELECT q_id, q_label, label, CAST(COUNT(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY q_id, q_label, label
)
SELECT q_id, q_label, label AS pred_label, n_votes,
  label = q_label AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY q_id ORDER BY n_votes DESC, label ASC
  ) AS vr
  FROM votes
) WHERE vr = 1
ORDER BY q_id
"""


MRL_DIM = 16


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: does the FIRST 16 of 64
    embedding dimensions preserve the cosine top-5? (The MRL
    deployment question — truncated prefixes buy 4x memory/compute
    at some recall cost; this measures that cost exactly.) Per
    query: overlap between the full-dim top-5 and the truncated-dim
    top-5, as recall@5.

    Scale: ONE broadcast-join pass over the corpus computes BOTH
    cosines (full and prefix) per candidate; two windows partitioned
    by query rank the two lists from the same candidate frame —
    never a second corpus scan. Integer-micro rounded cosines give
    deterministic cross-engine ranking.
    """
    emb, queries = _corpus_and_queries(
        spark,
        sf_dir,
        lambda df: _with_norm(df)
        .withColumn("vt", F.slice("v", 1, MRL_DIM))
        .withColumn("vtn", F.expr(NORM.format(a="vt"))),
    )
    queries = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
        F.col("vt").alias("qt"),
        F.col("vtn").alias("qtn"),
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        F.round(_cosine("qv", "v", "qn", "vn"), 6).alias("cf"),
        F.round(_cosine("qt", "vt", "qtn", "vtn"), 6).alias("ct"),
    )
    wf = W.partitionBy("q_id").orderBy(F.col("cf").desc(), F.col("vec_id").asc())
    wt = W.partitionBy("q_id").orderBy(F.col("ct").desc(), F.col("vec_id").asc())
    flagged = scored.select(
        "q_id",
        (F.row_number().over(wf) <= TOP_K).cast("long").alias("in_full"),
        (F.row_number().over(wt) <= TOP_K).cast("long").alias("in_trunc"),
    )
    # one row per query: bounded by construction
    return sort_bounded(
        flagged.groupBy("q_id")
        .agg(
            F.sum(F.col("in_full") * F.col("in_trunc"))
            .cast("int")
            .alias("n_overlap")
        )
        .select(
            "q_id",
            "n_overlap",
            F.round(F.col("n_overlap") / float(TOP_K), 6).alias("recall_at_5"),
        ),
        "q_id",
    )


MATRYOSHKA_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, v.vec_id,
    ROUND(
      {_safe_cos(DOT_SQL.format(a="q.qv", b="v.v", dim=DIM), NORM_SQL.format(a="q.qv", dim=DIM) + " * " + NORM_SQL.format(a="v.v", dim=DIM))},
    6) AS cf,
    ROUND(
      {_safe_cos(DOT_SQL.format(a="q.qv", b="v.v", dim=MRL_DIM), NORM_SQL.format(a="q.qv", dim=MRL_DIM) + " * " + NORM_SQL.format(a="v.v", dim=MRL_DIM))},
    6) AS ct
  FROM q JOIN v ON v.vec_id <> q.q_id
),
flagged AS (
  SELECT q_id,
    CASE WHEN ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY cf DESC, vec_id ASC) <= {TOP_K}
      THEN 1 ELSE 0 END AS in_full,
    CASE WHEN ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY ct DESC, vec_id ASC) <= {TOP_K}
      THEN 1 ELSE 0 END AS in_trunc
  FROM scored
)
SELECT q_id,
  CAST(SUM(in_full * in_trunc) AS INTEGER) AS n_overlap,
  ROUND(CAST(SUM(in_full * in_trunc) AS DOUBLE) / {TOP_K}, 6) AS recall_at_5
FROM flagged
GROUP BY q_id
ORDER BY q_id
"""


# --- IVF-PQ: coarse-pruned ADC search (the billion-scale composition) -------
IVFPQ_NPROBE = 2  # coarse lists probed per query


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the composition of :func:`ivf_topk`'s coarse
    pruning with :func:`pq_adc_topk`'s compressed-code scan, i.e. the
    actual billion-scale ANN architecture (FAISS IVFPQ): a coarse
    quantizer routes each query to its IVFPQ_NPROBE nearest inverted
    lists, and ADC distances are computed ONLY for vectors assigned to
    those lists — the scan touches |corpus| · nprobe/k_coarse code
    words instead of every code.

    Everything derives from ONE shared subspace-distance table
    (vec × sub × centroid, BIGINT micro-units): PQ codes are its
    per-sub argmin, the coarse assignment is its per-vector argmin of
    the SUM over subs (a full-dim L2 equals the sum of its subspace
    L2s), and the query-side coarse probe is the same sum over the ADC
    LUT — no second corpus scan for the coarse stage. FAISS encodes
    residuals (x − coarse centroid) before PQ; that changes only the
    cells input here and is documented, not modeled, to keep the
    codebook shared with pq_encode/pq_adc_topk.

    Scale: the LUT and probe tables are |queries|-bounded broadcasts;
    candidate generation is a broadcast semi-join on the list id; the
    only corpus-sized shuffles are the code assignment (the index
    build, paid once) and the pre-combined (q_id, vec_id) partial
    sums. Top-k uses the salted two-stage rank (:func:`_salted_topk`)
    so parallelism follows the corpus, never the query count.

    Exactness: BIGINT micro-unit discipline end-to-end; ties break by
    (dist, label) at both argmins, (coarse_dist, list) at the probe,
    and (adc_dist, vec_id) at the final rank — identical on both
    engines.
    """
    cells = _pq_cells(load_table(spark, "embeddings", sf_dir))
    # codebook training scans the corpus — persist so the two joins
    # below (corpus side + query side) reuse it instead of retraining
    centroids = _pq_centroids(cells).persist()

    # shared subspace-distance table: (vec_id, sub, cand_label, dist).
    # Deliberately NOT persisted: codes and the coarse assignment each
    # re-derive this corpus×codebook join, but both derivations are
    # narrow pipelined stages off the same scan — measured, persisting
    # the (corpus × subs × candidates) table costs more in
    # materialization than the second derivation (3.8 s vs 2.9 s at
    # sf0.1). The small frames (centroids, lut) are the right persists.
    # REPARTITION-ONCE-BY-vec_id (round-10 sf1 stage audit, same fix as
    # pq_adc_topk): hash(vec_id) satisfies the clustering of every
    # downstream aggregation (cdists, codes, coarse, scored) AND
    # co-partitions the cand⋈codes vec_id join — Catalyst elides all
    # those exchanges, and the one corpus shuffle is reused by both
    # derivations of cdists (ReusedExchange).
    cdists, codes = _pq_nearest(cells.repartition("vec_id"), centroids)
    # coarse assignment: argmin over labels of the full-dim distance
    # (= sum of the 8 subspace distances — no extra scan)
    coarse = (
        cdists.groupBy("vec_id", "cand_label")
        .agg(F.sum("dist").alias("cdist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("cdist", "cand_label")).alias("best"))
        .select("vec_id", F.col("best.cand_label").alias("list_id"))
    )
    _, lut = _pq_lut(cells, centroids)
    lut = lut.persist()  # |queries|-bounded; feeds the probe AND the ADC join
    # coarse probe: nprobe nearest lists per query, straight off the LUT
    wp = W.partitionBy("q_id").orderBy(
        F.col("coarse_dist").asc(), F.col("code").asc()
    )
    probe = (
        lut.groupBy("q_id", "code")
        .agg(F.sum("qdist").alias("coarse_dist"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= IVFPQ_NPROBE)
        .select("q_id", F.col("code").alias("list_id"))
    )
    # candidates = corpus vectors assigned to a probed list; ADC is
    # computed ONLY for these (the pruned scan)
    cand = coarse.join(F.broadcast(probe), "list_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["q_id", "sub", "code"])
        .groupBy("q_id", "vec_id", "list_id")
        .agg(F.sum("qdist").alias("adc_dist"))
    )
    # N_QUERIES·TOP_K rows: bounded by construction
    return sort_bounded(
        _salted_topk(scored, "adc_dist", descending=False, carry=("list_id",)).withColumn(
            "list_id", F.col("list_id").cast("long")
        ),
        "q_id",
        "rank",
    )


IVFPQ_TOPK_ORACLE = f"""
WITH cells AS (
  SELECT
    vec_id,
    label,
    CAST(d.i - 1 AS INTEGER) AS dim,
    CAST((d.i - 1) // {PQ_SUBDIM} AS INTEGER) AS sub,
    CAST(FLOOR(CAST(embedding[d.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      AS x_int
  FROM embeddings,
       (SELECT unnest(generate_series(1, {PQ_SUBSPACES * PQ_SUBDIM})) AS i) d
),
centroids AS (
  SELECT label AS cand_label, sub, dim,
         CAST(FLOOR((2.0 * SUM(x_int) + COUNT(*)) / (2.0 * COUNT(*)))
           AS BIGINT) AS c_int
  FROM cells
  GROUP BY label, sub, dim
),
cdists AS (
  SELECT c.vec_id, c.sub, ct.cand_label,
         SUM((c.x_int - ct.c_int) * (c.x_int - ct.c_int)) AS dist
  FROM cells c
  JOIN centroids ct ON ct.sub = c.sub AND ct.dim = c.dim
  GROUP BY c.vec_id, c.sub, ct.cand_label
),
codes AS (
  SELECT vec_id, sub, cand_label AS code
  FROM (
    SELECT vec_id, sub, cand_label,
           row_number() OVER (
             PARTITION BY vec_id, sub ORDER BY dist, cand_label
           ) AS rn
    FROM cdists
  )
  WHERE rn = 1
),
coarse AS (
  SELECT vec_id, cand_label AS list_id
  FROM (
    SELECT vec_id, cand_label,
           row_number() OVER (
             PARTITION BY vec_id ORDER BY SUM(dist), cand_label
           ) AS rn
    FROM cdists
    GROUP BY vec_id, cand_label
  )
  WHERE rn = 1
),
lut AS (
  SELECT c.vec_id AS q_id, c.sub, ct.cand_label AS code,
         SUM((c.x_int - ct.c_int) * (c.x_int - ct.c_int)) AS qdist
  FROM cells c
  JOIN centroids ct ON ct.sub = c.sub AND ct.dim = c.dim
  WHERE c.vec_id < {N_QUERIES}
  GROUP BY c.vec_id, c.sub, ct.cand_label
),
probe AS (
  SELECT q_id, code AS list_id
  FROM (
    SELECT q_id, code,
           row_number() OVER (
             PARTITION BY q_id ORDER BY SUM(qdist), code
           ) AS pr
    FROM lut
    GROUP BY q_id, code
  )
  WHERE pr <= {IVFPQ_NPROBE}
),
cand AS (
  SELECT p.q_id, c.vec_id, p.list_id
  FROM probe p
  JOIN coarse c ON c.list_id = p.list_id AND c.vec_id <> p.q_id
),
scored AS (
  SELECT a.q_id, a.vec_id, a.list_id,
         CAST(SUM(l.qdist) AS BIGINT) AS adc_dist
  FROM cand a
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN lut l ON l.q_id = a.q_id AND l.sub = k.sub AND l.code = k.code
  GROUP BY a.q_id, a.vec_id, a.list_id
)
SELECT q_id, vec_id AS neighbor_id, CAST(list_id AS BIGINT) AS list_id,
       adc_dist, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT q_id, vec_id, list_id, adc_dist,
         row_number() OVER (
           PARTITION BY q_id ORDER BY adc_dist, vec_id
         ) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------------
# RRF hybrid retrieval: lexical (BM25-family) + dense (cosine) fusion
# ---------------------------------------------------------------------------

RRF_K = 60          # the canonical reciprocal-rank-fusion constant
RRF_LIST_N = 50     # candidates kept per retrieval arm
RRF_TOP = 10        # fused results returned

# Per-(doc, term) lexical score: BM25's tf-saturation and doc-length
# normalization with a RATIONAL idf — (N - df + 0.5)/(df + 0.5), the
# argument of Lucene's ln(1 + ...) with the log dropped. The log is
# monotone per term but libm (not correctly rounded, the func_math
# lesson), and here the score feeds a RANK that feeds the fusion — a
# last-ulp flip would cascade. Every op below (+ - * /) is
# IEEE-correctly-rounded, and the expression TEXT is shared verbatim
# between F.expr and the oracle SQL, so both engines produce
# bit-identical doubles before the micro-quantization.
RRF_TERM_SCORE = (
    "((n_docs - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)"
    " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))"
)
RRF_TERM_MICRO = f"cast(floor(({RRF_TERM_SCORE}) * 1e6 + 0.5) as bigint)"


def rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard
    RAG serving pattern the registry's two arms were missing a roof
    over: a lexical ranker (`text_bm25_rank`'s saturation/length
    model) and a dense ranker (`sim_cosine_topk_bruteforce`'s exact
    cosine) each retrieve RRF_LIST_N candidates, and the fused score
    is RRF(d) = Σ_arms 1/(K + rank_arm(d)) over the candidate union
    (Cormack et al., SIGIR'09; reference analog: the correlation
    ranking of SURVEY §2.5 A7 is its single-signal cousin).

    Determinism: the fusion is computed in INTEGER nanos —
    ``1e9 div (K + rank)`` with integer ``div`` on both engines — so
    the fused ordering is exact, immune to float summation order.
    The lexical per-term score is micro-quantized (floor at 1e-6)
    per term and integer-summed, so term order cannot flip ranks.

    Scale: doc lengths come from ``size(split(...))`` — zero shuffle,
    and only the 16-byte-per-doc (doc_id, dl) frame is persisted for
    reuse (never the corpus-sized token explode); the explode exists
    only on the query-term path, where the broadcast term join prunes
    it immediately. Both arms end in TakeOrderedAndProject
    (per-partition top-N, never a global sort); the fusion operates
    on ≤ 2·RRF_LIST_N rows — constant, whatever the corpus size. The
    dense arm broadcasts the single query vector; at a 100 TB corpus
    the arm swaps to `sim_ivfpq_topk`'s probe-pruned scan with the
    same (doc_id, rank) contract.
    """
    # spread(): the local single-file scan would otherwise run both
    # the per-doc split/size pass and the token explode as ONE task
    # (round-11 stage evidence: three ~1.5 s single-task stages); on a
    # many-split cluster scan it is a no-op (see tables.spread)
    docs = spread(load_table(spark, "documents", sf_dir))

    from backend_model_spark.operators.scale_utils import broadcast_scalars
    from backend_model_spark.operators.text import BM25_QUERY_TERMS

    # Round-11 lexical arm (guide §4.1 + §2.4): the query carries
    # |BM25_QUERY_TERMS| = 3 FIXED terms, so the corpus-wide
    # explode→broadcast-join→groupBy(doc,term)→join(dl)→groupBy(doc)
    # chain collapses to ONE narrow pass: per doc, doc length and one
    # ``size(filter(toks, x -> x = term))`` occurrence count per term
    # (higher-order array functions, zero explode rows, zero joins,
    # zero aggregation exchanges). The persisted reusable frame is
    # 4+3·4 bytes/doc of ints — never text, never token rows. Per-term
    # BM25 doubles are the VERBATIM ``RRF_TERM_SCORE`` expression
    # (word-boundary substitution of tf/df/dl only), so every IEEE op
    # is unchanged; the doc score is the bigint micro sum over ≤3
    # terms — order-free. Membership is preserved exactly: a doc
    # enters the arm iff some tf > 0 (negative-idf common-term docs
    # included, as before), and absent terms contribute nothing.
    # Measured: 24 → 15 stages, docs scanned once. The general
    # many-terms form (text_bm25_rank) keeps the explode+join shape.
    import re as _re

    pc = docs.selectExpr(
        "doc_id",
        r"split(trim(text), '\\s+') as __toks",
    ).selectExpr(
        "doc_id",
        "size(__toks) as dl",
        *[
            f"size(filter(__toks, x -> x = '{t}')) as tf{i}"
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    ).persist()  # reused: scalars + the per-doc score pass
    scalars = pc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count_if(F.col(f"tf{i}") > 0).cast("double").alias(f"df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )

    def term_micro(i: int) -> str:
        # RRF_TERM_MICRO with tf/df bound to term i's columns; \b keeps
        # avgdl intact while rebinding the bare dl/tf/df names
        expr = _re.sub(r"\btf\b", f"tf{i}", RRF_TERM_MICRO)
        expr = _re.sub(r"\bdf\b", f"df{i}", expr)
        return f"(case when tf{i} > 0 then {expr} else cast(0 as bigint) end)"

    lex_micro = F.expr(
        " + ".join(term_micro(i) for i in range(len(BM25_QUERY_TERMS)))
    ).alias("lex_micro")
    has_term = F.expr(
        " OR ".join(f"tf{i} > 0" for i in range(len(BM25_QUERY_TERMS)))
    )
    lex_top = (
        broadcast_scalars(pc.filter(has_term), scalars)
        .select("doc_id", lex_micro)
        .orderBy(F.desc("lex_micro"), "doc_id")
        .limit(RRF_LIST_N)  # TakeOrderedAndProject: distributed top-N
    )
    from backend_model_spark.operators.scale_utils import with_global_rank

    # rank the (bounded) candidate lists via the two-stage global-rank
    # primitive; ``parts=1`` because each list is ≤ RRF_LIST_N rows BY
    # CONSTRUCTION (the limit precedes) — the single partition holds
    # O(1) rows at any corpus size, and skipping the range-sampling +
    # offsets machinery saves ~4 stages per arm (round-11 measurement)
    lex_ranked = with_global_rank(
        lex_top,
        [F.col("lex_micro").desc(), F.col("doc_id").asc()],
        "lex_rank",
        parts=1,
    ).select("doc_id", F.col("lex_rank").cast("int").alias("lex_rank"))

    raw = load_table(spark, "embeddings", sf_dir)
    emb = _with_norm(_as_double(raw))
    # the one-row broadcast query reads the raw scan (_corpus_and_queries)
    qv = _with_norm(_vectors(raw)).filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("vn").alias("qn")
    )
    dense_top = (
        emb.join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(_cosine("qv", "v", "qn", "vn"), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(RRF_LIST_N)
    )
    dense_ranked = with_global_rank(
        dense_top,
        [F.col("cosine").desc(), F.col("doc_id").asc()],
        "dense_rank",
        parts=1,
    ).select("doc_id", F.col("dense_rank").cast("int").alias("dense_rank"))

    fused = lex_ranked.join(dense_ranked, "doc_id", "outer").withColumn(
        "rrf_nano",
        F.expr(
            f"cast(coalesce(1000000000 div ({RRF_K} + lex_rank), 0)"
            f" + coalesce(1000000000 div ({RRF_K} + dense_rank), 0) as bigint)"
        ),
    )
    return (
        with_global_rank(
            fused,
            [F.col("rrf_nano").desc(), F.col("doc_id").asc()],
            "fused_rank",
            parts=1,  # union of two ≤ RRF_LIST_N lists — bounded
        )
        .withColumn("fused_rank", F.col("fused_rank").cast("int"))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            (F.col("rrf_nano") / F.lit(1e9)).alias("rrf"),
            "fused_rank",
        )
        .orderBy("fused_rank")
    )


RRF_HYBRID_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
scalars AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
),
terms(token) AS (VALUES ('data'), ('spark'), ('filter')),
qtok AS (SELECT t.doc_id, t.token FROM tok t JOIN terms USING (token)),
dfc AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM qtok GROUP BY 1
),
tfq AS (SELECT doc_id, token, COUNT(*) AS tf FROM qtok GROUP BY 1, 2),
cells AS (
  SELECT tfq.doc_id AS doc_id, tfq.tf AS tf, dfc.df AS df,
         dl.dl AS dl, s.n_docs AS n_docs, s.avgdl AS avgdl
  FROM tfq JOIN dfc USING (token) JOIN dl USING (doc_id) CROSS JOIN scalars s
),
lex_top AS (
  SELECT doc_id, CAST(SUM(CAST(FLOOR(({RRF_TERM_SCORE}) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS lex_micro
  FROM cells GROUP BY doc_id
  ORDER BY lex_micro DESC, doc_id LIMIT {RRF_LIST_N}
),
lex_ranked AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY lex_micro DESC, doc_id) AS INTEGER) AS lex_rank
  FROM lex_top
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
dense_top AS (
  SELECT v.vec_id AS doc_id,
    ROUND(
      {_safe_cos(DOT_SQL.format(a="q.qv", b="v.v", dim=DIM), NORM_SQL.format(a="q.qv", dim=DIM) + " * " + NORM_SQL.format(a="v.v", dim=DIM))},
    6) AS cosine
  FROM v CROSS JOIN q
  ORDER BY cosine DESC, doc_id LIMIT {RRF_LIST_N}
),
dense_ranked AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INTEGER) AS dense_rank
  FROM dense_top
),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
    CAST(COALESCE(1000000000 // ({RRF_K} + l.lex_rank), 0)
       + COALESCE(1000000000 // ({RRF_K} + d.dense_rank), 0) AS BIGINT) AS rrf_nano
  FROM lex_ranked l FULL OUTER JOIN dense_ranked d USING (doc_id)
)
SELECT doc_id, lex_rank, dense_rank,
       rrf_nano / 1e9 AS rrf,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_nano DESC, doc_id) AS INTEGER) AS fused_rank
FROM fused
QUALIFY fused_rank <= {RRF_TOP}
ORDER BY fused_rank
"""


# ---------------------------------------------------------------------------
# Deterministic k-means (Lloyd) trainer — the oracle-checked upgrade of
# the rows-only MLlib clustering entries
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_UPDATES = 2  # assign→update rounds before the final assignment

L2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " cast(0.0 as double), (acc, x) -> acc + x)"
)
L2_SQL = (
    "list_sum(list_transform(generate_series(1, {dim}),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means TRAINING by Lloyd's algorithm, bit-exact across
    engines — `sim_centroid_assign` is the E-step alone and the MLlib
    clustering entries are rows-only (random kmeans|| init); this
    entry makes the whole trainer oracle-checkable: deterministic
    init (the first K vectors), KMEANS_UPDATES assign→update rounds
    unrolled into the plan, and a final assignment summary (cluster
    sizes, exact integer inertia, mean within-cluster L2²).

    Determinism discipline (the repo's exact-centroid rules):
    assignment distances are micro-floored L2² (the fold order of the
    64-term sum is pinned by the shared expression shape); centroid
    means accumulate INTEGER micro-units (double sums are
    fold-order-dependent, integer sums commute); inertia is a BIGINT
    sum of the already-discretized per-vector distances.

    Scale: the corpus is persisted once and scanned once per
    iteration; centroids are K rows → broadcast cross join (corpus ×
    K, narrow); the argmin is a vec_id-partitioned window; updates
    are map-side-combinable (c_id, pos) aggregations. Iterations add
    plan depth, not shuffles of anything corpus-sized beyond the
    (c_id, pos) rollup. 2^53 ceiling note: sum_dist_micro stays exact
    below ~9e15 µ-units per cluster — at larger scale emit the sum
    split by power-of-two bucket or widen to decimal(38,0).
    """
    emb = (
        _as_double(load_table(spark, "embeddings", sf_dir))
        .select("vec_id", "v")
        .persist()
    )
    cent = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("c_id"), F.col("v").alias("cv")
    )
    dist_micro = F.floor(
        F.expr(L2.format(a="v", b="cv")) * 1_000_000 + F.lit(0.5)
    ).cast("long")

    def assign(c: DataFrame) -> DataFrame:
        w = W.partitionBy("vec_id").orderBy(
            F.col("dist_micro").asc(), F.col("c_id").asc()
        )
        return (
            emb.crossJoin(F.broadcast(c))
            .withColumn("dist_micro", dist_micro)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("vec_id", "v", "c_id", "dist_micro")
        )

    for _ in range(KMEANS_UPDATES):
        cent = _micro_means(assign(cent), "c_id")
    final = assign(cent)
    # KMEANS_K rows: bounded by construction
    return sort_bounded(
        final.groupBy("c_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("dist_micro").cast("bigint").alias("sum_dist_micro"),
        )
        .withColumn(
            "avg_dist",
            F.expr("floor(sum_dist_micro / n_vectors + 0.5) / 1e6"),
        ),
        "c_id",
    )


def _kmeans_sql() -> str:
    d = L2_SQL.format(a="v.v", b="c.cv", dim=DIM)
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS c_id, v AS cv"
        f" FROM v WHERE vec_id < {KMEANS_K})",
    ]

    def assign_ctes(an: str, cn: str) -> None:
        ctes.append(
            f"""{an}_d AS (
  SELECT v.vec_id, v.v, c.c_id,
    CAST(FLOOR(({d}) * 1000000 + 0.5) AS BIGINT) AS dist_micro
  FROM v CROSS JOIN {cn} c
)"""
        )
        ctes.append(
            f"""{an} AS (
  SELECT vec_id, v, c_id, dist_micro FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist_micro ASC, c_id ASC
    ) AS rnk FROM {an}_d
  ) WHERE rnk = 1
)"""
        )

    def update_ctes(cn: str, an: str) -> None:
        ctes.append(
            f"""{cn}_pos AS (
  SELECT c_id, i AS pos, v[i] AS x
  FROM {an}, unnest(generate_series(1, {DIM})) AS t(i)
)"""
        )
        ctes.append(
            f"""{cn}_agg AS (
  SELECT c_id, pos,
    CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sm,
    COUNT(*) AS n
  FROM {cn}_pos GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"{cn} AS (SELECT c_id, list(sm / n / 1000000.0 ORDER BY pos)"
            f" AS cv FROM {cn}_agg GROUP BY c_id)"
        )

    prev = "c0"
    for t in range(KMEANS_UPDATES):
        assign_ctes(f"a{t}", prev)
        update_ctes(f"c{t + 1}", f"a{t}")
        prev = f"c{t + 1}"
    assign_ctes("afinal", prev)
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT c_id,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(SUM(dist_micro) AS BIGINT) AS sum_dist_micro,
  FLOOR(CAST(SUM(dist_micro) AS BIGINT) / CAST(COUNT(*) AS BIGINT) + 0.5) / 1e6
    AS avg_dist
FROM afinal
GROUP BY c_id
ORDER BY c_id
"""


KMEANS_LLOYD_ORACLE = _kmeans_sql()


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023,
# arXiv:2303.09540): cluster the embedding space, then deduplicate
# WITHIN clusters by pairwise cosine, keeping the example farthest
# from its cluster centroid.
# ---------------------------------------------------------------------------

SEMDEDUP_TAU_MICRO = 400_000  # cosine ≥ 0.4 — the dedup family's shared gate

def _semdedup_parts(spark: SparkSession, sf_dir: str):
    """(members, assigned) — the shared SemDeDup front half.

    ``members``: every vector with its digest-group representative
    (``rep_id`` = min vec_id over identical ``v``) and a non-zero-norm
    flag. ``assigned``: ONE row per representative — nearest-centroid
    cluster + quantized centroid cosine (keep priority).

    EXACT-DEDUP-FIRST STAR CONTRACT (round-11; the family rule from
    :func:`backend_model_spark.operators.dedup._content_reps`):
    identical vectors get identical centroid cosines, hence identical
    cluster assignments and identical keep priorities — so the
    within-cluster pair join runs on one representative per distinct
    vector, and a duplicated group of size g costs g star rows, never
    C(g, 2) pairs. Centroids stay FULL-CORPUS means (each member
    contributes), exactly as the direct form computed them.
    """
    grouped, assigned = memo(
        spark, ("semdedup", sf_dir), lambda: _semdedup_build(spark, sf_dir)
    )
    return grouped.select("vec_id", "rep_id", "nz"), assigned


def _semdedup_build(spark: SparkSession, sf_dir: str):
    """The memo miss of :func:`_semdedup_parts`: (grouped, assigned),
    both persisted and built by one action."""
    emb = _as_double(load_table(spark, "embeddings", sf_dir))
    centroids = _micro_means(emb, "label").withColumnRenamed("label", "c_label")
    norm2 = F.expr(
        "aggregate(transform(v, x -> x * x), cast(0.0 as double),"
        " (acc, x) -> acc + x)"
    )
    # ONE digest-group window, persisted once; both the member view
    # (rollup side) and the rep view (assignment + pair-join side)
    # read it — the embedding-members shape from the dedup family
    grouped = (
        emb.withColumn("rep_id", F.min("vec_id").over(W.partitionBy("v")))
        .select("vec_id", "rep_id", "v", (norm2 > 0).alias("nz"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    reps = grouped.filter(F.col("vec_id") == F.col("rep_id")).select("vec_id", "v")
    assigned = (
        _nearest_centroid(
            reps, centroids, ("vec_id",), F.struct(F.col("c_label"), F.col("v")), "ctr_cos_micro"
        )
        .select(
            "vec_id",
            F.col("best.v").alias("v"),
            F.col("best.c_label").alias("cluster"),
            "ctr_cos_micro",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # materialize NOW (round 11): the downstream pair-kernel action
    # launches its ga/gb/rollup branch jobs concurrently, and a lazy
    # persist lets each of them re-run the digest-group window + the
    # centroid-assignment cross join from parquet (measured: five
    # concurrent ~5 s stages at sf0.1). Round 12 (verdict ask #2):
    # ONE action, not two — counting `assigned` executes grouped's
    # full lineage through its InMemoryRelation, so both caches are
    # built by the same job (the former second count() re-scanned
    # grouped's cached blocks for nothing: one whole stage+action of
    # pure overhead per cold build).
    assigned.count()
    return grouped, assigned


def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus: per-cluster kept/dropped
    counts after within-cluster cosine deduplication.

    The paper's pipeline (Abbas et al. 2023), re-expressed Spark-first:

    1. CLUSTER: every distinct vector is assigned to its nearest mean
       centroid (:func:`_nearest_centroid`, the deterministic E-step
       shared with :func:`centroid_assign`; a production build drops
       in MLlib KMeans centroids with the same plumbing — the paper
       uses k-means too).
    2. WITHIN-CLUSTER PAIRS, REPS ONLY: pairwise cosine between
       co-clustered REPRESENTATIVES — clustering bounds the quadratic
       in corpus size (cost Σ|cluster reps|², never |corpus|²) and
       the round-11 star contract bounds it in DUPLICATION: a
       duplicated group of size g contributes one rep to the pair
       join and g−1 star drops, never C(g, 2) pairs (the round-10
       verdict's one remaining quadratic path).
    3. DROP RULE: within a rep pair above the gate (cosine ≥ 0.4, the
       dedup family's shared threshold), the rep CLOSER to its
       centroid is dropped and the farther kept — the paper's
       keep-farthest-from-centroid rule; ties break by vec_id.
       Deterministic: all comparisons in integer micro-units.

    STAR EQUIVALENCE (why rep-level decisions reproduce the direct
    per-vector form exactly):

    * a non-rep member with non-zero norm is ALWAYS dropped — its own
      rep co-clusters with it at pair cosine exactly 1.0 ≥ τ, equal
      centroid cosine, and strictly smaller vec_id (the tiebreak);
    * a zero vector is NEVER dropped — every pair cosine involving it
      is 0.0 < τ under the family's zero-norm rule (and its identical
      twins score 0.0 with each other too);
    * a rep is dropped iff a rep-level dominator exists: any member
      dominator's own rep has the same vector (same cosine to the
      target, same centroid cosine) and a smaller-or-equal vec_id, so
      it dominates whenever the member does.

    The adversarial duplicated-corpus suite
    (tests/test_star_contract_parity.py) checks this equivalence
    against the DIRECT-form SQL, and the registered oracle computes
    the same star form (the ``DEDUP_FIRST_CTES`` discipline).

    Output: one row per cluster — members, dropped, kept — fully
    recomputable in SQL.

    Scale: centroids broadcast (K rows); ONE corpus-wide digest-group
    window + ONE rep-level assignment scan (both memoized per
    application × corpus); the rep pair join shuffles on cluster id;
    the drop decision is a semi-join shape, never an iterative loop;
    the member rollup is a rep-sized hash join.
    """
    # the shared Arrow kernel's conservative emission margin is built
    # for the family's 0.4 gate — keep the constants locked together
    assert SEMDEDUP_TAU_MICRO == 400_000

    members, assigned = _semdedup_parts(spark, sf_dir)
    # VECTORIZED REP-PAIR KERNEL (round 11): the within-cluster pair
    # cosines run through dedup's grid-blocked cosine join — (cluster,
    # i, j) cells so one big cluster never serializes a task, numpy
    # left-to-right folds BIT-IDENTICAL to the JVM/DuckDB expression.
    # Per-pair JVM expression evaluation paid ~13 µs/pair: the Zipf
    # 10× corpus (20 000 distinct vectors in 10 clusters → ~20M rep
    # pairs) measured 49.9 s; the kernel emits raw cosines above a
    # conservative margin and the EXACT micro-floor + τ gate + drop
    # rule stay in JVM expressions, byte-for-byte the path the oracle
    # mirrors. Each side's centroid-cosine keep-priority ``ctr`` rides
    # through the kernel, so the drop rule runs directly on its output
    # with no join back against the rep-width ``assigned`` frame
    # (round 11, guide §3: those were two extra shuffles or a
    # reps-width broadcast at corpus scale).
    raw = grid_cosine_pairs(
        assigned.select(
            "vec_id",
            "v",
            F.col("cluster").alias("label"),
            F.col("ctr_cos_micro").alias("ctr"),
        ),
        carry=("ctr",),
    )
    # rep b is dropped when a co-clustered rep a clears the gate AND
    # has keep-priority: farther from the centroid (lower ctr cosine),
    # vec_id as the deterministic tiebreak. The kernel emits each
    # unordered pair once with vec_a < vec_b, so the dominated rep is
    # vec_b iff a_ctr ≤ b_ctr (the tie falls to the lower id = a).
    gated = raw.withColumn(
        "pair_cos_micro",
        F.floor(F.col("cos_raw") * 1_000_000 + F.lit(0.5)).cast("long"),
    ).filter(F.col("pair_cos_micro") >= SEMDEDUP_TAU_MICRO)
    dropped_reps = (
        gated.select(
            F.col("label").alias("cluster"),
            F.when(F.col("a_ctr") <= F.col("b_ctr"), F.col("vec_b"))
            .otherwise(F.col("vec_a"))
            .alias("rep_id"),
        )
        .distinct()
    )
    mem = members.join(
        assigned.select(F.col("vec_id").alias("rep_id"), "cluster"), "rep_id"
    )
    is_dropped = F.when(
        F.col("vec_id") != F.col("rep_id"), F.col("nz").cast("int")
    ).otherwise(F.coalesce(F.col("rep_dropped"), F.lit(0)))
    out = (
        mem.join(
            dropped_reps.withColumn("rep_dropped", F.lit(1)),
            ["cluster", "rep_id"],
            "left",
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(is_dropped).cast("long").alias("n_dropped"),
        )
        .withColumn("n_kept", (F.col("n_vectors") - F.col("n_dropped")).cast("long"))
        .orderBy("cluster")
    )
    return out


def _semdedup_ctes() -> str:
    """Shared CTE chain through ``dropped_reps`` — the STAR form
    (exact-dedup-first, mirroring :func:`_semdedup_parts` /
    :func:`semdedup_clusters` stage for stage). The direct per-vector
    form lives in :data:`SEMDEDUP_DIRECT_ORACLE` below; the
    adversarial duplicated-corpus suite proves the two agree."""
    cosv = _safe_cos(
        DOT_SQL.format(a="r.v", b="c.cv", dim=DIM),
        NORM_SQL.format(a="r.v", dim=DIM) + " * " + NORM_SQL.format(a="c.cv", dim=DIM),
    )
    cosp = _safe_cos(
        DOT_SQL.format(a="a.v", b="b.v", dim=DIM),
        NORM_SQL.format(a="a.v", dim=DIM) + " * " + NORM_SQL.format(a="b.v", dim=DIM),
    )
    return f"""
v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pos AS (
  SELECT label, i AS pos, v[i] AS x
  FROM v, unnest(generate_series(1, {DIM})) AS t(i)
),
centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv
  FROM (
    SELECT label, pos,
      CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1000000.0 AS c
    FROM pos GROUP BY label, pos
  )
  GROUP BY label
),
grp AS (SELECT v, MIN(vec_id) AS rep_id FROM v GROUP BY v),
members AS (
  SELECT m.vec_id, g.rep_id,
    CASE WHEN list_sum(list_transform(generate_series(1, {DIM}),
                                      i -> m.v[i] * m.v[i])) > 0
         THEN 1 ELSE 0 END AS nz
  FROM v m JOIN grp g ON m.v = g.v
),
assigned AS (
  SELECT vec_id, v, c_label AS cluster, ctr_cos_micro
  FROM (
    SELECT r.vec_id, r.v, c.c_label,
      CAST(FLOOR(({cosv}) * 1000000 + 0.5) AS BIGINT) AS ctr_cos_micro,
      ROW_NUMBER() OVER (
        PARTITION BY r.vec_id
        ORDER BY CAST(FLOOR(({cosv}) * 1000000 + 0.5) AS BIGINT) DESC,
                 c.c_label ASC
      ) AS rnk
    FROM (SELECT rep_id AS vec_id, v FROM grp) r CROSS JOIN centroids c
  )
  WHERE rnk = 1
),
dropped_reps AS (
  SELECT DISTINCT a.cluster, b.vec_id AS rep_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
  WHERE CAST(FLOOR(({cosp}) * 1000000 + 0.5) AS BIGINT) >= {SEMDEDUP_TAU_MICRO}
    AND (a.ctr_cos_micro < b.ctr_cos_micro
         OR (a.ctr_cos_micro = b.ctr_cos_micro AND a.vec_id < b.vec_id))
)"""


SEMDEDUP_ORACLE = f"""
WITH {_semdedup_ctes()}
SELECT cluster, n_vectors, n_dropped,
  CAST(n_vectors - n_dropped AS BIGINT) AS n_kept
FROM (
  SELECT s.cluster,
    CAST(COUNT(*) AS BIGINT) AS n_vectors,
    CAST(SUM(CASE WHEN m.vec_id <> m.rep_id THEN m.nz
                  WHEN d.rep_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_dropped
  FROM members m
  JOIN assigned s ON m.rep_id = s.vec_id
  LEFT JOIN dropped_reps d
    ON d.cluster = s.cluster AND d.rep_id = m.rep_id
  GROUP BY s.cluster
)
ORDER BY cluster
"""


def _semdedup_direct_oracle() -> str:
    """The r10 DIRECT form — every vector in the pair join, no rep
    collapse. Quadratic in duplication (C(g, 2) pairs per duplicated
    group), so NEVER registered; kept solely as the independent
    equivalence check the duplicated-corpus parity suite runs against
    the star form (tests/test_star_contract_parity.py)."""
    cosv = _safe_cos(
        DOT_SQL.format(a="v.v", b="c.cv", dim=DIM),
        NORM_SQL.format(a="v.v", dim=DIM) + " * " + NORM_SQL.format(a="c.cv", dim=DIM),
    )
    cosp = _safe_cos(
        DOT_SQL.format(a="a.v", b="b.v", dim=DIM),
        NORM_SQL.format(a="a.v", dim=DIM) + " * " + NORM_SQL.format(a="b.v", dim=DIM),
    )
    return f"""
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pos AS (
  SELECT label, i AS pos, v[i] AS x
  FROM v, unnest(generate_series(1, {DIM})) AS t(i)
),
centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv
  FROM (
    SELECT label, pos,
      CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
        / COUNT(*) / 1000000.0 AS c
    FROM pos GROUP BY label, pos
  )
  GROUP BY label
),
assigned AS (
  SELECT vec_id, v, c_label AS cluster, ctr_cos_micro
  FROM (
    SELECT v.vec_id, v.v, c.c_label,
      CAST(FLOOR(({cosv}) * 1000000 + 0.5) AS BIGINT) AS ctr_cos_micro,
      ROW_NUMBER() OVER (
        PARTITION BY v.vec_id
        ORDER BY CAST(FLOOR(({cosv}) * 1000000 + 0.5) AS BIGINT) DESC,
                 c.c_label ASC
      ) AS rnk
    FROM v CROSS JOIN centroids c
  )
  WHERE rnk = 1
),
dropped AS (
  SELECT DISTINCT a.cluster, b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
  WHERE CAST(FLOOR(({cosp}) * 1000000 + 0.5) AS BIGINT) >= {SEMDEDUP_TAU_MICRO}
    AND (a.ctr_cos_micro < b.ctr_cos_micro
         OR (a.ctr_cos_micro = b.ctr_cos_micro AND a.vec_id < b.vec_id))
)
SELECT s.cluster,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
  CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
FROM assigned s
LEFT JOIN dropped d ON d.cluster = s.cluster AND d.vec_id = s.vec_id
GROUP BY s.cluster
ORDER BY s.cluster
"""


SEMDEDUP_DIRECT_ORACLE = _semdedup_direct_oracle()
