"""Global + grouped aggregation operators (SURVEY.md §2.5, A1-A8).

The reference's aggregation surface is global-only (pandas ``mean``,
``describe``, ``nunique``, ``corr`` over one flat table — EDA notebook
cells 10/19/20/21). Here each is re-expressed as a distributed Spark
aggregate over the test tables, plus the grouped flavor the scale
extension requires.

Scale notes: every aggregate below is map-side combinable (partial
aggregation before the shuffle); ``countDistinct`` expands to a
two-phase distinct aggregate, and the approximate variant
(``approx_count_distinct``, HLL-based) is the 100 TB default when the
exact count isn't contractually required.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from backend_model_spark.operators.scale_utils import (
    broadcast_scalars,
    with_global_rank,
)
from backend_model_spark.operators.text import TOKENS
from backend_model_spark.sources.tables import load_table, spread


def global_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A1/A2/A6: count / mean / min / max / stddev, one row.

    Mirrors ``df['price'].mean()`` + ``describe()`` (nb cells 19-20) on
    the orders fact table.
    """
    orders = load_table(spark, "orders", sf_dir)
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("o_totalprice"), 6).alias("mean_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.stddev("o_totalprice"), 6).alias("stddev_price"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


GLOBAL_AGGS_ORACLE = """
SELECT
  COUNT(*)                          AS n_rows,
  ROUND(AVG(o_totalprice), 6)       AS mean_price,
  ROUND(MIN(o_totalprice), 2)       AS min_price,
  ROUND(MAX(o_totalprice), 2)       AS max_price,
  ROUND(STDDEV_SAMP(o_totalprice), 6) AS stddev_price,
  ROUND(SUM(o_totalprice), 2)       AS sum_price
FROM orders
"""


def count_distinct_per_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A4 (``df.nunique()``): exact distinct count per column.

    One pass over orders; Spark plans a single expand + two-phase
    aggregate. At 100 TB prefer ``approx_count_distinct`` (see
    :func:`approx_distinct_orders`).
    """
    orders = load_table(spark, "orders", sf_dir)
    return orders.agg(
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.countDistinct("o_orderstatus").alias("nd_orderstatus"),
        F.countDistinct("o_orderpriority").alias("nd_orderpriority"),
        F.countDistinct("o_orderdate").alias("nd_orderdate"),
    )


COUNT_DISTINCT_ORACLE = """
SELECT
  COUNT(DISTINCT o_custkey)       AS nd_custkey,
  COUNT(DISTINCT o_orderstatus)   AS nd_orderstatus,
  COUNT(DISTINCT o_orderpriority) AS nd_orderpriority,
  COUNT(DISTINCT o_orderdate)     AS nd_orderdate
FROM orders
"""


def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A5 (``unique()``): distinct values of a column, sorted."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.select("o_orderpriority").distinct().orderBy("o_orderpriority")


DISTINCT_VALUES_ORACLE = """
SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
"""


def null_count_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A3 (``isnull().sum().sum()``): total null cells.

    Single projection of null flags summed in one aggregate — no
    per-column passes.
    """
    cust = load_table(spark, "customer", sf_dir)
    total = reduce(
        lambda a, b: a + b,
        [F.sum(F.col(c).isNull().cast("long")) for c in cust.columns],
    )
    return cust.agg(total.alias("total_nulls"))


NULL_COUNT_ORACLE = """
SELECT CAST(
    SUM(CASE WHEN c_custkey    IS NULL THEN 1 ELSE 0 END)
  + SUM(CASE WHEN c_name       IS NULL THEN 1 ELSE 0 END)
  + SUM(CASE WHEN c_nationkey  IS NULL THEN 1 ELSE 0 END)
  + SUM(CASE WHEN c_acctbal    IS NULL THEN 1 ELSE 0 END)
  + SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
AS BIGINT) AS total_nulls
FROM customer
"""


CORR_BLOCK = 64  # columns per aggregation tile (wide-schema guard)


def corr_with_target_blocked(
    df: DataFrame, target: str, cols: list[str], block: int = CORR_BLOCK
) -> DataFrame:
    """|Pearson r| of each column against ``target``, one output row,
    computed in COLUMN TILES of ≤ ``block`` correlations per
    aggregation pass.

    Why tiles: each ``F.corr`` is cheap distributive state (6 doubles),
    but a single agg carrying hundreds of corr expressions explodes
    the generated code (whole-stage codegen falls out past ~100s of
    aggregate expressions and the single stage serializes one giant
    expression tree). A tile is one scan that column-prunes to its
    own ``block``+1 columns — so a 1000-column frame costs
    ceil(1000/64) scans each reading only 65 columns: total I/O ≈ one
    read of every column (+ target per tile), every pass map-side
    combinable and codegen-eligible. The one-row tile results combine
    with broadcast cross-joins (no shuffle).
    """
    # covar_pop / (stddev_pop * stddev_pop), NOT F.corr: under ANSI
    # mode Spark's Corr raises DIVIDE_BY_ZERO when either column has
    # zero variance (degenerate partitions, constant columns), while
    # try_divide yields NULL — matching the oracle's NULLIF and
    # DuckDB's own CORR-of-constant semantics.
    def safe_corr(c: str) -> F.Column:
        return F.try_divide(
            F.covar_pop(c, target), F.stddev_pop(c) * F.stddev_pop(target)
        )

    out: DataFrame | None = None
    for i in range(0, len(cols), block):
        tile = df.select(target, *cols[i : i + block]).agg(
            *[
                F.round(F.abs(safe_corr(c)), 6).alias(f"corr_{c}")
                for c in cols[i : i + block]
            ]
        )
        out = tile if out is None else out.crossJoin(F.broadcast(tile))
    assert out is not None, "no columns to correlate"
    return out


def correlation_with_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A7 (``abs(df.corr()['price'])``): Pearson correlation
    of each numeric lineitem column with l_extendedprice, |r|, one row.

    Pearson corr is a single-pass distributive aggregate; the blocked
    driver (:func:`corr_with_target_blocked`) keeps the same plan here
    (3 columns = one tile) while surviving wide schemas.
    """
    li = load_table(spark, "lineitem", sf_dir)
    return corr_with_target_blocked(
        li, "l_extendedprice", ["l_quantity", "l_discount", "l_tax"]
    )


CORRELATION_ORACLE = """
SELECT
  ROUND(ABS(COVAR_POP(l_quantity, l_extendedprice)
    / NULLIF(STDDEV_POP(l_quantity) * STDDEV_POP(l_extendedprice), 0)), 6)
    AS corr_l_quantity,
  ROUND(ABS(COVAR_POP(l_discount, l_extendedprice)
    / NULLIF(STDDEV_POP(l_discount) * STDDEV_POP(l_extendedprice), 0)), 6)
    AS corr_l_discount,
  ROUND(ABS(COVAR_POP(l_tax, l_extendedprice)
    / NULLIF(STDDEV_POP(l_tax) * STDDEV_POP(l_extendedprice), 0)), 6)
    AS corr_l_tax
FROM lineitem
"""


def grouped_agg_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation (scale extension of A2): per status/priority."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


GROUPED_AGG_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*)                     AS n_orders,
  ROUND(SUM(o_totalprice), 2)  AS sum_price,
  ROUND(AVG(o_totalprice), 6)  AS avg_price
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over status→priority with subtotal + grand-total rows."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ROLLUP_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*)                    AS n_orders,
  ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over returnflag × linestatus (all grouping sets)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


CUBE_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  COUNT(*)                  AS n_items,
  ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def pivot_quantity_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list keeps the
    plan a single aggregate — no extra distinct-values job)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")
    )


PIVOT_ORACLE = """
SELECT
  l_returnflag,
  ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
  ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def approx_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct — the 100 TB-scale path for A4.

    The raw HLL estimate is engine-specific, so it can't be hashed
    against DuckDB directly.  Instead the output hashes what IS
    cross-engine checkable: the exact distinct counts (ground truth)
    and a Spark-side accuracy assertion — the estimate must land
    within 10% of exact (rsd=0.02 ⇒ 5σ; Spark's HLL is deterministic
    given the data, and the bound leaves ~0 failure probability on
    any reseeded dataset).  The oracle emits the same exact counts
    and literal TRUEs, so a drifting or broken sketch flips the hash.
    """
    orders = load_table(spark, "orders", sf_dir)
    approx = orders.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("a_cust"),
        F.approx_count_distinct("o_orderdate", 0.02).alias("a_date"),
        F.countDistinct("o_custkey").alias("exact_nd_custkey"),
        F.countDistinct("o_orderdate").alias("exact_nd_orderdate"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a).cast("double") / F.col(e) - 1.0) <= 0.10
    )
    return approx.select(
        "exact_nd_custkey",
        "exact_nd_orderdate",
        within("a_cust", "exact_nd_custkey").alias("custkey_est_ok"),
        within("a_date", "exact_nd_orderdate").alias("orderdate_est_ok"),
    )


APPROX_DISTINCT_ORACLE = """
SELECT
  COUNT(DISTINCT o_custkey)   AS exact_nd_custkey,
  COUNT(DISTINCT o_orderdate) AS exact_nd_orderdate,
  TRUE AS custkey_est_ok,
  TRUE AS orderdate_est_ok
FROM orders
"""


N_SALT = 32


def salted_skew_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient two-stage aggregation (the salting pattern).

    ``l_returnflag`` has only 3 values, so a naive groupBy lands the
    whole table on 3 reducers. Stage 1 groups on (key, salt) —
    ``N_SALT`` deterministic sub-keys from the orderkey — spreading
    each hot key over N_SALT tasks with map-side partial aggregation;
    stage 2 collapses the salt. Only sum/count-style (associative)
    aggregates ride this path; the final result is bit-identical to
    the unsalted groupBy, which is exactly what the oracle checks.

    At 100 TB this is the manual fallback when AQE's skew handling
    can't help (skewed *aggregation* rather than skewed join).
    """
    li = load_table(spark, "lineitem", sf_dir)
    salted = li.withColumn("salt", F.pmod(F.col("l_orderkey"), F.lit(N_SALT)))
    stage1 = salted.groupBy("l_returnflag", "salt").agg(
        F.sum("l_quantity").alias("qty"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return (
        stage1.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("qty"), 2).alias("sum_qty"),
            F.sum("n").alias("n_items"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


SALTED_SKEW_ORACLE = """
SELECT
  l_returnflag,
  ROUND(SUM(l_quantity), 2) AS sum_qty,
  COUNT(*) AS n_items,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 1024  # buckets per row


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy hitters over the token stream, built as
    pure relational algebra: every token lands in ``CMS_DEPTH``
    salted-md5 buckets (one posexplode), the sketch is one
    fixed-size groupBy (≤ depth × width rows), and each candidate's
    estimate is the MIN over its row counters. Deterministic
    (md5-derived, no RNG) — so unlike a library sketch the DuckDB
    oracle can verify every cell.

    Output contrasts exact counts of the true top-20 tokens with
    their CMS estimates (estimate ≥ exact always; equality when no
    collision).

    Scale: the sketch table is O(depth × width) REGARDLESS of corpus
    size and fully map-side combinable — the canonical mergeable-
    sketch shape (stream partitions build partial sketches; the
    shuffle moves ≤ 4096 partial rows per partition, never tokens).
    The exact top-20 here exists only as verification ground truth;
    at 100 TB you'd keep just the sketch plus a candidate set from a
    per-partition top-k.

    Reference anchor: generalizes the frequency probes of
    EDA Notebook.ipynb cell 10 (``df.nunique``) toward bounded-memory
    corpus statistics (SURVEY.md §2.5 A4).
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select(F.explode(F.expr(TOKENS)).alias("t")).filter(
        F.col("t") != ""
    )

    def bucket(col, i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{i}_"), col).cast("binary")), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % CMS_WIDTH
        )

    hashed = toks.select(
        "t", *[bucket(F.col("t"), i).alias(f"b{i}") for i in range(CMS_DEPTH)]
    )
    cms = (
        hashed.select(
            F.posexplode(F.array(*[f"b{i}" for i in range(CMS_DEPTH)])).alias(
                "row", "bucket"
            )
        )
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("t").asc())
        .limit(20)
    )
    lookups = top.select(
        "t",
        "exact_cnt",
        F.posexplode(
            F.array(*[bucket(F.col("t"), i) for i in range(CMS_DEPTH)])
        ).alias("row", "bucket"),
    )
    return (
        F.broadcast(lookups)
        .join(cms, ["row", "bucket"])
        .groupBy("t", "exact_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
        .orderBy(F.col("exact_cnt").desc(), F.col("t").asc())
    )


CMS_BUCKET_SQL = (
    "CAST('0x' || substr(md5('cms{i}_' || t), 1, 8) AS BIGINT) % 1024"
)

CMS_ORACLE = rf"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
),
toks2 AS (SELECT t FROM toks WHERE t <> ''),
hashed AS (
  SELECT t,
         {", ".join(CMS_BUCKET_SQL.format(i=i) + f" AS b{i}" for i in range(CMS_DEPTH))}
  FROM toks2
),
pairs AS (
  {" UNION ALL ".join(f"SELECT {i} AS row, b{i} AS bucket FROM hashed" for i in range(CMS_DEPTH))}
),
cms AS (
  SELECT row, bucket, COUNT(*) AS cnt FROM pairs GROUP BY row, bucket
),
top AS (
  SELECT t, COUNT(*) AS exact_cnt FROM toks2 GROUP BY t
  ORDER BY exact_cnt DESC, t ASC LIMIT 20
),
lookups AS (
  {" UNION ALL ".join(
    f"SELECT t, exact_cnt, {i} AS row, "
    + CMS_BUCKET_SQL.format(i=i)
    + " AS bucket FROM top"
    for i in range(CMS_DEPTH)
  )}
)
SELECT l.t, l.exact_cnt, CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate
FROM lookups l JOIN cms c USING (row, bucket)
GROUP BY l.t, l.exact_cnt
ORDER BY l.exact_cnt DESC, l.t ASC
"""


def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (DataSketches HLL): build one
    sketch per (day, event_type) in a single scan, then MERGE the
    binary sketches up to weekly level with ``hll_union_agg`` — no
    second pass over events. This is how 100 TB pipelines serve
    distinct-user rollups: the expensive scan happens once, every
    coarser grain unions kilobyte sketches.

    Exact ``countDistinct`` per week is computed alongside (second
    aggregation over the same scan) as ground truth.  The sketch
    estimate itself is engine-specific, so the hashed output carries
    the exact counts plus a Spark-side accuracy assertion (merged
    estimate within 10% of exact — DataSketches HLL at default lgK
    is ~1.6% rsd, so 10% is a many-sigma bound and deterministic for
    any dataset); the oracle emits the same exact rollup and literal
    TRUE (SURVEY.md §2.5 A4 scale sibling).
    """
    ev = load_table(spark, "events", sf_dir).select(
        F.to_date("ts").alias("day"),
        F.weekofyear("ts").alias("week"),
        "event_type",
        "user_id",
    )
    daily = ev.groupBy("day", "week", "event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly = daily.groupBy("week", "event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy("week", "event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        weekly.join(exact, ["week", "event_type"])
        .select(
            "week",
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(
                    F.col("est_users").cast("double") / F.col("exact_users")
                    - 1.0
                )
                <= 0.10
            ).alias("est_ok"),
        )
        .orderBy("week", "event_type")
    )


HLL_SKETCH_ROLLUP_ORACLE = """
SELECT
  CAST(weekofyear(ts) AS INTEGER) AS week,
  event_type,
  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
  COUNT(DISTINCT user_id) AS exact_users,
  TRUE AS est_ok
FROM events
GROUP BY 1, 2
ORDER BY week, event_type
"""


def collect_order_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (``collect_set`` → ``array_sort``): per
    customer segment+nation bucket, the sorted set of years in which
    orders were placed, serialized with ``concat_ws`` (the driver's
    value hash compares scalars, not arrays), plus first/last year.

    Plan note: collect_set/collect_list plan as ObjectHashAggregate —
    the object-based aggregation tier (sort-based fallback under
    memory pressure), unlike the codegen'd HashAggregate of scalar
    aggs. Deterministic because the SET is sorted before
    serialization; a collect_list would expose partition order.

    Scale: the array per group is bounded (distinct years, not
    orders). Unbounded collect_list of fact rows is the anti-pattern
    — use windows or explode-side processing instead.
    """
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    j = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        "c_mktsegment",
        F.col("c_nationkey").alias("nation"),
        F.year("o_orderdate").alias("yr"),
    )
    return (
        j.groupBy("c_mktsegment", "nation")
        .agg(
            F.concat_ws(
                ",", F.array_sort(F.collect_set("yr")).cast("array<string>")
            ).alias("years_active"),
            F.min("yr").alias("first_year"),
            F.max("yr").alias("last_year"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment", "nation")
    )


COLLECT_YEARS_ORACLE = """
WITH j AS (
  SELECT
    c_mktsegment,
    c_nationkey AS nation,
    CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT
  c_mktsegment,
  nation,
  array_to_string(list_sort(list_distinct(list(yr))), ',') AS years_active,
  MIN(yr) AS first_year,
  MAX(yr) AS last_year,
  COUNT(*) AS n_orders
FROM j
GROUP BY c_mktsegment, nation
ORDER BY c_mktsegment, nation
"""


def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    day-of-week, computed exactly from the contingency table:
    chi2 = Σ (obs − exp)² / exp with exp = row_total · col_total / n.

    All counts are exact integers; the only float math is the final
    per-cell ratio, summed per event type (bounded cells → no
    float-order drift at 6 dp). MLlib's ``ChiSquareTest`` is the
    library sibling; this formulation is engine-checkable.

    Scale: one groupBy builds the contingency table (cells =
    |types| × 7, tiny); row/col marginals come from partitioned window
    sums over the CELL table, never a second scan of events; the grand
    total is a broadcast one-row scalar off the pinned cell table (a
    global-sum window would plan an unpartitioned WindowExec).
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.dayofweek("ts").alias("dow")
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("obs")
    ).localCheckpoint(eager=False)
    n_df = cells.agg(F.sum("obs").alias("n"))
    row_w = W.partitionBy("event_type")
    col_w = W.partitionBy("dow")
    with_marginals = broadcast_scalars(cells, n_df).select(
        "event_type",
        "dow",
        "obs",
        F.sum("obs").over(row_w).alias("row_total"),
        F.sum("obs").over(col_w).alias("col_total"),
        "n",
    )
    exp = F.col("row_total") * F.col("col_total") / F.col("n")
    contrib = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return (
        with_marginals.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("obs").alias("n_events"),
            (F.floor(F.sum(contrib) * 1_000_000.0 + 0.5) / 1_000_000.0).alias(
                "chi2_contrib"
            ),
        )
        .orderBy("event_type")
    )


CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type, dayofweek(ts) + 1 AS dow, COUNT(*) AS obs
  FROM events
  GROUP BY event_type, dayofweek(ts) + 1
),
m AS (
  SELECT
    event_type, dow, obs,
    SUM(obs) OVER (PARTITION BY event_type) AS row_total,
    SUM(obs) OVER (PARTITION BY dow) AS col_total,
    SUM(obs) OVER () AS n
  FROM cells
)
SELECT
  event_type,
  COUNT(*) AS n_cells,
  CAST(SUM(obs) AS BIGINT) AS n_events,
  FLOOR(SUM(
    (obs - CAST(row_total AS DOUBLE) * col_total / n)
    * (obs - CAST(row_total AS DOUBLE) * col_total / n)
    / (CAST(row_total AS DOUBLE) * col_total / n)
  ) * 1000000 + 0.5) / 1000000 AS chi2_contrib
FROM m
GROUP BY event_type
ORDER BY event_type
"""


HIST_BUCKET_CENTS = 50_000_00  # $50,000 per bucket


def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals per market segment — the
    OLAP distribution query behind every dashboard bar chart.

    Buckets are exact-integer: ``cents div width`` (no width_bucket,
    whose edge semantics differ across engines). One shuffle on
    (segment, bucket); bucket labels derived arithmetically.
    """
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    bucket = F.expr(f"cast(floor(o_totalprice * 100 + 0.5) as bigint) div {HIST_BUCKET_CENTS}")
    return (
        j.withColumn("bucket", bucket)
        .groupBy("c_mktsegment", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("sum_cents"),
        )
        .withColumn("bucket_low_usd", F.col("bucket") * (HIST_BUCKET_CENTS // 100))
        .orderBy("c_mktsegment", "bucket")
    )


HISTOGRAM_ORACLE = f"""
SELECT
  c_mktsegment,
  CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // {HIST_BUCKET_CENTS}
    AS bucket,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_cents,
  (CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) // {HIST_BUCKET_CENTS})
    * {HIST_BUCKET_CENTS // 100} AS bucket_low_usd
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, bucket, bucket_low_usd
ORDER BY c_mktsegment, bucket
"""


def _inv_norm_cdf(p: float) -> float:
    """Φ⁻¹(p) by Acklam's rational approximation, central region
    (0.02425 < p < 0.97575 — all probe points qualify). Public-domain
    algorithm; ~1e-9 absolute error, pure arithmetic."""
    a = (
        -3.969683028665376e01,
        2.209460984245205e02,
        -2.759285104469687e02,
        1.383577518672690e02,
        -3.066479806614716e01,
        2.506628277459239e00,
    )
    b = (
        -5.447609879822406e01,
        1.615858368580409e02,
        -1.556989798598866e02,
        6.680131188771972e01,
        -1.328068155288572e01,
    )
    q = p - 0.5
    r = q * q
    num = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q
    den = ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1.0
    return num / den


# probplot probe grid: 19 interior quantiles, with their theoretical
# N(0,1) quantiles precomputed ONCE in Python and inlined as literal
# constants into BOTH engines — the z side of the pairing can never
# drift cross-engine.
PROBE_PS = [i / 20 for i in range(1, 20)]
PROBE_Z = [_inv_norm_cdf(p) for p in PROBE_PS]
# robust probplot scale: (q75 − q25) / (z75 − z25), z-denominator constant
_PROBE_Z_IQR = PROBE_Z[14 - 1] - PROBE_Z[5 - 1]  # z(0.75) − z(0.25)


def normality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 finish: the probplot pairing (reference: ``scipy.stats.
    probplot`` on price, EDA Notebook.ipynb cell 22) — sample
    quantiles of order totals against theoretical normal quantiles,
    plus the robustly-standardized sample value; for normal data
    ``normalized ≈ z``, and the deviation profile is the normality
    probe.

    Engine-parity discipline: the theoretical z are inlined literals
    (same constant both engines); sample quantiles are rounded at the
    edge FIRST, and the standardization ((q − median) / IQR-scale) is
    computed from those already-rounded values with a literal
    z-denominator — every float either matches by construction or is
    derived from matching inputs.

    Scale: one sort-based exact percentile aggregate (t-digest
    ``approx_percentile`` at 100 TB), then arithmetic over a pinned
    19-row probe table.
    """
    orders = load_table(spark, "orders", sf_dir)
    qs = orders.agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(p) for p in PROBE_PS])
        ).alias("qs")
    )
    p_arr = F.array(*[F.lit(p) for p in PROBE_PS])
    z_arr = F.array(*[F.lit(z) for z in PROBE_Z])
    r6 = lambda c: F.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0  # noqa: E731
    rows = qs.select(
        F.posexplode("qs").alias("i", "q_raw")
    ).select(
        F.element_at(p_arr, F.col("i") + 1).alias("p"),
        r6(F.element_at(z_arr, F.col("i") + 1)).alias("z"),
        r6(F.col("q_raw")).alias("sample_q"),
    ).localCheckpoint(eager=False)  # 19 rows; pins one percentile pass
    m = rows.agg(
        F.max(F.when(F.col("p") == 0.5, F.col("sample_q"))).alias("med"),
        F.max(F.when(F.col("p") == 0.25, F.col("sample_q"))).alias("q25"),
        F.max(F.when(F.col("p") == 0.75, F.col("sample_q"))).alias("q75"),
    )
    scale = (F.col("q75") - F.col("q25")) / F.lit(_PROBE_Z_IQR)
    return (
        broadcast_scalars(rows, m)
        .select(
            "p",
            "z",
            "sample_q",
            # try_divide: zero IQR (constant totals) → NULL normalized,
            # matching the oracle's NULLIF — not an ANSI crash
            r6(
                F.try_divide(F.col("sample_q") - F.col("med"), scale)
            ).alias("normalized"),
        )
        .orderBy("p")
    )


def _normality_oracle() -> str:
    # CAST: bare decimal literals land as DECIMAL(18) in DuckDB and
    # overflow the 1e6 rounding multiply — force DOUBLE explicitly
    probes = ",\n    ".join(
        f"({i + 1}, CAST({p!r} AS DOUBLE), CAST({z!r} AS DOUBLE))"
        for i, (p, z) in enumerate(zip(PROBE_PS, PROBE_Z))
    )
    plist = ", ".join(repr(p) for p in PROBE_PS)
    return f"""
WITH qs AS (
  SELECT quantile_cont(o_totalprice, [{plist}]) AS q FROM orders
),
probes(i, p, z) AS (
  VALUES
    {probes}
),
r AS (
  SELECT
    p,
    FLOOR(z * 1000000 + 0.5) / 1000000 AS z,
    FLOOR(q[i] * 1000000 + 0.5) / 1000000 AS sample_q
  FROM probes, qs
),
m AS (
  SELECT
    MAX(CASE WHEN p = 0.5 THEN sample_q END) AS med,
    MAX(CASE WHEN p = 0.25 THEN sample_q END) AS q25,
    MAX(CASE WHEN p = 0.75 THEN sample_q END) AS q75
  FROM r
)
SELECT
  p, z, sample_q,
  FLOOR((sample_q - med)
        / NULLIF((q75 - q25) / CAST({_PROBE_Z_IQR!r} AS DOUBLE), 0)
        * 1000000 + 0.5) / 1000000 AS normalized
FROM r, m
ORDER BY p
"""


NORMALITY_PROBE_ORACLE = _normality_oracle()


def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue concentration: Gini coefficient and top-1% /
    top-10% revenue shares — the inequality profile that drives
    skew-handling decisions (a heavy-tailed customer base is exactly
    where salting/AQE matter; see agg_salted_skew).

    Exact arithmetic: per-customer revenue in integer cents, Gini via
    the rank formula G = (2·Σ i·x_i)/(n·Σx) − (n+1)/n over ascending
    revenue (ties broken by custkey for a total order both engines
    agree on); only the final ratios are floats, floor-rounded.

    Scale: one shuffle to the per-customer rollup, then the two-stage
    prefix-sum rank (:func:`with_global_rank`: range repartition →
    per-partition row_number → broadcast offsets) — exact ROW_NUMBER
    semantics with no single-partition sort, so the oracle is
    unchanged; Σ i·x_i is a distributive sum over the ranked frame.
    """
    orders = load_table(spark, "orders", sf_dir)
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("cents")
    )
    ranked = with_global_rank(
        per_cust,
        [F.col("cents").asc(), F.col("o_custkey").asc()],
        "i",
        total_col="n_total",
    )
    r6 = lambda c: F.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0  # noqa: E731
    top1 = F.col("i") > F.col("n_total") - F.ceil(F.col("n_total") / 100.0)
    top10 = F.col("i") > F.col("n_total") - F.ceil(F.col("n_total") / 10.0)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        r6(
            (2.0 * F.sum(F.col("i") * F.col("cents")))
            / (F.count(F.lit(1)) * F.sum("cents"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1))
        ).alias("gini"),
        r6(
            F.sum(F.when(top1, F.col("cents")).otherwise(0)) / F.sum("cents")
        ).alias("top1pct_share"),
        r6(
            F.sum(F.when(top10, F.col("cents")).otherwise(0)) / F.sum("cents")
        ).alias("top10pct_share"),
    )


CONCENTRATION_ORACLE = """
WITH per_cust AS (
  SELECT
    o_custkey,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT
    cents,
    ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS i,
    COUNT(*) OVER () AS n_total
  FROM per_cust
)
SELECT
  COUNT(*) AS n_customers,
  CAST(SUM(cents) AS BIGINT) AS total_cents,
  FLOOR((
    2.0 * SUM(i * cents) / (COUNT(*) * CAST(SUM(cents) AS DOUBLE))
    - (COUNT(*) + 1.0) / COUNT(*)
  ) * 1000000 + 0.5) / 1000000 AS gini,
  FLOOR(SUM(CASE WHEN i > n_total - CEIL(n_total / 100.0) THEN cents
                 ELSE 0 END) / CAST(SUM(cents) AS DOUBLE)
        * 1000000 + 0.5) / 1000000 AS top1pct_share,
  FLOOR(SUM(CASE WHEN i > n_total - CEIL(n_total / 10.0) THEN cents
                 ELSE 0 END) / CAST(SUM(cents) AS DOUBLE)
        * 1000000 + 0.5) / 1000000 AS top10pct_share
FROM ranked
"""


N_BOOTSTRAP = 32


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error + 95% normal-approximation CI for the
    mean order price, via B=32 content-addressed Bernoulli(50%)
    subsample replicas — the distributed substitute for classic
    resampling-with-replacement: ONE md5 digest per row, and replica
    b's membership is hex nibble b of that digest < '8' (32 nibbles =
    32 independent fair coins from one hash). The replica set is a
    pure function of the data (engine-, partitioning-, and RNG-free,
    same one-digest-many-derivations discipline as the MinHash affine
    remix family).

    Scale: ONE scan of orders, one digest per row, and the B replica
    (sum, count) pairs as 2B conditional aggregates in a SINGLE
    map-side-combinable pass — no row amplification at all. Measured
    at the 10× stress volume: hash-per-(b,row) 26.2 s → one digest +
    explode 7.3 s → this exploded-free form 6.2 s (4.2× total; scale
    factor vs sf0.1 now 2.9×, in line with the scan-bound families).
    The 1×2B sufficient-statistics row then unpivots to B replica
    means and reduces to the one-row readout. No window, no collect.
    """
    orders = load_table(spark, "orders", sf_dir)
    digested = orders.select(
        F.md5(F.col("o_orderkey").cast("string")).alias("digest"),
        F.col("o_totalprice"),
    )
    aggs = []
    for b in range(1, N_BOOTSTRAP + 1):
        memb = F.substring("digest", b, 1) < "8"
        aggs.append(F.sum(F.when(memb, F.col("o_totalprice"))).alias(f"s{b}"))
        aggs.append(F.count(F.when(memb, F.lit(1))).alias(f"c{b}"))
    wide = digested.agg(*aggs)
    means = wide.select(
        F.explode(
            F.array(
                *[
                    (F.col(f"s{b}") / F.col(f"c{b}")).alias(f"m{b}")
                    for b in range(1, N_BOOTSTRAP + 1)
                ]
            )
        ).alias("m")
    ).filter(F.col("m").isNotNull())
    return means.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.round(F.sum("m") / F.count(F.lit(1)), 6).alias("boot_mean"),
        F.round(F.stddev_samp("m"), 6).alias("boot_se"),
        F.round(
            F.sum("m") / F.count(F.lit(1)) - 1.96 * F.stddev_samp("m"), 6
        ).alias("ci_lo"),
        F.round(
            F.sum("m") / F.count(F.lit(1)) + 1.96 * F.stddev_samp("m"), 6
        ).alias("ci_hi"),
    )


BOOTSTRAP_CI_ORACLE = f"""
WITH digested AS (
  SELECT md5(CAST(o_orderkey AS VARCHAR)) AS digest, o_totalprice
  FROM orders
),
replicas AS (
  SELECT b.b, d.o_totalprice
  FROM digested d
  CROSS JOIN (SELECT unnest(generate_series(1, {N_BOOTSTRAP})) AS b) b
  WHERE substr(d.digest, b, 1) < '8'
),
means AS (
  SELECT b, SUM(o_totalprice) / COUNT(*) AS m FROM replicas GROUP BY b
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_replicas,
  ROUND(SUM(m) / COUNT(*), 6) AS boot_mean,
  ROUND(stddev_samp(m), 6) AS boot_se,
  ROUND(SUM(m) / COUNT(*) - 1.96 * stddev_samp(m), 6) AS ci_lo,
  ROUND(SUM(m) / COUNT(*) + 1.96 * stddev_samp(m), 6) AS ci_hi
FROM means
"""


def exact_median_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global median order price WITHOUT the single-reduce
    ``percentile`` aggregate: two-stage global rank over integer
    cents, then the order-statistic definition (mean of the ⌈n/2⌉-th
    and ⌊n/2⌋+1-th values — identical to linear-interpolation
    ``quantile_cont(0.5)``). At 100 TB the sort-based ``percentile``
    aggregate funnels every value through one reducer; this
    formulation is the distributed exact path (the repo's
    ``approx_percentile`` siblings are the cheap alternative when
    exactness isn't contractual).

    Scale: one scan; the rank primitive range-partitions the cents
    column (balanced by construction), and the middle-rank filter +
    final 1-row aggregate move no data.
    """
    orders = load_table(spark, "orders", sf_dir).select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "o_orderkey",
    )
    ranked = with_global_rank(
        orders,
        [F.col("cents").asc(), F.col("o_orderkey").asc()],
        "r",
        total_col="n",
    )
    middle = ranked.filter(
        (F.col("r") == F.expr("(n + 1) div 2")) | (F.col("r") == F.expr("n div 2 + 1"))
    )
    return middle.agg(
        F.max("n").cast("long").alias("n_orders"),
        F.round(F.sum("cents") / F.count(F.lit(1)) / 100.0, 6).alias("median_price"),
    )


EXACT_MEDIAN_ORACLE = """
WITH c AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents, o_orderkey
  FROM orders
),
r AS (
  SELECT cents,
    ROW_NUMBER() OVER (ORDER BY cents ASC, o_orderkey ASC) AS rn,
    COUNT(*) OVER () AS n
  FROM c
)
SELECT
  CAST(MAX(n) AS BIGINT) AS n_orders,
  ROUND(SUM(cents) / COUNT(*) / 100.0, 6) AS median_price
FROM r
WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
"""


def weighted_median_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of lineitem extended price: the
    smallest price whose cumulative quantity weight reaches half the
    total — the weighted order statistic that plain ``percentile``
    cannot express. Built on the same two-stage global rank/prefix-sum
    primitive as :func:`exact_median_rank` (integer cents + integer
    deci-quantity weights, so the cumulative comparison is exact).

    Scale: one scan; range-partitioned rank with per-partition
    prefix sums + broadcast offsets; the threshold filter and 1-row
    readout move no data.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") * 10 + F.lit(0.5)).cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = with_global_rank(
        li,
        [
            F.col("cents").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        "r",
        prefix_sum=("wt", "cum_wt"),
        grand_total=("wt", "total_wt"),
    )
    # first row where 2*cum_wt >= total_wt (integer-exact half test)
    hit = ranked.filter(2 * F.col("cum_wt") >= F.col("total_wt"))
    return hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_at_or_above"),
        F.round(F.min(F.col("cents")) / 100.0, 6).alias("weighted_median"),
        F.max(F.col("total_wt")).cast("long").alias("total_deciqty"),
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH c AS (
  SELECT
    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
    CAST(FLOOR(l_quantity * 10 + 0.5) AS BIGINT) AS wt,
    l_orderkey, l_linenumber
  FROM lineitem
),
r AS (
  SELECT cents, wt,
    SUM(wt) OVER (
      ORDER BY cents ASC, l_orderkey ASC, l_linenumber ASC
      ROWS UNBOUNDED PRECEDING
    ) AS cum_wt,
    SUM(wt) OVER () AS total_wt
  FROM c
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_at_or_above,
  ROUND(MIN(cents) / 100.0, 6) AS weighted_median,
  CAST(MAX(total_wt) AS BIGINT) AS total_deciqty
FROM r
WHERE 2 * cum_wt >= total_wt
"""


def moments_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher distributional moments of order price per status —
    skewness and excess kurtosis computed from EXPLICIT raw power
    sums (Σx..Σx⁴ → central moments → g1, g2-3) rather than the
    built-in ``skewness``/``kurtosis`` aggregates, because the two
    engines disagree on bias-correction conventions while the raw
    formula is identical algebra on identical sums. Extends A6
    (describe()) to the shape statistics the notebook's probplot
    analysis implies.

    Scale: one map-side-combinable pass (five SUMs per group); all
    downstream arithmetic on the grouped row.
    """
    orders = load_table(spark, "orders", sf_dir)
    x = F.col("o_totalprice") / 100000.0  # scale to O(1): power sums stay exact-ish
    g = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    # explicit multiplies (and m2*sqrt(m2) for the 1.5 power), never
    # libm pow: IEEE multiply/sqrt are correctly rounded, so both
    # engines compute bit-identical doubles
    m1 = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m1 * m1
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * m1 * (F.col("s2") / F.col("n"))
        + 2 * m1 * m1 * m1
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m1 * (F.col("s3") / F.col("n"))
        + 6 * m1 * m1 * (F.col("s2") / F.col("n"))
        - 3 * m1 * m1 * m1 * m1
    )
    return g.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n"),
        F.round(m1, 6).alias("mean_scaled"),
        F.round(F.sqrt(m2), 6).alias("std_scaled"),
        F.round(F.try_divide(m3, m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(F.try_divide(m4, m2 * m2) - 3, 6).alias("excess_kurtosis"),
    ).orderBy("o_orderstatus")


MOMENTS_ORACLE = """
WITH xs AS (
  SELECT o_orderstatus, o_totalprice / 100000.0 AS x FROM orders
),
g AS (
  -- explicit products, not POW(x, k): POW is exp/log-based and not
  -- correctly rounded, while chained multiply matches Spark's x*x*x
  SELECT o_orderstatus,
    COUNT(*) AS n,
    SUM(x) AS s1,
    SUM(x * x) AS s2,
    SUM(x * x * x) AS s3,
    SUM(x * x * x * x) AS s4
  FROM xs GROUP BY o_orderstatus
),
m AS (
  -- association mirrors the Spark expressions exactly (left-assoc
  -- chained multiplies; m2 * sqrt(m2) for the 1.5 power) so both
  -- engines round the same doubles
  SELECT o_orderstatus, n,
    s1 / n AS m1,
    s2 / n - (s1 / n) * (s1 / n) AS m2,
    s3 / n - 3 * (s1 / n) * (s2 / n)
      + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
    s4 / n - 4 * (s1 / n) * (s3 / n)
      + 6 * (s1 / n) * (s1 / n) * (s2 / n)
      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM g
)
SELECT o_orderstatus,
  CAST(n AS BIGINT) AS n,
  ROUND(m1, 6) AS mean_scaled,
  ROUND(sqrt(m2), 6) AS std_scaled,
  ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
  ROUND(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
FROM m
ORDER BY o_orderstatus
"""


def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between
    urgent-priority and normal-priority order totals, computed in
    INTEGER arithmetic end to end: D = max_v |c1(v)*n2 - c2(v)*n1| /
    (n1*n2), where the cumulative counts come from ONE global
    prefix-sum over the distinct-value rollup with both counters
    bit-packed into a single bigint (c1 in the high 32 bits, c_total
    in the low 32 — exact while each side is < 2^31 rows, i.e. any
    sample you'd KS-test). The only ordered pass is the two-stage
    prefix-sum primitive (``scale_utils``), over distinct values, not
    rows — never an unpartitioned window.

    Output: one row with n1, n2, the exact D (rounded at the edge)
    and the alpha=0.05 critical value c(alpha)*sqrt((n1+n2)/(n1*n2)).
    """
    from backend_model_spark.operators.scale_utils import with_global_rank

    orders = load_table(spark, "orders", sf_dir)
    grp1 = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    rollup = (
        orders.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            grp1.cast("long").alias("is1"),
        )
        .groupBy("cents")
        .agg(F.sum("is1").alias("n1v"), F.count(F.lit(1)).alias("ntv"))
        .withColumn("packed", F.col("n1v") * F.lit(4294967296) + F.col("ntv"))
    )
    ranked = with_global_rank(
        rollup,
        [F.col("cents").asc()],
        "rk",
        prefix_sum=("packed", "cum"),
        grand_total=("packed", "gt"),
    )
    c1 = F.expr("cum DIV 4294967296")
    ctot = F.col("cum") % F.lit(4294967296)
    n1 = F.expr("gt DIV 4294967296")
    ntot = F.col("gt") % F.lit(4294967296)
    n2 = ntot - n1
    c2 = ctot - c1
    num = F.abs(c1 * n2 - c2 * n1)
    per_v = ranked.select(
        num.alias("num"), n1.alias("n1"), n2.alias("n2")
    )
    out = per_v.groupBy("n1", "n2").agg(F.max("num").alias("max_num"))
    return out.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("max_num") / (F.col("n1") * F.col("n2")), 6).alias("d_stat"),
        F.round(
            F.lit(1.3581015157406195)
            * F.sqrt((F.col("n1") + F.col("n2")) / (F.col("n1") * F.col("n2"))),
            6,
        ).alias("crit_05"),
    )


KS_TWO_SAMPLE_ORACLE = """
WITH rollup AS (
  SELECT
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
    COUNT(*) AS ntv
  FROM orders
  GROUP BY 1
),
cum AS (
  SELECT
    SUM(n1v) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS c1,
    SUM(ntv) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS ct
  FROM rollup
),
tot AS (
  SELECT CAST(SUM(n1v) AS BIGINT) AS n1, CAST(SUM(ntv) AS BIGINT) AS nt
  FROM rollup
),
d AS (
  SELECT MAX(ABS(CAST(c.c1 AS BIGINT) * (t.nt - t.n1)
    - (CAST(c.ct AS BIGINT) - CAST(c.c1 AS BIGINT)) * t.n1)) AS max_num
  FROM cum c CROSS JOIN tot t
)
SELECT
  t.n1 AS n1,
  t.nt - t.n1 AS n2,
  ROUND(CAST(d.max_num AS DOUBLE) / (t.n1 * (t.nt - t.n1)), 6) AS d_stat,
  ROUND(1.3581015157406195
    * sqrt(CAST(t.nt AS DOUBLE) / (t.n1 * (t.nt - t.n1))), 6) AS crit_05
FROM tot t CROSS JOIN d
"""


def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U between urgent-priority and
    normal-priority order totals — the nonparametric sibling of
    :func:`ks_two_sample`, built on the SAME physical skeleton: a
    distinct-value rollup, ONE two-stage global prefix-sum with both
    counters bit-packed into a single bigint, and everything integer
    until the final z.

    Average ranks stay exact by working in DOUBLED units: a tied
    group at value v (t_v rows, c_before below it) contributes
    n1(v) * (2*c_before + t_v + 1) to 2*R1, so 2*U1 = 2*R1 -
    n1*(n1+1) is an exact bigint. The tie-corrected normal
    approximation z = (U1 - n1*n2/2) / sqrt(n1*n2/12 * ((N+1) -
    sum(t³-t)/(N*(N-1)))) is the only float, rounded at the edge.

    Scale: identical to the KS path — the only ordered pass is over
    distinct values, map-side-combinable everywhere else. Inherits
    KS's packed-counter range contract (total rows < 2^32, group-1
    rows < 2^31); beyond that, unpack into two prefix-sum columns.
    """
    from backend_model_spark.operators.scale_utils import with_global_rank

    orders = load_table(spark, "orders", sf_dir)
    grp1 = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    rollup = (
        orders.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            grp1.cast("long").alias("is1"),
        )
        .groupBy("cents")
        .agg(F.sum("is1").alias("n1v"), F.count(F.lit(1)).alias("ntv"))
        .withColumn("packed", F.col("n1v") * F.lit(4294967296) + F.col("ntv"))
    )
    ranked = with_global_rank(
        rollup,
        [F.col("cents").asc()],
        "rk",
        prefix_sum=("packed", "cum"),
        grand_total=("packed", "gt"),
    )
    ctot = F.col("cum") % F.lit(4294967296)
    c_before = ctot - F.col("ntv")
    contrib = F.col("n1v") * (2 * c_before + F.col("ntv") + 1)
    tie = F.col("ntv") * F.col("ntv") * F.col("ntv") - F.col("ntv")
    n1 = F.expr("gt DIV 4294967296")
    ntot = F.col("gt") % F.lit(4294967296)
    agg = ranked.groupBy(
        n1.alias("n1"), (ntot - n1).alias("n2")
    ).agg(
        F.sum(contrib).alias("two_r1"),
        F.sum(tie).alias("tie_sum"),
    )
    N = F.col("n1") + F.col("n2")
    two_u1 = F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)
    mean2 = F.col("n1") * F.col("n2")  # 2 * mean(U)
    # try_divide twice: (a) the tie term divides by N(N-1)=0 when N=1;
    # (b) all-tied input makes tie_sum = N³-N so the bracket — and the
    # variance — is exactly 0, and the z denominator hits ANSI
    # DIVIDE_BY_ZERO (Hypothesis falsifying example: 6 vs 2 rows, one
    # value).  NULL z on zero variance matches the oracle's NULLIF.
    var = (
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * ((N + 1) - F.try_divide(F.col("tie_sum"), N * (N - 1)))
    )
    # clamp before sqrt (repo-shared idiom, cf. ols_cv/ridge/anomaly
    # zscore): a near-total tie block can round the bracket to a tiny
    # NEGATIVE, where Spark sqrt() yields NaN but the oracle's
    # sqrt(negative) is a hard DuckDB error. Exact-zero still flows
    # through try_divide/NULLIF -> NULL on both engines.
    var = F.when(var < 0, F.lit(0.0)).otherwise(var)
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        two_u1.cast("long").alias("u1_x2"),
        F.round(F.try_divide(two_u1 - mean2, 2.0 * F.sqrt(var)), 6).alias("z"),
    )


MANN_WHITNEY_ORACLE = """
WITH rollup AS (
  SELECT
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
    CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
    COUNT(*) AS ntv
  FROM orders
  GROUP BY 1
),
cum AS (
  SELECT n1v, ntv,
    CAST(SUM(ntv) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS ctot
  FROM rollup
),
tot AS (
  SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
         CAST(SUM(ntv) AS BIGINT) - CAST(SUM(n1v) AS BIGINT) AS n2
  FROM rollup
),
s AS (
  SELECT
    CAST(SUM(n1v * (2 * (ctot - ntv) + ntv + 1)) AS BIGINT) AS two_r1,
    CAST(SUM(ntv * ntv * ntv - ntv) AS BIGINT) AS tie_sum
  FROM cum
)
SELECT
  t.n1, t.n2,
  two_r1 - t.n1 * (t.n1 + 1) AS u1_x2,
  ROUND(
    (two_r1 - t.n1 * (t.n1 + 1) - t.n1 * t.n2)
    / NULLIF(2.0 * sqrt(
        CASE WHEN CAST(t.n1 AS DOUBLE) * t.n2 / 12.0
               * ((t.n1 + t.n2 + 1)
                  - CAST(tie_sum AS DOUBLE)
                    / NULLIF((t.n1 + t.n2) * (t.n1 + t.n2 - 1), 0)) < 0
             THEN 0
             ELSE CAST(t.n1 AS DOUBLE) * t.n2 / 12.0
               * ((t.n1 + t.n2 + 1)
                  - CAST(tie_sum AS DOUBLE)
                    / NULLIF((t.n1 + t.n2) * (t.n1 + t.n2 - 1), 0))
        END), 0),
    6) AS z
FROM tot t CROSS JOIN s
"""


def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    — the robust sibling of the Pearson `agg_correlation` entry —
    computed EXACTLY: tie-averaged ranks in doubled integer units
    from the packed two-stage prefix-sum (one pass per variable's
    distinct-value rollup), then the correlation's sufficient
    statistics as DECIMAL(38,0) sums (Spark decimal / DuckDB HUGEINT
    — both exact), so both engines produce bit-identical numerators
    and denominators; doubles appear only at the final sqrt/divide.

    Scale: two value-level rollups + prefix-sums (the KS skeleton),
    one broadcast join (50 quantity ranks), one shuffle join on the
    price map, one map-side-combinable aggregate. The doubled-rank
    decimal products stay within 38 digits beyond 10^9 rows.
    """
    from backend_model_spark.operators.scale_utils import with_global_rank

    li = load_table(spark, "lineitem", sf_dir).select(
        # FLOOR(x + 0.5): truncate-vs-round cast parity with DuckDB
        F.floor(F.col("l_quantity") + F.lit(0.5)).alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )

    def rank_map(col):
        rollup = li.groupBy(col).agg(F.count(F.lit(1)).alias("t"))
        ranked = with_global_rank(
            rollup, [F.col(col).asc()], "rk", prefix_sum=("t", "cum")
        )
        # doubled tie-averaged rank: 2*c_before + t + 1
        return ranked.select(
            col,
            (2 * (F.col("cum") - F.col("t")) + F.col("t") + 1).alias(f"r_{col}"),
        )

    rows = li.join(F.broadcast(rank_map("x")), "x").join(rank_map("y"), "y")
    d = lambda c: c.cast("decimal(38,0)")
    # products multiply in BIGINT (exact while doubled ranks satisfy
    # (2N+1)^2 < 2^63, i.e. N < 1.5e9 rows; ANSI mode fails loudly at
    # the boundary instead of corrupting) and only the ACCUMULATION
    # runs in decimal(38,0) — one 64-bit multiply + a decimal add per
    # row instead of two operand widenings + an int128 multiply.
    # Beyond 1.5e9 rows, widen the operands first (d(rx) * d(ry)).
    s = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("r_x"))).alias("sx"),
        F.sum(d(F.col("r_y"))).alias("sy"),
        F.sum(d(F.col("r_x") * F.col("r_y"))).alias("sxy"),
        F.sum(d(F.col("r_x") * F.col("r_x"))).alias("sxx"),
        F.sum(d(F.col("r_y") * F.col("r_y"))).alias("syy"),
    )
    n = d(F.col("n"))
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        # try_divide: zero rank variance (a constant column) makes
        # den 0 — NULL rho, matching the oracle's NULLIF
        F.round(F.try_divide(num, den), 6).alias("spearman_rho"),
    )


SPEARMAN_ORACLE = """
WITH li AS (
  SELECT CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
xr AS (
  SELECT x, 2 * (CAST(SUM(t) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
    AS BIGINT) - t) + t + 1 AS r_x
  FROM (SELECT x, COUNT(*) AS t FROM li GROUP BY x)
),
yr AS (
  SELECT y, 2 * (CAST(SUM(t) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
    AS BIGINT) - t) + t + 1 AS r_y
  FROM (SELECT y, COUNT(*) AS t FROM li GROUP BY y)
),
rows_r AS (
  SELECT CAST(r_x AS HUGEINT) AS rx, CAST(r_y AS HUGEINT) AS ry
  FROM li JOIN xr USING (x) JOIN yr USING (y)
),
s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
    SUM(rx) AS sx, SUM(ry) AS sy,
    SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
  FROM rows_r
)
SELECT CAST(n AS BIGINT) AS n,
  ROUND(
    CAST(n * sxy - sx * sy AS DOUBLE)
    / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0),
    6) AS spearman_rho
FROM s
"""


def mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact MODE of l_quantity per return flag — the
    aggregate Spark's built-in ``F.mode`` cannot pin down (its tie
    choice is arbitrary): the mode here is the most frequent value
    with the SMALLEST value as tiebreak, expressed as a value-level
    count rollup + a group-partitioned rank — the formulation that
    is deterministic on any engine and any partitioning.

    Scale: the rollup is map-side combinable and its cardinality is
    |groups| x |distinct values|; the rank window partitions on the
    group key — never global.
    """
    li = load_table(spark, "lineitem", sf_dir)
    counts = li.groupBy(
        # FLOOR(x + 0.5): truncate-vs-round cast parity with DuckDB
        "l_returnflag", F.floor(F.col("l_quantity") + F.lit(0.5)).alias("qty")
    ).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = W.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("qty"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("qty").alias("mode_quantity"),
            F.col("c").cast("long").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


MODE_EXACT_ORACLE = """
WITH counts AS (
  SELECT l_returnflag, CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty, COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT l_returnflag, qty, c,
    ROW_NUMBER() OVER (
      PARTITION BY l_returnflag ORDER BY c DESC, qty ASC
    ) AS rk
  FROM counts
)
SELECT l_returnflag, qty AS mode_quantity, CAST(c AS BIGINT) AS mode_count
FROM ranked WHERE rk = 1
ORDER BY l_returnflag
"""


# Fixed MINSTD-family hash rows for the count-min sketch: pairwise
# independent-enough (a·k + b mod p) with p = 2^31 − 1. Constants are
# part of the operator contract — the sketch is reproducible across
# engines, sessions, and partitionings because the hashes carry no
# runtime randomness.
CM_P = 2_147_483_647
CM_W = 512
CM_HASHES = [(1, 48271, 11), (2, 69621, 25), (3, 40692, 101), (4, 16807, 7)]


def countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: top-20 users by estimated
    event count, with the exact count and the sketch's overcount.

    The sketch is d×w = 4×512 integer cells — ADDITIVE state, so it is
    order- and partition-invariant (unlike Misra-Gries summaries, whose
    contents depend on stream order): each row hashes ``user_id`` with
    a fixed MINSTD-family (a·k + b) mod p mod w, and a cell is just
    COUNT(*) per (row, cell). Estimates take the min over the d cells a
    key maps to, which upper-bounds the true count (collisions only
    inflate). The query reports est, exact, and overcount = est − exact
    so the error is visible, and ranks by (est desc, user_id).

    Scale: the reduction to cells is one map-side-combinable aggregate
    whose OUTPUT is constant-size (2048 cells) regardless of input —
    the canonical 100 TB frequency primitive. Merging sketches across
    executors/days is cell-wise addition. Candidate scoring joins the
    tiny cell table back (broadcast-size); in production candidates
    come from a sampled prefilter rather than the full distinct, which
    here is bounded by the user dimension.
    """
    hashes = F.broadcast(
        spark.createDataFrame(CM_HASHES, "i int, a long, b long")
    )
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    cell = ((F.col("a") * F.col("user_id") + F.col("b")) % CM_P) % CM_W
    cells = (
        ev.crossJoin(hashes)
        .select("i", cell.alias("cell"))
        .groupBy("i", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = ev.distinct()
    est = (
        cand.crossJoin(hashes)
        .select("user_id", "i", cell.alias("cell"))
        .join(F.broadcast(cells), ["i", "cell"])
        .groupBy("user_id")
        .agg(F.min("c").cast("long").alias("est_cnt"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "est_cnt",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            (F.col("est_cnt") - F.col("exact_cnt"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.col("est_cnt").desc(), F.col("user_id").asc())
        .limit(20)
    )


COUNTMIN_TOPK_ORACLE = f"""
WITH hashes(i, a, b) AS (
  VALUES {", ".join(f"({i}, {a}, {b})" for i, a, b in CM_HASHES)}
),
ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
cells AS (
  SELECT i, ((a * user_id + b) % {CM_P}) % {CM_W} AS cell, COUNT(*) AS c
  FROM ev CROSS JOIN hashes
  GROUP BY 1, 2
),
cand AS (SELECT DISTINCT user_id FROM ev),
est AS (
  SELECT cand.user_id, CAST(MIN(c) AS BIGINT) AS est_cnt
  FROM cand CROSS JOIN hashes h
  JOIN cells
    ON cells.i = h.i
   AND cells.cell = ((h.a * cand.user_id + h.b) % {CM_P}) % {CM_W}
  GROUP BY 1
),
exact AS (SELECT user_id, COUNT(*) AS exact_cnt FROM ev GROUP BY 1)
SELECT est.user_id, est.est_cnt,
  CAST(exact.exact_cnt AS BIGINT) AS exact_cnt,
  CAST(est.est_cnt - exact.exact_cnt AS BIGINT) AS overcount
FROM est JOIN exact ON est.user_id = exact.user_id
ORDER BY est.est_cnt DESC, est.user_id ASC
LIMIT 20
"""


KMV_K = 256
# Two chained MINSTD steps: a single (a·u + b) mod p step never wraps
# for small consecutive ids (hashes stay LINEAR in u and the KMV
# estimator reads the slope, not the cardinality — measured 30× off).
# The second multiply forces mod-p wraparound mixing; fixed constants
# keep the sketch engine-exact. Verified ≤0.3% error at 1.5k/15k keys.
KMV_A, KMV_B, KMV_A2 = 48271, 11, 69621


def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / k-minimum-values) distinct sketch with set
    algebra — the deterministic counterpart to the rows-only HLL
    entries: under a FIXED Lehmer hash the k smallest hash values of a
    set are a pure function of its members, so sketches, their merges,
    and their estimates are bit-identical across engines, sessions,
    and partitionings — fully oracle-able, unlike HLL register noise.

    Segments: click users vs purchase users. Per segment the sketch is
    the k = 256 smallest distinct hashes; the distinct-count estimate
    is the textbook (k'−1)·p div h_(k') with k' = min(k, n) — all
    BIGINT arithmetic. Set algebra on merged sketches: the union
    estimate from the k smallest of A∪B, and the KMV intersection
    estimator (count of the union's bottom-k present in BOTH A and B,
    over k) — reported in integer micro-units alongside the EXACT
    distinct counts so the sketch error is visible.

    Scale: the per-segment distinct-hash frame is the only shuffled
    state and the sketch bound k caps everything downstream —
    constant-size mergeable summaries, the same contract as HLL but
    reproducible. (Production refinement: per-partition bottom-k
    before the global one; the window formulation here is the clear
    two-stage-ready shape.)
    """
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.col("event_type").alias("seg"),
            (
                (
                    F.lit(KMV_A2)
                    * (
                        (F.lit(KMV_A) * F.col("user_id") + F.lit(KMV_B))
                        % F.lit(2_147_483_647)
                    )
                )
                % F.lit(2_147_483_647)
            ).alias("h"),
        )
        .distinct()
    )
    w = W.partitionBy("seg").orderBy("h")
    bottom = ev.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= KMV_K)

    def _est(kp: str, hk: str) -> F.Column:
        return F.expr(
            f"case when {kp} > 1 then ({kp} - 1) * 2147483647 div {hk} "
            f"else {kp} end"
        )

    per_seg = bottom.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("kp"),
        F.max("h").alias("hk"),
    )
    exact = (
        ev.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    seg_rows = (
        per_seg.join(exact, "seg")
        .select(
            F.col("seg").alias("sketch"),
            F.col("kp").alias("k_used"),
            _est("kp", "hk").cast("long").alias("est_distinct"),
            "n_exact",
            F.lit(None).cast("long").alias("inter_of_k"),
            F.lit(None).cast("long").alias("jaccard_micro"),
        )
    )

    # union sketch: bottom-k(A∪B) ⊆ bottom-k(A) ∪ bottom-k(B) — the KMV
    # merge property — so the union rank runs over the MERGED BOTTOMS
    # (≤ 2k rows), never the full distinct-hash frame; membership for
    # the intersection estimator is likewise decided by the per-segment
    # bottoms (any union-bottom hash in a segment is within that
    # segment's k smallest). The merged bottoms are bounded by
    # construction (≤ 2·KMV_K rows at any data size), so the rank takes
    # the single-partition path: no pin and no driver collect at build.
    ub = with_global_rank(
        bottom.groupBy("h").agg(F.count(F.lit(1)).alias("n_segs")),
        [F.col("h").asc()],
        "rk",
        parts=1,
    ).filter(F.col("rk") <= KMV_K)
    union_row = ub.agg(
        F.lit("union").alias("sketch"),
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.expr(
            f"case when count(1) > 1 then (count(1) - 1) * 2147483647 "
            f"div max(h) else count(1) end"
        )
        .cast("long")
        .alias("est_distinct"),
        F.lit(None).cast("long").alias("n_exact"),
        F.sum(F.when(F.col("n_segs") == 2, 1).otherwise(0))
        .cast("long")
        .alias("inter_of_k"),
        F.expr(
            "cast(sum(case when n_segs = 2 then 1 else 0 end) * 1000000 "
            "div count(1) as bigint)"
        ).alias("jaccard_micro"),
    )
    return seg_rows.unionByName(union_row).orderBy("sketch")


KMV_SKETCH_ORACLE = f"""
WITH ev AS (
  SELECT DISTINCT event_type AS seg,
         ({KMV_A2} * (({KMV_A} * user_id + {KMV_B}) % 2147483647))
           % 2147483647 AS h
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
),
bottom AS (
  SELECT seg, h FROM (
    SELECT seg, h, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY h) AS rk
    FROM ev
  ) WHERE rk <= {KMV_K}
),
per_seg AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS kp, MAX(h) AS hk
  FROM bottom GROUP BY seg
),
exact AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_exact FROM ev GROUP BY seg
),
ub AS (
  SELECT h, n_segs FROM (
    SELECT h, COUNT(*) AS n_segs, ROW_NUMBER() OVER (ORDER BY h) AS rk
    FROM ev GROUP BY h
  ) WHERE rk <= {KMV_K}
)
SELECT seg AS sketch, kp AS k_used,
  CAST(CASE WHEN kp > 1 THEN (kp - 1) * 2147483647 // hk ELSE kp END
    AS BIGINT) AS est_distinct,
  n_exact,
  CAST(NULL AS BIGINT) AS inter_of_k,
  CAST(NULL AS BIGINT) AS jaccard_micro
FROM per_seg JOIN exact USING (seg)
UNION ALL
SELECT 'union', CAST(COUNT(*) AS BIGINT),
  CAST(CASE WHEN COUNT(*) > 1
       THEN (COUNT(*) - 1) * 2147483647 // MAX(h) ELSE COUNT(*) END
    AS BIGINT),
  CAST(NULL AS BIGINT),
  CAST(SUM(CASE WHEN n_segs = 2 THEN 1 ELSE 0 END) AS BIGINT),
  CAST(SUM(CASE WHEN n_segs = 2 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
    AS BIGINT)
FROM ub
ORDER BY sketch
"""


def log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (log2-bucket) histogram of order value — the
    long-tail distribution monitor linear buckets can't give
    (`agg_price_histogram` is the fixed-width sibling; a spend
    distribution spanning 4 decades needs ~40 log buckets where
    linear needs thousands). The bucket is floor(log2(cents))
    computed INTEGER-EXACTLY as ``length(bin(cents)) - 1`` — the bit
    length of the bigint — so no libm log ever touches a hashed or
    ordered value (the func_math discipline).

    Scale: one column-pruned scan, one map-side-combinable groupBy on
    ~40 bucket keys; the share column derives from a broadcast
    one-row total. Bucket bounds are reconstructed with integer
    shifts at the emit edge.
    """
    from backend_model_spark.operators.scale_utils import broadcast_scalars

    orders = load_table(spark, "orders", sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    buckets = (
        orders.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .withColumn("bucket", (F.length(F.expr("bin(cents)")) - 1).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    totals = buckets.agg(F.sum("n_orders").cast("bigint").alias("n_total"))
    return (
        broadcast_scalars(buckets, totals)
        .select(
            "bucket",
            F.expr("shiftleft(cast(1 as bigint), bucket)").alias("lo_cents"),
            F.expr(
                "shiftleft(cast(1 as bigint), bucket + 1) - 1"
            ).alias("hi_cents"),
            "n_orders",
            "sum_cents",
            F.expr(
                "cast(floor(n_orders / cast(n_total as double) * 1e6 + 0.5)"
                " as bigint)"
            ).alias("share_micro"),
        )
        .orderBy("bucket")
    )


LOG2_HISTOGRAM_ORACLE = """
WITH c AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
  WHERE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) > 0
),
buckets AS (
  SELECT CAST(length(bin(cents)) - 1 AS INTEGER) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM c GROUP BY 1
),
t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM buckets)
SELECT bucket,
  CAST(1::BIGINT << bucket AS BIGINT) AS lo_cents,
  CAST((1::BIGINT << (bucket + 1)) - 1 AS BIGINT) AS hi_cents,
  n_orders, sum_cents,
  CAST(FLOOR(n_orders / CAST(n_total AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
    AS share_micro
FROM buckets CROSS JOIN t
ORDER BY bucket
"""
