"""Window-function operators (SURVEY.md §2.6 extension surface).

None exist in the reference (flat pandas); these are the ranking /
offset / frame operators a scale pipeline needs. Every window carries
a unique ordering key so results are deterministic for the oracle.

Scale note: a window = one shuffle on partitionBy keys + per-partition
sort. Partition keys are chosen high-cardinality (custkey, user_id) so
partitions stay small; a window with no partitionBy would serialize
the world through one task and is never used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from backend_model_spark.operators.scale_utils import (
    broadcast_scalars,
    with_global_ntile,
    with_global_rank,
)
from backend_model_spark.sources.tables import load_table


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per customer → each customer's top-2 orders by price."""
    orders = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


TOP_PER_CUSTOMER_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT
    o_custkey, o_orderkey, o_totalprice,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
    ) AS INTEGER) AS rn
  FROM orders
)
WHERE rn <= 2
ORDER BY o_custkey, rn
"""


def running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer over order history (rows frame with
    a unique order key → deterministic across engines)."""
    orders = load_table(spark, "orders", sf_dir)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(2000)
    )


RUNNING_TOTAL_ORACLE = """
SELECT o_custkey, o_orderkey,
  ROUND(SUM(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ), 2) AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
LIMIT 2000
"""


def event_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): per-user delta between consecutive event values."""
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(
                F.col("value") - F.lag("value", 1).over(w), 6
            ).alias("value_delta"),
        )
        .orderBy("user_id", "event_id")
        .limit(5000)
    )


EVENT_DELTAS_ORACLE = """
SELECT user_id, event_id,
  ROUND(value - LAG(value, 1) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
  ), 6) AS value_delta
FROM events
ORDER BY user_id, event_id
LIMIT 5000
"""


def rolling_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean over a 4-row frame per user (rowsBetween)."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, 0)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.avg("value").over(w), 6).alias("rolling_avg_4"),
        )
        .orderBy("user_id", "event_id")
        .limit(5000)
    )


ROLLING_AVG_ORACLE = """
SELECT user_id, event_id,
  ROUND(AVG(value) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
  ), 6) AS rolling_avg_4
FROM events
ORDER BY user_id, event_id
LIMIT 5000
"""


def dense_rank_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank of part price within brand (rank semantics on ties
    are engine-identical; price ties share a rank)."""
    part = load_table(spark, "part", sf_dir)
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.dense_rank().over(w).alias("price_rank"),
        )
        .filter(F.col("price_rank") <= 3)
        .orderBy("p_brand", "price_rank", "p_partkey")
    )


DENSE_RANK_ORACLE = """
SELECT p_brand, p_partkey, p_retailprice, price_rank
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
    CAST(DENSE_RANK() OVER (
      PARTITION BY p_brand ORDER BY p_retailprice DESC
    ) AS INTEGER) AS price_rank
  FROM part
)
WHERE price_rank <= 3
ORDER BY p_brand, price_rank, p_partkey
"""


def ntile_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) balance quartiles per market segment + quartile stats."""
    cust = load_table(spark, "customer", sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_balance"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


NTILE_ORACLE = """
SELECT c_mktsegment, quartile, COUNT(*) AS n_customers,
       ROUND(AVG(c_acctbal), 6) AS avg_balance
FROM (
  SELECT c_mktsegment, c_acctbal,
    CAST(NTILE(4) OVER (
      PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC
    ) AS INTEGER) AS quartile
  FROM customer
)
GROUP BY c_mktsegment, quartile
ORDER BY c_mktsegment, quartile
"""


def distribution_stats_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist of customer balance within nation, plus
    first_value/last_value over the fully-ordered partition (poorest /
    richest custkey per nation).

    Scale note: one shuffle on the partition key; every window shares
    the same (nation, balance, custkey) sort so Spark evaluates all
    five functions in a single Window physical node.
    """
    cust = load_table(spark, "customer", sf_dir)
    order = [F.col("c_acctbal").asc(), F.col("c_custkey").asc()]
    w = W.partitionBy("c_nationkey").orderBy(*order)
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
            F.first("c_custkey").over(w_full).alias("poorest_custkey"),
            F.last("c_custkey").over(w_full).alias("richest_custkey"),
        )
        .filter(F.col("c_nationkey") <= 4)
        .orderBy("c_nationkey", "c_acctbal", "c_custkey")
    )


DISTRIBUTION_STATS_ORACLE = """
SELECT c_nationkey, c_custkey, c_acctbal,
  ROUND(PERCENT_RANK() OVER (
    PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC
  ), 6) AS pct_rank,
  ROUND(CUME_DIST() OVER (
    PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC
  ), 6) AS cume_dist,
  FIRST_VALUE(c_custkey) OVER (
    PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  ) AS poorest_custkey,
  LAST_VALUE(c_custkey) OVER (
    PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  ) AS richest_custkey
FROM customer
WHERE c_nationkey <= 4
ORDER BY c_nationkey, c_acctbal, c_custkey
"""


def range_frame_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: for each order, how many same-status orders
    fall within the trailing 50k price band, and their banded total.

    A RANGE frame is value-defined, so ties share one frame and the
    result is partition-order independent. The banded sum uses the
    exact-cents discipline (floor(x*100+0.5) summed as integers) so
    sliding-accumulator float order can't drift from the oracle.

    Scale rewrite (round 3): the naive ``partitionBy(status)
    .rangeBetween(-50000, current)`` is a scale-killer twice over —
    ``o_orderstatus`` has 3 values, so each window partition is a
    third of the table through ONE task, and Spark re-accumulates a
    bounded sliding frame per row, O(rows × band occupancy) per
    partition (measured 23 s at sf0.1 vs ~2 s for this form). The
    decomposition: bucket prices into band-width (50k) buckets; a
    trailing band [p−50k, p] touches exactly buckets ``b`` and
    ``b−1``, so the frame aggregate splits into
    * a within-bucket running (RANGE-cumulative, tie-correct) prefix
      over ``(status, bucket)`` — every bucket-``b`` row is ≥ p−50k
      by construction, and
    * a neighbor-bucket suffix at threshold p−50k: probes (one per
      row, keyed into bucket ``b−1``) unioned with that bucket's rows
      and swept DESC by value, running count/sum of data rows —
      RANGE semantics make the threshold inclusive and tie-safe.
    Window partitions become (status × bucket) — thousands of
    bounded cells at any scale — and every pass is O(n log n); the
    final assembly is one equi-join on the unique order key.
    """
    band = 50_000
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn(
        "cents", F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    ).withColumn("bkt", F.floor(F.col("o_totalprice") / band).cast("bigint"))

    # component 1: tie-correct cumulative within (status, bucket)
    w_in = (
        W.partitionBy("o_orderstatus", "bkt")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    within = base.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count(F.lit(1)).over(w_in).alias("cnt_in"),
        F.sum("cents").over(w_in).alias("sum_in"),
    )

    # component 2: suffix of bucket b-1 at threshold p-50k, via the
    # union-tag sweep (same pattern as the as-of join)
    probes = base.select(
        "o_orderstatus",
        (F.col("bkt") - 1).alias("bkt"),
        (F.col("o_totalprice") - band).alias("val"),
        F.col("o_orderkey").alias("probe_key"),
        F.lit(0).alias("is_data"),
        F.lit(0).cast("bigint").alias("dcents"),
    )
    data = base.select(
        "o_orderstatus",
        "bkt",
        F.col("o_totalprice").alias("val"),
        F.lit(None).cast("bigint").alias("probe_key"),
        F.lit(1).alias("is_data"),
        F.col("cents").alias("dcents"),
    )
    w_desc = (
        W.partitionBy("o_orderstatus", "bkt")
        .orderBy(F.col("val").desc())
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    prev = (
        probes.unionByName(data)
        .select(
            "probe_key",
            F.sum("is_data").over(w_desc).alias("cnt_prev"),
            F.sum("dcents").over(w_desc).alias("sum_prev"),
        )
        .filter(F.col("probe_key").isNotNull())
    )

    return (
        within.join(prev, within.o_orderkey == prev.probe_key)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            (F.col("cnt_in") + F.col("cnt_prev")).alias("n_in_band"),
            F.round(
                (F.col("sum_in") + F.coalesce(F.col("sum_prev"), F.lit(0)))
                / 100.0,
                2,
            ).alias("band_total"),
        )
        .filter(F.col("o_totalprice") >= 400_000)
        .orderBy("o_orderstatus", "o_totalprice", "o_orderkey")
    )


RANGE_FRAME_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
  COUNT(*) OVER band AS n_in_band,
  ROUND(SUM(FLOOR(o_totalprice * 100 + 0.5)) OVER band / 100.0, 2)
    AS band_total
FROM orders
WINDOW band AS (
  PARTITION BY o_orderstatus ORDER BY o_totalprice
  RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW
)
QUALIFY o_totalprice >= 400000
ORDER BY o_orderstatus, o_totalprice, o_orderkey
"""


def revenue_growth_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year growth
    — the period-over-period dashboard staple, via lag at two offsets
    over the aggregated month series (never over raw orders).

    Growth is null where the comparison period is absent (first month
    / first year) — no silent zero-fill. Exact cents; ratios
    floor-rounded at the edge.

    Scale: lag(1)/lag(12) over the month series would plan a global
    WindowExec; instead the series gets an exact global rank
    (:func:`with_global_rank`, single-partition path: the month
    series is bounded by the calendar) and each offset becomes a
    broadcast self-join on rank−k — identical LAG semantics (previous
    existing row, not previous calendar month, so gap months behave
    the same as the oracle's LAG).
    """
    orders = load_table(spark, "orders", sf_dir)
    monthly = (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    ranked = with_global_rank(monthly, [F.col("month").asc()], "__rk", parts=1)
    prev_m = ranked.select(
        (F.col("__rk") + 1).alias("__rk"), F.col("cents").alias("prev_m")
    )
    prev_y = ranked.select(
        (F.col("__rk") + 12).alias("__rk"), F.col("cents").alias("prev_y")
    )
    r6 = lambda c: F.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0  # noqa: E731
    return (
        ranked.join(F.broadcast(prev_m), "__rk", "left")
        .join(F.broadcast(prev_y), "__rk", "left")
        .select(
            "month",
            "n_orders",
            "cents",
            r6((F.col("cents") - F.col("prev_m")) / F.col("prev_m")).alias(
                "mom_growth"
            ),
            r6((F.col("cents") - F.col("prev_y")) / F.col("prev_y")).alias(
                "yoy_growth"
            ),
        )
        .orderBy("month")
    )


REVENUE_GROWTH_ORACLE = """
WITH monthly AS (
  SELECT
    strftime(o_orderdate, '%Y-%m') AS month,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS cents,
    COUNT(*) AS n_orders
  FROM orders
  GROUP BY month
),
laged AS (
  SELECT
    month, n_orders, cents,
    LAG(cents, 1) OVER (ORDER BY month) AS prev_m,
    LAG(cents, 12) OVER (ORDER BY month) AS prev_y
  FROM monthly
)
SELECT
  month, n_orders, cents,
  FLOOR((cents - prev_m) / CAST(prev_m AS DOUBLE) * 1000000 + 0.5) / 1000000
    AS mom_growth,
  FLOOR((cents - prev_y) / CAST(prev_y AS DOUBLE) * 1000000 + 0.5) / 1000000
    AS yoy_growth
FROM laged
ORDER BY month
"""


def percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent across the geography hierarchy: each nation's
    revenue share within its region, and each region's share of the
    total — two window levels over the AGGREGATED nation table (the
    OLAP share-of-hierarchy shape).

    Scale: orders⨝customer shuffles once on custkey; nation/region
    joins broadcast; both share windows run on the ≤25-row nation
    rollup.
    """
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    per_nation = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("cents")
        )
    )
    r6 = lambda c: F.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0  # noqa: E731
    # Nation-level rollup is tiny but the global-sum window would still
    # plan an unpartitioned WindowExec; pin one materialization and
    # broadcast the grand total as a one-row scalar instead.
    per_nation = per_nation.localCheckpoint(eager=False)
    grand = per_nation.agg(F.sum("cents").alias("__grand"))
    region_total = F.sum("cents").over(W.partitionBy("region"))
    return (
        broadcast_scalars(per_nation, grand)
        .select(
            "region",
            "nation",
            "cents",
            r6(F.col("cents") / region_total).alias("share_of_region"),
            r6(region_total / F.col("__grand")).alias("region_share_of_total"),
        )
        .orderBy("region", "nation")
    )


PERCENT_OF_PARENT_ORACLE = """
WITH per_nation AS (
  SELECT
    r_name AS region,
    n_name AS nation,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT
  region,
  nation,
  cents,
  FLOOR(cents / CAST(SUM(cents) OVER (PARTITION BY region) AS DOUBLE)
        * 1000000 + 0.5) / 1000000 AS share_of_region,
  FLOOR(SUM(cents) OVER (PARTITION BY region)
        / CAST(SUM(cents) OVER () AS DOUBLE) * 1000000 + 0.5) / 1000000
    AS region_share_of_total
FROM per_nation
ORDER BY region, nation
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintiles via ntile over the per-customer rollup, reported as
    segment counts — the classic marketing-analytics composite.

    Determinism: every ntile ordering carries the customer key as a
    tie-break (equal metric values would otherwise land in
    engine-dependent quintiles). Recency ranks by most-recent order
    date DESC so quintile 1 = most recent, matching the R in RFM.

    Scale: one shuffle to the customer rollup, then three
    :func:`with_global_ntile` passes — each a range-shuffle +
    per-partition rank, never a single-partition sort (the round-2
    global ``ntile`` windows serialized every customer through one
    task). Exact-NTILE semantics preserved, so the oracle is
    unchanged. The segment aggregate is 125 cells max.
    """
    orders = load_table(spark, "orders", sf_dir)
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        ).alias("cents"),
    )
    r_o = [F.col("last_order").desc(), F.col("o_custkey").asc()]
    f_o = [F.col("n_orders").desc(), F.col("o_custkey").asc()]
    m_o = [F.col("cents").desc(), F.col("o_custkey").asc()]
    scored = with_global_ntile(
        with_global_ntile(
            with_global_ntile(per_cust, 5, r_o, "r"), 5, f_o, "f"
        ),
        5,
        m_o,
        "m",
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("segment_cents"),
        )
        .orderBy("r", "f", "m")
    )


RFM_ORACLE = """
WITH per_cust AS (
  SELECT
    o_custkey,
    MAX(o_orderdate) AS last_order,
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT
    NTILE(5) OVER (ORDER BY last_order DESC, o_custkey ASC) AS r,
    NTILE(5) OVER (ORDER BY n_orders DESC, o_custkey ASC) AS f,
    NTILE(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS m,
    cents
  FROM per_cust
)
SELECT
  r, f, m,
  COUNT(*) AS n_customers,
  CAST(SUM(cents) AS BIGINT) AS segment_cents
FROM scored
GROUP BY r, f, m
ORDER BY r, f, m
"""


def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily revenue series: for
    each day, drawdown = running-peak(cumulative revenue) − cumulative
    revenue; report the 3 worst days — the risk metric every
    finance/ops dashboard derives from an equity curve. Entirely in
    integer cents, so both engines are bit-exact at every step.

    Scale: corpus-width work is ONE map-side daily rollup of orders.
    The rollup is bounded by the calendar (one row per order day, a
    few thousand at any scale factor), so the running sum and the
    running peak take :func:`with_global_rank`'s single-partition path
    (``parts=1``): a one-partition range exchange and partition-keyed
    windows, with no pin and no driver-collected offsets — building
    the DataFrame runs no Spark job, and the plan still holds no
    unpartitioned WindowExec. Top-3 is a TakeOrderedAndProject.
    """
    orders = load_table(spark, "orders", sf_dir)
    daily = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "rev_cents"
        )
    )
    cum = with_global_rank(
        daily,
        [F.col("day").asc()],
        "t",
        prefix_sum=("rev_cents", "cum_cents"),
        parts=1,
    )
    peaked = with_global_rank(
        cum,
        [F.col("day").asc()],
        "t2",
        prefix_max=("cum_cents", "peak_cents"),
        parts=1,
    ).drop("t2")
    return (
        peaked.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("t").cast("long").alias("t"),
            (F.col("cum_cents") / 100.0).alias("cum_revenue"),
            (F.col("peak_cents") / 100.0).alias("peak_revenue"),
            ((F.col("peak_cents") - F.col("cum_cents")) / 100.0).alias("drawdown"),
        )
        .orderBy(F.col("drawdown").desc(), F.col("day").asc())
        .limit(3)
    )


MAX_DRAWDOWN_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS rev_cents
  FROM orders GROUP BY 1
),
cum AS (
  SELECT day,
    ROW_NUMBER() OVER (ORDER BY day ASC) AS t,
    SUM(rev_cents) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING)
      AS cum_cents
  FROM daily
),
peaked AS (
  SELECT *,
    MAX(cum_cents) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING)
      AS peak_cents
  FROM cum
)
SELECT
  strftime(day, '%Y-%m-%d') AS day,
  CAST(t AS BIGINT) AS t,
  cum_cents / 100.0 AS cum_revenue,
  peak_cents / 100.0 AS peak_revenue,
  (peak_cents - cum_cents) / 100.0 AS drawdown
FROM peaked
ORDER BY drawdown DESC, day ASC
LIMIT 3
"""
