"""Join operators over the star schema (SURVEY.md §2.3 extension).

The reference has no joins (its only two-table op is a concat); these
are the equi/semi/anti joins the star-schema test tables demand, each
with the physical strategy called out:

* dimension ⨝ fact → ``F.broadcast`` on the dimension side: no shuffle
  of the fact table, the single thing that matters most at 100 TB.
* fact ⨝ fact (orders ⨝ lineitem) → sort-merge on the join key; AQE
  converts to shuffled-hash / handles skew at runtime.
* semi/anti → ``left_semi`` / ``left_anti`` (never a distinct+join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from backend_model_spark.operators.scale_utils import sort_bounded, with_global_rank
from backend_model_spark.sources.tables import load_table


def supplier_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast chain supplier ⨝ nation ⨝ region: counts + balance per
    region. Both dims are tiny → two broadcast joins, zero shuffles of
    supplier. One row per region, so the result sorts in one partition
    (:func:`sort_bounded`)."""
    sup = load_table(spark, "supplier", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    reg = load_table(spark, "region", sf_dir)
    per_region = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("sum_acctbal"),
        )
    )
    return sort_bounded(per_region, "r_name")


SUPPLIER_PER_REGION_ORACLE = """
SELECT r_name, COUNT(*) AS n_suppliers, ROUND(SUM(s_acctbal), 2) AS sum_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer ⨝ orders ⨝ lineitem with selective
    filters, revenue per order, top 10.

    customer is small relative to the facts → broadcast; orders ⨝
    lineitem is the sort-merge fact join. Filters push into all three
    scans before the joins.
    """
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cutoff = F.lit("1995-03-15").cast("timestamp")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q3_ORACLE = """
SELECT
  o_orderkey,
  o_orderdate,
  o_orderpriority,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: full dimension chain region→nation→customer
    joined to orders→lineitem, revenue per nation.

    The three dimension joins broadcast; the single real shuffle is
    orders ⨝ lineitem on orderkey. One row per nation, so the result is
    sorted in one partition (:func:`sort_bounded`).
    """
    reg = load_table(spark, "region", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return sort_bounded(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        ),
        F.col("revenue").desc(),
        F.col("n_name"),
    )


Q5_ORACLE = """
SELECT
  n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def customers_with_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having ≥1 order in a window.
    Semi joins short-circuit on first match — no fact-side fanout."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


SEMI_JOIN_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1997-01-01'
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_nationkey")
    )


ANTI_JOIN_ORACLE = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving order-less customers (count=0)."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


OUTER_JOIN_ORACLE = """
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
ORDER BY n_orders
"""


def price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: each order matched to the price band whose
    [lo, hi) interval contains its total price.

    Scale shape: the band table is tiny and the predicate is an
    interval containment, so the right plan is a **broadcast
    nested-loop against a handful of bands** — never a shuffle. With
    many fine-grained bands the scale path is binning both sides to
    an equi-key (floor(price/width)) first; here the bands are
    irregular, which is exactly when the broadcast range join is the
    honest formulation.
    """
    bands = spark.createDataFrame(
        [
            ("tiny", 0.0, 50_000.0),
            ("small", 50_000.0, 150_000.0),
            ("medium", 150_000.0, 300_000.0),
            ("large", 300_000.0, 1e18),
        ],
        "band string, lo double, hi double",
    )
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
        .orderBy("band")
    )


RANGE_JOIN_ORACLE = """
WITH bands(band, lo, hi) AS (
  VALUES
    ('tiny',   0.0,      50000.0),
    ('small',  50000.0,  150000.0),
    ('medium', 150000.0, 300000.0),
    ('large',  300000.0, 1e18)
)
SELECT
  band,
  COUNT(*) AS n_orders,
  ROUND(AVG(o_totalprice), 6) AS avg_price
FROM orders
JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
ORDER BY band
"""


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs most often
    ordered together. Self-join of lineitem on the order key with
    ``partkey_a < partkey_b`` — pair blowup is Σ lines²/order, bounded
    by TPC-H's ≤7 lines per order, NOT corpus-quadratic (the same
    bounded-posting argument as the shingle inverted index).

    Scale: one shuffle co-locates each order's lines; the pair
    explosion happens inside the joined partition; the pair count is
    map-side combinable. Top-20 is TakeOrderedAndProject.
    """
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
        .orderBy(
            F.col("n_orders_together").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(20)
    )


MARKET_BASKET_ORACLE = """
SELECT
  a.l_partkey AS part_a,
  b.l_partkey AS part_b,
  COUNT(*) AS n_orders_together
FROM lineitem a
JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
ORDER BY n_orders_together DESC, part_a ASC, part_b ASC
LIMIT 20
"""


def ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency distribution per order priority: exact
    p50/p90/p99 of days between order date and each line's ship date
    — the fulfillment-SLA query (latency percentiles per class).

    Scale: lineitem⨝orders shuffles once on orderkey (fact-fact);
    the exact grouped percentiles sort within each small priority
    group; approx_percentile is the documented swap at extreme scale.
    """
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("lat_days"),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.percentile("lat_days", F.lit(0.5)).alias("p50_days"),
            F.percentile("lat_days", F.lit(0.9)).alias("p90_days"),
            F.percentile("lat_days", F.lit(0.99)).alias("p99_days"),
            F.max("lat_days").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


SHIP_LATENCY_ORACLE = """
SELECT
  o_orderpriority,
  COUNT(*) AS n_lines,
  quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.5) AS p50_days,
  quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.9) AS p90_days,
  quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.99) AS p99_days,
  CAST(MAX(datediff('day', o_orderdate, l_shipdate)) AS INTEGER) AS max_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def order_backlog_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time by the sweep-line pattern: +1 at
    order placement, −1 at the order's last shipment, running-sum over
    the merged delta stream — interval counting without expanding
    each order into its active days (the expansion would be
    rows × avg-duration; the sweep is 2 rows per order).

    Reported monthly (count at month end) to keep the series compact.

    Scale: one shuffle to per-order ship completion, one to the delta
    stream's ordering; the running sum over DATE-level deltas is the
    global-rank prefix sum (:func:`with_global_rank`) on its
    single-partition path — the delta stream has one row per calendar
    day, so it is bounded by construction — with partition-keyed
    windows, never an unpartitioned WindowExec. Oracle unchanged.
    """
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir)
    done = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("done_date"))
    deltas = (
        orders.select(F.col("o_orderdate").alias("day"), F.lit(1).alias("delta"))
        .unionByName(
            orders.join(done, orders.o_orderkey == done.l_orderkey).select(
                F.col("done_date").alias("day"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    daily = with_global_rank(
        deltas,
        [F.col("day").asc()],
        "__rk",
        prefix_sum=("net", "backlog"),
        parts=1,
    ).drop("__rk")
    wm = W.partitionBy(F.date_format("day", "yyyy-MM")).orderBy(
        F.col("day").desc()
    )
    return (
        daily.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            F.date_format("day", "yyyy-MM").alias("month"),
            F.col("backlog").cast("bigint").alias("backlog_month_end"),
        )
        .orderBy("month")
    )


BACKLOG_ORACLE = """
WITH done AS (
  SELECT l_orderkey, MAX(l_shipdate) AS done_date
  FROM lineitem GROUP BY l_orderkey
),
deltas AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS net FROM (
    SELECT o_orderdate AS day, 1 AS delta FROM orders
    UNION ALL
    SELECT d.done_date AS day, -1 AS delta
    FROM orders o JOIN done d ON o.o_orderkey = d.l_orderkey
  ) GROUP BY day
),
daily AS (
  SELECT
    day,
    CAST(SUM(net) OVER (
      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS backlog,
    ROW_NUMBER() OVER (
      PARTITION BY strftime(day, '%Y-%m') ORDER BY day DESC
    ) AS rn
  FROM deltas
)
SELECT strftime(day, '%Y-%m') AS month, backlog AS backlog_month_end
FROM daily WHERE rn = 1
ORDER BY month
"""


# ---------------------------------------------------------------------------
# Manual join salting — the skew remedy when AQE and broadcast can't help
# ---------------------------------------------------------------------------

JOIN_SALT_R = 32  # ≥ shuffle parallelism / |hot keys|; raise with the cluster
# business-rule dimension: per-returnflag revenue adjustment (integer
# percent so the adjusted cents stay exact bigints on both engines)
FLAG_ADJUST = [("A", 95), ("N", 100), ("R", 90)]


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join onto an EXTREMELY skewed key (l_returnflag has
    3 values → 3 reducers own the whole fact table in a naive shuffle
    join): the fact side gets a content-addressed salt
    ``md5(orderkey) % R``, the 3-row rule dimension is exploded ×R,
    and the join runs on ``(flag, salt)`` — 3·R uniformly-sized tasks
    instead of 3 stragglers.

    `agg_salted_skew` shows the same remedy for skewed AGGREGATION;
    this is the join half of the toolkit, for engines/paths where the
    two automatic remedies don't apply: broadcast (here suppressed
    with a merge-join hint to force the pathological shuffle shape —
    in production the dim might be a bucketed table or a stream state
    store that cannot broadcast) and AQE skew-split (which only splits
    SORT-MERGE partitions post-shuffle and cannot help a shuffled-hash
    build side or a streaming co-partitioned join).

    Exactness: the salt derives from md5 content (partitioning-
    independent), joins are 1:1 per (row, salt), and the adjusted
    revenue is ``cents · pct`` in BIGINT — the oracle runs the plain
    unsalted join and must match bit-for-bit.
    """
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag",
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    dim = spark.createDataFrame(FLAG_ADJUST, "l_returnflag string, pct int")
    salted_fact = li.withColumn(
        "salt",
        F.expr(
            f"cast(conv(substring(md5(cast(l_orderkey as string)), 1, 4),"
            f" 16, 10) % {JOIN_SALT_R} as int)"
        ),
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(JOIN_SALT_R)]))
    )
    # shuffle_hash, not merge: the hash build side is the 3·R-row dim,
    # so the fact is shuffled but never SORTED (measured: the SMJ sort
    # of the full fact was 2.3× slower at 10× stress); broadcast is
    # still suppressed, which is the point of the demonstration
    joined = salted_fact.join(
        salted_dim.hint("shuffle_hash"), ["l_returnflag", "salt"]
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.col("cents") * F.col("pct")).cast("bigint").alias(
                "adj_cents_x100"
            ),
        )
        .orderBy("l_returnflag")
    )


SALTED_SKEW_JOIN_ORACLE = f"""
WITH dim(l_returnflag, pct) AS (
  VALUES {", ".join(f"('{f}', {p})" for f, p in FLAG_ADJUST)}
)
SELECT l.l_returnflag,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) * d.pct)
    AS BIGINT) AS adj_cents_x100
FROM lineitem l JOIN dim d USING (l_returnflag)
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""
