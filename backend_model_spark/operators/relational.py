"""Core relational operators, TPC-H-flavored, over the test star schema.

Each function is ``(spark, sf_dir) -> DataFrame`` and has a matching
ANSI-SQL oracle in :mod:`backend_model_spark.plans.registry`. Column
aliases are stable and identical on both sides (the driver hashes
values under name-sorted columns).

Float discipline: aggregates stay in double precision end-to-end and
are rounded **once at the edge** (``F.round(..., 2)``), so the
Spark/DuckDB comparison is insensitive to partial-aggregation order.

Reference parity: the reference's only aggregation surface is global
mean/count/describe over one flat table (SURVEY.md §2.5, e.g.
``EDA Notebook.ipynb`` cell 19 mean-price); grouped aggregation, joins
and windows are the scale extension mandated by SURVEY.md §2.3/§2.6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_model_spark.operators.scale_utils import broadcast_scalars, sort_bounded
from backend_model_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape).
# ---------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped pricing summary over lineitem (TPC-H Q1 shape).

    Scale: a single map-side-combinable hash aggregate over the fact
    table — no join, partial aggregation happens before the (tiny,
    4-group) shuffle. The shipdate filter and 7-column projection push
    into the parquet scan. The groups are returnflag × linestatus, so
    the result is sorted in one partition (:func:`sort_bounded`).
    """
    li = load_table(spark, "lineitem", sf_dir)
    return sort_bounded(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ),
        "l_returnflag",
        "l_linestatus",
    )


Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                          AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                                     AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
  ROUND(AVG(l_quantity), 6)                                          AS avg_qty,
  ROUND(AVG(l_extendedprice), 6)                                     AS avg_price,
  ROUND(AVG(l_discount), 6)                                          AS avg_disc,
  COUNT(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-and-sum, zero shuffle beyond the
    single-row final agg. Every predicate reaches the parquet scan
    (PushedFilters) so at 100 TB the scan skips row groups on
    min/max — the cheapest query in the suite by design.

    Reference parity: this is the reference's global-aggregate
    pattern (SURVEY §2.5 A2) under selective predicates (P4).
    """
    li = load_table(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


Q6_ORACLE = """
SELECT
  ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


def unpivot_lineitem_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-row rate columns → long (metric,
    value) rows via ``stack`` — a pure projection (the generator runs
    inside codegen, no shuffle), aggregated per metric."""
    li = load_table(spark, "lineitem", sf_dir)
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'discount', l_discount, 'tax', l_tax, 'quantity', l_quantity)"
        ).alias("metric", "val"),
    )
    return (
        long.groupBy("metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 6).alias("avg_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
        .orderBy("metric")
    )


UNPIVOT_ORACLE = """
WITH long AS (
  SELECT 'discount' AS metric, l_discount AS val FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem
  UNION ALL SELECT 'quantity', l_quantity FROM lineitem
)
SELECT metric, COUNT(*) AS n,
       ROUND(AVG(val), 6) AS avg_val,
       ROUND(MAX(val), 6) AS max_val
FROM long GROUP BY metric ORDER BY metric
"""


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit — the constraint checks a pipeline gates on,
    as one DataFrame of (check, n_checked, n_violations):

    * primary-key uniqueness of o_orderkey;
    * referential integrity orders→customer (FK orphans via
      left_anti);
    * null rate of o_totalprice;
    * domain rule o_totalprice > 0.

    Scale: each check is a column-pruned scan + conditional aggregate;
    the FK check is the only join (anti join, builds a hash on the
    customer KEY column only). The union glues four one-row frames —
    driver-side cost only.
    """
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)

    uniq = orders.agg(
        F.lit("pk_unique_orderkey").alias("check"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "n_violations"
        ),
    )
    orphans = orders.join(
        customer, orders.o_custkey == customer.c_custkey, "left_anti"
    ).agg(
        F.lit("fk_orders_customer").alias("check"),
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.lit(1)).alias("n_violations"),
    )
    nulls = orders.agg(
        F.lit("notnull_totalprice").alias("check"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.col("o_totalprice").isNull().cast("bigint")).alias(
            "n_violations"
        ),
    )
    domain = orders.agg(
        F.lit("positive_totalprice").alias("check"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias(
            "n_violations"
        ),
    )
    return (
        uniq.unionByName(orphans).unionByName(nulls).unionByName(domain)
    ).orderBy("check")


DQ_AUDIT_ORACLE = """
SELECT 'fk_orders_customer' AS check,
       COUNT(*) AS n_checked,
       COUNT(*) AS n_violations
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'notnull_totalprice',
       COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'pk_unique_orderkey',
       COUNT(*),
       COUNT(*) - COUNT(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'positive_totalprice',
       COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
ORDER BY "check"
"""


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensics on order totals: observed first-digit
    frequencies vs the log10(1 + 1/d) expectation — the classic
    fabricated-numbers screen, a data-quality companion to
    :func:`dq_audit`.

    Digit extraction is string-based (first char of the integer part
    — exact); only the expected-share constants and the deviation are
    floats, floor-rounded at the edge.

    Scale: single scan, 9-row aggregate; nothing shuffles but digit
    counts. The total is a broadcast one-row scalar off the pinned
    9-row count table (a global-sum window would plan an unpartitioned
    WindowExec).
    """
    orders = load_table(spark, "orders", sf_dir)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        orders.withColumn("d", digit)
        .filter(F.col("d") >= 1)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint(eager=False)
    total = counts.agg(F.sum("n").alias("__total"))
    r6 = lambda c: F.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0  # noqa: E731
    observed = F.col("n") / F.col("__total")
    expected = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        broadcast_scalars(counts, total).select(
            "d",
            "n",
            r6(observed).alias("observed_share"),
            r6(expected).alias("benford_share"),
            r6(observed - expected).alias("deviation"),
        )
        .orderBy("d")
    )


BENFORD_ORACLE = """
WITH counts AS (
  SELECT
    CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
         AS INTEGER) AS d,
    COUNT(*) AS n
  FROM orders
  WHERE CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
             AS INTEGER) >= 1
  GROUP BY d
)
SELECT
  d,
  n,
  FLOOR(n / CAST(SUM(n) OVER () AS DOUBLE) * 1000000 + 0.5) / 1000000
    AS observed_share,
  FLOOR(LOG10(1.0 + 1.0 / d) * 1000000 + 0.5) / 1000000 AS benford_share,
  FLOOR((n / CAST(SUM(n) OVER () AS DOUBLE) - LOG10(1.0 + 1.0 / d))
        * 1000000 + 0.5) / 1000000 AS deviation
FROM counts
ORDER BY d
"""


def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via ``Observation``
    (``df.observe``): count, null count, and value bounds collected as
    accumulator-style metrics DURING a pass-through write of lineitem
    — zero extra scans, zero extra shuffles — then returned as the
    result frame. The production pattern for per-job DQ dashboards:
    metrics ride the job you were already running instead of a second
    audit query (contrast :func:`dq_audit`, the standalone-audit
    shape).

    Scale: ``observe`` compiles to an aggregate over accumulators
    inside the existing plan — the metric cost is a per-row update,
    no materialization; the observed values arrive on the driver with
    the action's completion.
    """
    from pyspark.sql import Observation

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("bigint")).alias("null_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.floor(F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5)))
        .cast("bigint")
        .alias("price_cents_sum"),
    )
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [
            (
                int(row["n_rows"]),
                int(row["null_qty"]),
                float(row["min_qty"]),
                float(row["max_qty"]),
                int(row["price_cents_sum"]),
            )
        ],
        "n_rows bigint, null_qty bigint, min_qty double, max_qty double,"
        " price_cents_sum bigint",
    )


DQ_OBSERVE_ORACLE = """
SELECT
  COUNT(*) AS n_rows,
  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS null_qty,
  MIN(l_quantity) AS min_qty,
  MAX(l_quantity) AS max_qty,
  CAST(FLOOR(SUM(FLOOR(l_extendedprice * 100 + 0.5))) AS BIGINT)
    AS price_cents_sum
FROM lineitem
"""


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day — the
    information-theoretic column-dependence profile (the multivariate
    sibling of the chi-square independence test): I(X;Y) =
    sum p_xy * ln(p_xy / (p_x * p_y)) over the joint contingency
    table, with the marginal entropies H(X), H(Y) and the normalized
    MI / min(H) alongside.

    Scale: one map-side-combinable groupBy builds the joint table
    (|types| x 24 cells); marginals RE-AGGREGATE the persisted cell
    frame (never rescan events); N is a broadcast scalar. The log
    terms keep integer arguments (n_xy * N) / (n_x * n_y) inside ln
    — one float op per cell, rounded once at the edge.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    joint = (
        ev.select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    joint = joint.persist()
    mx = joint.groupBy("event_type").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("hr").agg(F.sum("nxy").alias("ny"))
    totals = joint.agg(F.sum("nxy").cast("double").alias("n"))
    cells = (
        joint.join(mx, "event_type")
        .join(my, "hr")
    )
    cells = broadcast_scalars(cells, totals)
    mi_term = (
        F.col("nxy")
        / F.col("n")
        * F.log(
            F.col("nxy").cast("double")
            * F.col("n")
            / (F.col("nx").cast("double") * F.col("ny"))
        )
    )
    mi = cells.agg(F.sum(mi_term).alias("mi"))
    hx = broadcast_scalars(mx, totals).agg(
        (
            F.log(F.first("n"))
            - F.sum(F.col("nx") * F.log(F.col("nx").cast("double"))) / F.first("n")
        ).alias("hx")
    )
    hy = broadcast_scalars(my, totals).agg(
        (
            F.log(F.first("n"))
            - F.sum(F.col("ny") * F.log(F.col("ny").cast("double"))) / F.first("n")
        ).alias("hy")
    )
    out = (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(totals))
    )
    return out.select(
        F.col("n").cast("long").alias("n_events"),
        F.round("hx", 6).alias("h_type"),
        F.round("hy", 6).alias("h_hour"),
        F.round("mi", 6).alias("mi_nats"),
        F.round(F.col("mi") / F.least(F.col("hx"), F.col("hy")), 6).alias(
            "mi_normalized"
        ),
    )


MUTUAL_INFO_ORACLE = """
WITH joint AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hr, COUNT(*) AS nxy
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
mx AS (SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint GROUP BY 1),
my AS (SELECT hr, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint GROUP BY 1),
tot AS (SELECT CAST(SUM(nxy) AS DOUBLE) AS n FROM joint),
mi AS (
  SELECT SUM(j.nxy / t.n * ln(j.nxy * t.n / (m.nx * CAST(h.ny AS DOUBLE))))
    AS mi
  FROM joint j
  JOIN mx m USING (event_type)
  JOIN my h USING (hr)
  CROSS JOIN tot t
),
hx AS (
  SELECT ln(t.n) - SUM(m.nx * ln(CAST(m.nx AS DOUBLE))) / t.n AS hx
  FROM mx m CROSS JOIN tot t GROUP BY t.n
),
hy AS (
  SELECT ln(t.n) - SUM(h.ny * ln(CAST(h.ny AS DOUBLE))) / t.n AS hy
  FROM my h CROSS JOIN tot t GROUP BY t.n
)
SELECT
  CAST(t.n AS BIGINT) AS n_events,
  ROUND(hx.hx, 6) AS h_type,
  ROUND(hy.hy, 6) AS h_hour,
  ROUND(mi.mi, 6) AS mi_nats,
  ROUND(mi.mi / LEAST(hx.hx, hy.hy), 6) AS mi_normalized
FROM tot t CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity risk audit over customer quasi-identifiers
    (nation × market segment) — the re-identification gate a
    training-data release runs before shipping: for each k threshold,
    how many equivalence classes fall below it and what fraction of
    ROWS they expose. Output: one row per k in (2, 5, 10, 25) with
    (k, n_classes_below, n_rows_below, pct_rows_below_micro,
    min_class_size) — min_class_size is the corpus's actual
    k-anonymity level, repeated per row.

    Scale: ONE groupBy on the quasi-identifier tuple (map-side
    combinable — class count ≤ |nations|·|segments|, tiny), then every
    threshold evaluates on the class-size frame: conditional
    aggregation over ~125 rows, a broadcast-scalar total, no second
    scan. At 100 TB this is a single shuffle of pre-aggregated class
    counts. Integer-micro pct keeps the oracle exact.
    """
    cust = load_table(spark, "customer", sf_dir)
    # ≤ |nations|·|segments| rows — persist the SMALL intermediate so
    # the totals branch reuses it instead of re-scanning customer
    classes = (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cls"))
        .persist()
    )
    from backend_model_spark.operators.scale_utils import broadcast_scalars, sort_bounded

    totals = classes.agg(
        F.sum("cls").alias("n_rows"), F.min("cls").alias("min_cls")
    )
    j = broadcast_scalars(classes, totals)
    # every threshold's conditional sums live in ONE aggregation and
    # the four k-rows explode out of that single row — a union of
    # per-k .agg() branches off the unpersisted class frame would
    # re-derive it per k (measured 8 file scans; Spark does not reuse
    # shared subplans)
    ks = (2, 5, 10, 25)
    one = j.agg(
        F.first("n_rows").alias("n_rows"),
        F.first("min_cls").alias("min_cls"),
        *[
            a
            for k in ks
            for a in (
                F.sum((F.col("cls") < k).cast("long")).alias(f"ncb_{k}"),
                F.sum(
                    F.when(F.col("cls") < k, F.col("cls")).otherwise(0)
                ).alias(f"nrb_{k}"),
            )
        ],
    )
    k_row = lambda k: F.struct(  # noqa: E731
        F.lit(k).alias("k"),
        F.col(f"ncb_{k}").alias("n_classes_below"),
        F.col(f"nrb_{k}").cast("long").alias("n_rows_below"),
        F.floor(
            F.col(f"nrb_{k}") / F.col("n_rows") * 1000000 + F.lit(0.5)
        ).alias("pct_rows_below_micro"),
        F.col("min_cls").cast("long").alias("min_class_size"),
    )
    return (
        one.select(F.explode(F.array(*[k_row(k) for k in ks])).alias("r"))
        .select("r.*")
        .orderBy("k")
    )


K_ANONYMITY_ORACLE = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS cls
  FROM customer GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(cls) AS BIGINT) AS n_rows, CAST(MIN(cls) AS BIGINT) AS min_cls
  FROM classes
),
ks AS (SELECT unnest([2, 5, 10, 25]) AS k)
SELECT ks.k,
  CAST(SUM(CASE WHEN c.cls < ks.k THEN 1 ELSE 0 END) AS BIGINT)
    AS n_classes_below,
  CAST(SUM(CASE WHEN c.cls < ks.k THEN c.cls ELSE 0 END) AS BIGINT)
    AS n_rows_below,
  CAST(FLOOR(CAST(SUM(CASE WHEN c.cls < ks.k THEN c.cls ELSE 0 END) AS DOUBLE)
    / t.n_rows * 1000000 + 0.5) AS BIGINT) AS pct_rows_below_micro,
  t.min_cls AS min_class_size
FROM classes c CROSS JOIN tot t CROSS JOIN ks
GROUP BY ks.k, t.n_rows, t.min_cls
ORDER BY k
"""
