"""Event/time-series operators over the ``events`` table.

The reference has no time-series surface (its only temporal column is
collapsed to epoch-days, SURVEY.md §2.11); these are the batch halves
of the streaming extension: time-bucket rollups, JSON prop parsing,
gap-based sessionization, and an as-of join — each expressed so the
same logic runs under Structured Streaming (see
:mod:`backend_model_spark.streaming`).

Scale notes: all operators shuffle once on ``user_id`` (high
cardinality, ~uniform) or on the time bucket; sessionization is a
window + prefix-sum, not a self-join; the as-of join is the
union-tag-window formulation — O(n log n) per user, no range
explosion, robust to 100 TB where a naive range join would be
quadratic.
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
from backend_model_spark.sources.tables import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def _us(col):
    """Epoch microseconds of a timestamp_ntz column (UTC session)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type (batch half of the
    streaming windowed agg). Bucket emitted as a string so both
    engines hash identical values."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_bucket"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour_bucket", "event_type")
    )


HOURLY_ROLLUP_ORACLE = """
SELECT
  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
  event_type,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour_bucket, event_type
"""


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` column (semi-structured ingestion):
    extract ``$.k`` as int, aggregate per event type."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_ORACLE = """
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
  ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): session counts and
    sizes per user via lag + prefix-sum of session-start flags.

    This is the batch formulation of ``F.session_window``; one shuffle
    on user_id, one sort per partition.
    """
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = _us("ts") - F.lag(_us("ts"), 1).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        sessioned.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) IS NULL
         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessioned AS (
  SELECT user_id,
    CAST(SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_id
  FROM ordered
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sessioned
  GROUP BY user_id, session_id
)
SELECT
  user_id,
  COUNT(*) AS n_sessions,
  CAST(SUM(n_events) AS BIGINT) AS n_events,
  MAX(n_events) AS max_session_events
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


def asof_purchase_to_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it; gap in microseconds.

    Spark lacks a native as-of join — this is the union-tag-window
    formulation: tag both sides, sort once per user, carry the last
    click timestamp forward with ``last(ignorenulls)``. One shuffle,
    no range-join explosion (cites reference gap: SURVEY.md §2.3 lists
    as-of as extension surface).
    """
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(0).alias("kind")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind")
    )
    tagged = clicks.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("kind").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    with_click = tagged.withColumn(
        "last_click_us",
        F.last(F.when(F.col("kind") == 0, _us("ts")), ignorenulls=True).over(w),
    )
    return (
        with_click.filter(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            (_us("ts") - F.col("last_click_us")).alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


ASOF_ORACLE = """
SELECT
  p.event_id AS purchase_id,
  p.user_id,
  epoch_us(p.ts) - (
    SELECT MAX(epoch_us(c.ts))
    FROM events c
    WHERE c.event_type = 'click'
      AND c.user_id = p.user_id
      AND c.ts <= p.ts
  ) AS gap_us
FROM events p
WHERE p.event_type = 'purchase'
ORDER BY purchase_id
"""


def event_type_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-style transition matrix: counts of consecutive
    event-type pairs per user stream (lead over user timeline)."""
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("next_type", F.lead("event_type", 1).over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("event_type", "next_type")
    )


TRANSITIONS_ORACLE = """
SELECT event_type, next_type, COUNT(*) AS n_transitions
FROM (
  SELECT event_type,
    LEAD(event_type) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ) AS next_type
  FROM events
)
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY event_type, next_type
"""


def sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2 h wide, 1 h slide) per event type — the
    overlapping-window shape Structured Streaming uses; batch here so
    the oracle can replay it as a union of shifted hourly buckets.
    Each event lands in exactly width/slide = 2 windows; the groupBy
    stays map-side combinable (window assignment is a projection)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


# an event at t belongs to the 2h/1h-slide windows starting at
# trunc(t,'hour') and trunc(t,'hour') - 1h — replayed as a 2-way union
SLIDING_WINDOW_ORACLE = """
WITH assigned AS (
  SELECT date_trunc('hour', ts) AS win_start, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
)
SELECT
  strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
  event_type,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 2) AS sum_value
FROM assigned
GROUP BY 1, 2
ORDER BY win_start, event_type
"""


def multilevel_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: one pass produces
    day / month / year / grand-total aggregates via GROUP BY ROLLUP
    on the date parts — the continuous-aggregate ladder of a
    time-series store, as a single shuffle."""
    ev = load_table(spark, "events", sf_dir)
    parts = ev.select(
        F.year("ts").alias("yr"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("dom"),
        "value",
    )
    return (
        parts.rollup("yr", "mo", "dom")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy(
            F.col("yr").asc_nulls_first(),
            F.col("mo").asc_nulls_first(),
            F.col("dom").asc_nulls_first(),
        )
    )


MULTILEVEL_ROLLUP_ORACLE = """
SELECT
  CAST(YEAR(ts) AS INTEGER) AS yr,
  CAST(MONTH(ts) AS INTEGER) AS mo,
  CAST(DAY(ts) AS INTEGER) AS dom,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 2) AS sum_value,
  ROUND(AVG(value), 6) AS avg_value
FROM events
GROUP BY ROLLUP(yr, mo, dom)
ORDER BY yr NULLS FIRST, mo NULLS FIRST, dom NULLS FIRST
"""


def gapfill_hourly_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series: a generated time spine (sequence +
    explode, no driver loop) left-joined to the hourly rollup so
    silent hours appear as explicit zeros — the shape dashboards and
    anomaly detectors need.

    Scale: the spine is hours-between-min-and-max — thousands of rows
    even for years of data — so it broadcasts; the rollup side is the
    partial-aggregated fact. No shuffle beyond the rollup's own.
    """
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr")
    )
    return (
        spine.join(F.broadcast(hourly), "hr", "left")
        .select(
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("hour_bucket")
    )


GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n_events,
         ROUND(SUM(value), 2) AS sum_value
  FROM events GROUP BY 1
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds
)
SELECT
  strftime(spine.hr, '%Y-%m-%d %H:%M:%S') AS hour_bucket,
  COALESCE(n_events, 0) AS n_events,
  COALESCE(sum_value, 0.0) AS sum_value
FROM spine LEFT JOIN hourly ON spine.hr = hourly.hr
ORDER BY hour_bucket
"""


def props_as_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured → MapType: parse ``props`` into
    ``map<string,int>`` and explode to (key, value) rows — the
    schema-on-read path for ragged JSON where per-key columns aren't
    known up front (vs ``json_props_extract``'s fixed-path version).
    """
    ev = load_table(spark, "events", sf_dir)
    m = F.from_json(F.col("props"), "map<string,int>")
    return (
        ev.select("event_type", F.explode(m).alias("prop_key", "prop_val"))
        .groupBy("event_type", "prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("prop_val").alias("sum_val"),
        )
        .orderBy("event_type", "prop_key")
    )


PROPS_MAP_ORACLE = """
WITH kv AS (
  SELECT
    event_type,
    unnest(json_keys(props)) AS prop_key,
    props
  FROM events
)
SELECT
  event_type,
  prop_key,
  COUNT(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.' || prop_key) AS INTEGER)) AS BIGINT)
    AS sum_val
FROM kv
GROUP BY event_type, prop_key
ORDER BY event_type, prop_key
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    distinct active users counted at each whole-week offset.

    Two shuffles, both on user_id (the first-seen aggregate and the
    distinct (user, week) activity set share partitioning), then one
    tiny aggregate on (cohort, offset). Week arithmetic stays on
    date_trunc + day-diffs — exact integers, no float drift; weeks
    start Monday in both engines.
    """
    ev = load_table(spark, "events", sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            F.col("cohort_wk").cast("date").cast("string").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("wk"), F.col("cohort_wk")) / 7
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_wk
  FROM events
  GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
  FROM events
)
SELECT
  CAST(CAST(cohort_wk AS DATE) AS STRING) AS cohort_week,
  CAST(FLOOR(date_diff('day', cohort_wk, wk) / 7.0) AS BIGINT) AS week_offset,
  COUNT(*) AS n_users
FROM activity
JOIN first_seen USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view → click → purchase): a user
    advances a stage only with an event strictly after their previous
    stage's timestamp. Emits one row per stage with user counts and
    the conversion rate from the previous stage.

    Scale: the classic formulation is a per-user ordered scan; here
    each stage is a conditional min-aggregate keyed on ``user_id``, so
    all three stages shuffle on the same key (co-partitioned — one
    exchange is reused) and carry one row per user, never the raw
    event stream, between stages. No self-join of events against
    events ever happens.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")

    # each stage frame is ONE ROW PER USER and feeds two consumers
    # (the next stage + its own count) — persist the small frames or
    # Spark re-derives the chain per consumer (1+2+3 = 6 event scans
    # measured; 3 with the persists, one pushed-down scan per type)
    viewed = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .persist()
    )
    clicked = (
        ev.filter(F.col("event_type") == "click")
        .join(viewed, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .persist()
    )
    purchased = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicked, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    n_view = viewed.agg(F.count(F.lit(1)).alias("n")).withColumn(
        "stage", F.lit("1_view")
    )
    n_click = clicked.agg(F.count(F.lit(1)).alias("n")).withColumn(
        "stage", F.lit("2_click_after_view")
    )
    n_buy = purchased.agg(F.count(F.lit(1)).alias("n")).withColumn(
        "stage", F.lit("3_purchase_after_click")
    )
    # The three stage counts are one-row aggregates; zip them into a
    # single broadcast row and explode the 3-row report from it — no
    # window at all (the round-2 lag-over-stage planned a global
    # WindowExec; harmless at 3 rows but the registry is kept free of
    # the unpartitioned-window shape entirely).
    one = (
        n_view.select(F.col("n").alias("nv"))
        .crossJoin(F.broadcast(n_click.select(F.col("n").alias("nc"))))
        .crossJoin(F.broadcast(n_buy.select(F.col("n").alias("nb"))))
    )
    conv = lambda cur, prev: F.round(  # noqa: E731
        F.when(prev.isNotNull(), cur / prev).otherwise(F.lit(1.0)), 6
    )
    return (
        one.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("1_view").alias("stage"),
                        F.col("nv").alias("n_users"),
                        F.round(F.lit(1.0), 6).alias("conversion"),
                    ),
                    F.struct(
                        F.lit("2_click_after_view").alias("stage"),
                        F.col("nc").alias("n_users"),
                        conv(F.col("nc"), F.col("nv")).alias("conversion"),
                    ),
                    F.struct(
                        F.lit("3_purchase_after_click").alias("stage"),
                        F.col("nb").alias("n_users"),
                        conv(F.col("nb"), F.col("nc")).alias("conversion"),
                    ),
                )
            ).alias("s")
        )
        .select("s.stage", "s.n_users", "s.conversion")
        .orderBy("stage")
    )


FUNNEL_ORACLE = """
WITH viewed AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
clicked AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN viewed v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
purchased AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN clicked c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
),
funnel AS (
  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM viewed
  UNION ALL
  SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT) FROM clicked
  UNION ALL
  SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM purchased
)
SELECT stage, n AS n_users,
       ROUND(COALESCE(CAST(n AS DOUBLE) / LAG(n) OVER (ORDER BY stage), 1.0), 6)
         AS conversion
FROM funnel
ORDER BY stage
"""


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomaly detection: flag events whose
    ``value`` deviates > 2σ from their type's mean; report outlier
    counts and the extreme z per type.

    Scale + parity: per-type mean/variance come from exact integer
    cent sums (sum, sum-of-squares) — order-independent under any
    shuffle/AQE reordering, identical in both engines. The tiny
    per-type stats table broadcasts back onto the stream; the fact
    side is scanned twice but shuffled zero times for the join. At
    true 100 TB the cent-square sums outgrow int64 — the production
    variant aggregates DECIMAL(38,0) or per-partition Welford
    moments; semantics (and this query's shape) are unchanged.
    """
    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    stats = (
        ev.select("event_type", cents.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("sq"),
        )
        .withColumn("mean_c", F.col("s") / F.col("n"))
        .withColumn(
            "var_c", F.col("sq") / F.col("n") - F.col("mean_c") * F.col("mean_c")
        )
        # clamp float-cancellation negatives (DuckDB sqrt(negative) is
        # a hard error; Spark would give NaN) with the same CASE text
        .withColumn(
            "sd_c",
            F.sqrt(F.when(F.col("var_c") < 0, F.lit(0.0)).otherwise(F.col("var_c"))),
        )
    )
    # try_divide: a zero-variance type (constant values) → NULL z —
    # the when().otherwise(0) below then counts it as non-outlier,
    # exactly like the oracle's CASE on a NULL condition
    z = F.try_divide(cents - F.col("mean_c"), F.col("sd_c"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_type", "n", z.alias("z"))
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.sum(
                F.when(F.abs(F.col("z")) > 2, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_outliers"),
            (F.floor(F.max("z") * 1_000_000 + F.lit(0.5)).cast("long") / 1_000_000.0).alias(
                "max_z"
            ),
        )
        .orderBy("event_type")
    )


ANOMALY_ZSCORE_ORACLE = """
WITH cents AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS sq
  FROM cents
  GROUP BY event_type
),
vars_ AS (
  SELECT event_type, n, s,
         CAST(sq AS DOUBLE) / n
           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) AS v
  FROM stats
),
enriched AS (
  SELECT c.event_type, s.n,
         (c.c - CAST(s.s AS DOUBLE) / s.n)
           / NULLIF(sqrt(CASE WHEN s.v < 0 THEN 0 ELSE s.v END), 0) AS z
  FROM cents c JOIN vars_ s ON c.event_type = s.event_type
)
SELECT event_type,
       MAX(n) AS n_events,
       CAST(SUM(CASE WHEN ABS(z) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(FLOOR(MAX(z) * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS max_z
FROM enriched
GROUP BY event_type
ORDER BY event_type
"""


def fill_forward_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward via ``last(..., ignorenulls)``
    over a running frame — the time-series imputation primitive.

    A deterministic mask (integer cents divisible by 3) nulls ~1/3 of
    the values to create gaps; each gap is then filled with the most
    recent non-null value in (ts, event_id) order per user. The
    aggregate reports gap/fill accounting per user in exact cents.

    Scale: one window, partitioned on user_id (high cardinality),
    running frame — state is a single carried value per partition
    stream; no second pass, no self-join.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    masked = ev.withColumn(
        "v_cents", F.when(cents % 3 != 0, cents)  # else NULL
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = masked.withColumn(
        "filled_cents", F.last("v_cents", ignorenulls=True).over(w)
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("v_cents").alias("n_observed"),
            F.sum(
                F.when(
                    F.col("v_cents").isNull()
                    & F.col("filled_cents").isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_gaps_filled"),
            F.sum("filled_cents").alias("sum_filled_cents"),
        )
        .orderBy("user_id")
    )


FILL_FORWARD_ORACLE = """
WITH masked AS (
  SELECT
    user_id, ts, event_id,
    CASE WHEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) % 3 <> 0
         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS v_cents
  FROM events
),
filled AS (
  SELECT
    user_id, v_cents,
    LAST_VALUE(v_cents IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS filled_cents
  FROM masked
)
SELECT
  user_id,
  COUNT(*) AS n_events,
  COUNT(v_cents) AS n_observed,
  CAST(SUM(CASE WHEN v_cents IS NULL AND filled_cents IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_filled,
  CAST(SUM(filled_cents) AS BIGINT) AS sum_filled_cents
FROM filled
GROUP BY user_id
ORDER BY user_id
"""


def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the Spark 4 VARIANT type:
    ``parse_json`` once into a binary-encoded variant column, then
    typed ``variant_get`` path extraction — the modern fast path that
    replaces per-expression ``get_json_object`` re-parsing (the JSON
    string is decoded ONCE per row however many paths are read).

    Same aggregate contract as :func:`json_props_extract`, so the two
    formulations are mutually checked by their oracles.

    Scale: variant decode is vectorized and columnar; at 100 TB
    prefer materializing hot paths into real columns at ingest and
    keeping the variant for the long tail.
    """
    ev = load_table(spark, "events", sf_dir)
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def asof_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join again, via ``groupBy().cogroup().applyInPandas``
    — the two-table grouped-pandas API: each user's purchases and
    clicks arrive as a pandas pair and ``pandas.merge_asof`` (the
    textbook single-pass as-of) does the matching.

    Same output contract and oracle as :func:`asof_purchase_to_click`
    (the native union-tag-window formulation), so the two
    implementations verify each other — the pattern used throughout
    the UDF tiers. Prefer the native form in production: cogroup
    shuffles BOTH tables on the key and crosses into Python.

    Scale: state per task is one user's two frames (bounded); the
    shuffle is keyed on user_id — same exchange shape as the native
    formulation, plus Arrow transfer cost. Measured at sf0.1: ~21 s
    vs ~0.5 s for the native window form — ~14 ms of per-group
    Python/Arrow crossing overhead × 1,500 user groups, the
    quantified "UDFs are the slow path" lesson this tier exists to
    demonstrate. The fix at scale is not tuning this op but using
    the native formulation; per-group cost is flat, so wall time
    scales with GROUP COUNT, not rows.
    """
    import pandas as pd

    ev = load_table(spark, "events", sf_dir)
    # GOTCHA: both cogroup branches derive from ONE parquet relation;
    # with identical column names Spark mis-resolves the right branch
    # and prunes it to the grouping key (observed on 4.1: clk arrived
    # as [user_id] only). Renaming the right side's columns
    # disambiguates the attributes and restores them.
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_eid")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )

    def merge(purch: pd.DataFrame, clk: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"purchase_id": [], "user_id": [], "gap_us": []}
        ).astype({"purchase_id": "int64", "user_id": "int64", "gap_us": "Int64"})
        if purch.empty:
            return empty
        # unit-normalize BOTH sides: the Arrow→pandas timestamp unit
        # depends on how the parquet was written (pyarrow testdata →
        # ns, Spark-written stress corpus → us), and merge_asof
        # refuses mixed units. Found by the round-9 hot-user Zipf
        # corpus: a user with purchases but ZERO clicks hit the empty
        # fallback (one unit) against a nonempty purchase frame (the
        # other) — organic sf0.1 users always have both event types,
        # so the path had never executed.
        purch = purch.assign(ts=purch["ts"].astype("datetime64[ns]")).sort_values("ts")
        if clk.empty:
            clk = pd.DataFrame({"c_ts": pd.Series([], dtype="datetime64[ns]")})
        clk = clk.assign(c_ts=clk["c_ts"].astype("datetime64[ns]")).sort_values("c_ts")
        merged = pd.merge_asof(
            purch,
            clk[["c_ts"]].rename(columns={"c_ts": "click_ts"}),
            left_on="ts",
            right_on="click_ts",
            direction="backward",  # most recent click at-or-before
        )
        # unit-safe: divide the timedelta by 1 µs instead of viewing
        # raw int64 (whose unit depends on the Arrow/pandas version);
        # NaT → NaN → <NA> via the vectorized nullable-Int64 cast
        # (values are exact µs multiples far below 2^53, so the float
        # round-trip is exact)
        gap = (merged["ts"] - merged["click_ts"]) / pd.Timedelta(microseconds=1)
        out = pd.DataFrame(
            {
                "purchase_id": merged["event_id"].astype("int64"),
                "user_id": merged["user_id"].astype("int64"),
                "gap_us": gap.round().astype("Int64"),
            }
        )
        return out

    out = (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(merge, "purchase_id bigint, user_id bigint, gap_us bigint")
        .orderBy("purchase_id")
    )
    return out


EWMA_ALPHA_MICRO = 300_000  # α = 0.3 in micro-units
EWMA_SPAN = 10  # bounded lookback
# decay weights (1-α)^k precomputed ONCE as shortest-round-trip decimal
# literals shared by both engine texts: IEEE decimal parse is correctly
# rounded, so Spark and DuckDB get bit-identical doubles — no runtime
# pow() (libm, not correctly rounded) anywhere in the hashed lineage
_EWMA_W_LITS = ", ".join(
    repr((1.0 - EWMA_ALPHA_MICRO / 1e6) ** k) for k in range(EWMA_SPAN)
)


def ewma_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of event values per user
    — the standard smoothing feature for rate/engagement signals.

    The recursive EWMA is unrolled over a bounded lookback (last 10
    events): ewma_t = Σ w_i·x_i / Σ w_i with w_i = (1−α)^(t−i) — a
    collect-free window expression (``aggregate`` over the frame's
    values), exact enough at span 10 that the 6-dp edge rounding is
    engine-stable because both engines evaluate the identical
    fold-left over the same per-partition ordering.

    Scale: one window, partitioned on user, ROWS-bounded frame → the
    state per stream is 10 values; the unbounded recursive form would
    need a stateful fold (applyInPandasWithState, see streaming).

    Output keeps the LAST event per user (the current smoothed
    level) to stay compact.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_SPAN - 1), 0)
    )
    vals = F.collect_list("cents").over(w)  # frame order = window order
    # weights applied by position from the frame END (most recent = 1),
    # looked up from the shared literal table — see _EWMA_W_LITS
    ewma = F.expr(
        f"""
        aggregate(
          zip_with(
            vals,
            sequence(size(vals) - 1, 0),
            (x, k) -> struct(
              x * element_at(array({_EWMA_W_LITS}), k + 1) AS num,
              element_at(array({_EWMA_W_LITS}), k + 1) AS den
            )
          ),
          struct(cast(0.0 as double) AS num, cast(0.0 as double) AS den),
          (acc, e) -> struct(acc.num + e.num AS num, acc.den + e.den AS den),
          acc -> acc.num / acc.den / 100.0
        )
        """
    )
    wlast = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("vals", vals)
        .withColumn("ewma_raw", ewma)
        .withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.size("vals").alias("n_window"),
            (F.floor(F.col("ewma_raw") * 1_000_000.0 + 0.5) / 1_000_000.0).alias(
                "ewma_value"
            ),
        )
        .orderBy("user_id")
    )


EWMA_ORACLE = f"""
WITH ordered AS (
  SELECT
    user_id, ts, event_id,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
    ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rn_desc
  FROM events
),
last_k AS (
  SELECT user_id, cents, rn_desc
  FROM ordered WHERE rn_desc <= {EWMA_SPAN}
),
folded AS (
  SELECT
    user_id,
    COUNT(*) AS n_window,
    SUM(cents * ([{_EWMA_W_LITS}])[rn_desc])
      / SUM(([{_EWMA_W_LITS}])[rn_desc]) / 100.0
      AS ewma_raw
  FROM last_k
  GROUP BY user_id
)
SELECT
  user_id,
  CAST(n_window AS INTEGER) AS n_window,
  FLOOR(ewma_raw * 1000000 + 0.5) / 1000000 AS ewma_value
FROM folded
ORDER BY user_id
"""


def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: modified z-score from
    the median absolute deviation (MAD) — unlike the 2σ screen
    (events_anomaly_zscore), median/MAD don't move when the outliers
    themselves get bigger, the property that matters on heavy-tailed
    production metrics.

    Two grouped exact medians (value cents, then |v − median|) via
    ``percentile`` — the same exact-quantile parity proven by
    func_percentiles — broadcast back to the stream; flags
    |v − med| > 3·MAD.

    Scale: two aggregation passes over events plus one broadcast
    join-back of a per-type table (a handful of rows); at extreme
    scale swap the exact medians for approx_percentile and accept the
    sketch tolerance.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = (
        with_med.withColumn("adev", F.abs(F.col("cents") - F.col("med")))
        .groupBy("event_type")
        .agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    )
    r6 = lambda c: F.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0  # noqa: E731
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r6(F.min("med") / 100.0).alias("median_value"),
            r6(F.min("mad") / 100.0).alias("mad_value"),
            F.sum(
                (
                    F.abs(F.col("cents") - F.col("med"))
                    > 3.0 * F.col("mad")
                ).cast("bigint")
            ).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


ANOMALY_MAD_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med
  FROM ev GROUP BY event_type
),
mad AS (
  SELECT e.event_type, quantile_cont(ABS(e.cents - m.med), 0.5) AS mad
  FROM ev e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT
  e.event_type,
  COUNT(*) AS n_events,
  FLOOR(MIN(m.med) / 100.0 * 1000000 + 0.5) / 1000000 AS median_value,
  FLOOR(MIN(d.mad) / 100.0 * 1000000 + 0.5) / 1000000 AS mad_value,
  CAST(SUM(CASE WHEN ABS(e.cents - m.med) > 3.0 * d.mad THEN 1 ELSE 0 END)
       AS BIGINT) AS n_anomalies
FROM ev e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap — the pivoted count
    matrix behind every traffic dashboard. Pivot columns are the 7
    weekday names (explicit list → stable schema, no second pass to
    discover columns).

    Scale: one groupBy on (hour, dow) — 168 cells — then the pivot is
    a driver-side reshape of the tiny aggregate. Never pivot on a
    high-cardinality column.
    """
    ev = load_table(spark, "events", sf_dir)
    dows = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    cells = ev.select(
        F.hour("ts").alias("hour"),
        F.date_format("ts", "EEE").alias("dow"),
    )
    return (
        cells.groupBy("hour")
        .pivot("dow", dows)
        .agg(F.count(F.lit(1)))
        .na.fill(0, dows)
        .orderBy("hour")
    )


HEATMAP_ORACLE = """
SELECT
  CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
  CAST(SUM(CASE WHEN dayofweek(ts) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS "Mon",
  CAST(SUM(CASE WHEN dayofweek(ts) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS "Tue",
  CAST(SUM(CASE WHEN dayofweek(ts) = 3 THEN 1 ELSE 0 END) AS BIGINT) AS "Wed",
  CAST(SUM(CASE WHEN dayofweek(ts) = 4 THEN 1 ELSE 0 END) AS BIGINT) AS "Thu",
  CAST(SUM(CASE WHEN dayofweek(ts) = 5 THEN 1 ELSE 0 END) AS BIGINT) AS "Fri",
  CAST(SUM(CASE WHEN dayofweek(ts) = 6 THEN 1 ELSE 0 END) AS BIGINT) AS "Sat",
  CAST(SUM(CASE WHEN dayofweek(ts) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS "Sun",
FROM events
GROUP BY hour
ORDER BY hour
"""


def active_day_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — gaps-and-
    islands via the date-minus-row_number trick: within a user's
    DISTINCT active days, consecutive dates share (day −
    row_number·1day), so grouping on that anchor yields the islands.

    Scale: distinct days per user first (events collapse to ≤
    days-of-history rows per user), then two cheap aggregations; all
    windows partition on user_id.
    """
    ev = load_table(spark, "events", sf_dir)
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_days")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.max("streak_days").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.sum("streak_days").alias("active_days"),
        )
        .orderBy("user_id")
    )


STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
anchored AS (
  SELECT
    user_id, day,
    day - CAST(ROW_NUMBER() OVER (
      PARTITION BY user_id ORDER BY day
    ) AS INTEGER) AS anchor
  FROM days
),
islands AS (
  SELECT user_id, anchor, COUNT(*) AS streak_days
  FROM anchored GROUP BY user_id, anchor
)
SELECT
  user_id,
  CAST(MAX(streak_days) AS BIGINT) AS longest_streak,
  COUNT(*) AS n_streaks,
  CAST(SUM(streak_days) AS BIGINT) AS active_days
FROM islands
GROUP BY user_id
ORDER BY user_id
"""


LATE_THRESHOLD_MIN = 60  # arrival later than stream max - 1h counts late


def late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch audit of lateness: how much data MIGHT a 1-hour
    watermark drop? An event is flagged when its timestamp trails the
    running per-user maximum (in event_id arrival order) by more than
    the threshold. This is a per-user heuristic that bounds/
    approximates streaming loss, not the exact drop rule: a real
    ``withWatermark("ts", "1 hour")`` tracks one GLOBAL max event
    time advanced only at micro-batch boundaries, so the true drop
    count depends on batch timing and can sit on either side of this
    estimate — use it to size the risk before picking a watermark,
    not to predict the exact count.

    Scale: one window pass per user (running max over arrival order,
    shuffle on user_id), then a small per-type aggregate — the
    standard prefix-scan shape, no self-join.
    """
    ev = load_table(spark, "events", sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = ev.select(
        "event_type",
        (
            F.col("ts")
            < F.max("ts").over(w) - F.expr(f"INTERVAL {LATE_THRESHOLD_MIN} MINUTES")
        ).alias("is_late"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("is_late").cast("long"), F.lit(0))).alias(
                "n_late"
            ),
        )
        .withColumn(
            "late_per_million",
            F.floor(F.col("n_late") * 1_000_000 / F.col("n_events")).cast("bigint"),
        )
        .orderBy("event_type")
    )


LATE_DATA_ORACLE = f"""
WITH flagged AS (
  SELECT
    event_type,
    ts < MAX(ts) OVER (
      PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) - INTERVAL {LATE_THRESHOLD_MIN} MINUTE AS is_late
  FROM events
)
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
  CAST(FLOOR(SUM(CASE WHEN is_late THEN 1 ELSE 0 END) * 1000000.0 / COUNT(*))
    AS BIGINT) AS late_per_million
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# bin width for the interval-overlap equi-join (1 hour in µs)
OVERLAP_BIN_US = 3_600 * 1_000_000


def _overlap_pair_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-ordered per-user-pair session-overlap rollup — the shared
    core of :func:`session_overlap_join` (enumerating face) and
    :func:`session_overlap_topk` (K_CAP face).

    Scale: the naive formulation is an all-pairs θ-join
    (``a.s ≤ b.e AND b.s ≤ a.e`` gives Spark no equi-key → a
    BroadcastNestedLoopJoin, O(n²) compares). Instead each session is
    exploded into the 1-hour bins it touches and the join is an
    EQUI-join on the bin plus the exact overlap predicate. Cost is
    Σ per-bin pairs — data-dependent, bounded by true temporal
    concurrency, not by n². Bin width is the knob: ≈ median session
    length balances replication (a session touches len/bin + 1 bins)
    against per-bin pair fan-out; at 100 TB you'd derive it from the
    session-length histogram (``events_sessionize``) the same way.

    FIRST-SHARED-BIN EMISSION (round 11): two overlapping sessions
    share every bin in [floor(max(s)/B), floor(min(e)/B)], so the
    old plan needed a full ``distinct`` shuffle over the enumerated
    pair set to collapse multi-bin hits. Requiring the joined bin to
    equal the OVERLAP-START bin (``floor(greatest(a.s, b.s) / B)``,
    shared by construction and unique per pair) emits each session
    pair exactly once — same rows, one shuffle fewer; at the 10×
    stress scale the pair set is the 100×-output stage, so the saved
    exchange is the biggest one in the plan.
    """
    # null-ts guard: Spark window ASC sorts nulls FIRST, DuckDB's
    # ORDER BY puts them LAST — filter on both sides so a regenerated
    # corpus with null timestamps can't silently diverge
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    # pre-key the sessionize exchange at the conf'd width: the window
    # REUSES this exchange (same key), so at scale it is the exact
    # same shuffle — locally it stops AQE's byte-based coalescing from
    # serializing the per-user sort onto 1–2 tasks (see the bin note)
    ev = ev.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "user_id"
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = _us("ts") - F.lag(_us("ts"), 1).over(w)
    sess = (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_session").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min(_us("ts")).alias("s"), F.max(_us("ts")).alias("e"))
    )
    binned = sess.select(
        "user_id",
        "sid",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / OVERLAP_BIN_US),
                F.floor(F.col("e") / OVERLAP_BIN_US),
            )
        ).alias("bin"),
    )
    # EXPLICIT co-partitioning width (round 11): the per-bin pair join
    # is compute-bound on Σ per-bin n² COMPARES, not on its input
    # bytes — AQE's coalescing only sees the (tiny) shuffle bytes and
    # squashed the whole 13M-compare stage onto 1–2 tasks at sf0.1
    # (guide §2.5: partition by the work, not the bytes). Pinning the
    # partition count to the session's shuffle-partition conf keeps
    # the same scale-out a cluster run configures while stopping the
    # byte-based squash; both join sides inherit the one exchange.
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    binned = binned.repartition(sp, "bin")
    a, b = binned.alias("a"), binned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        # first-shared-bin emission: exactly one bin per overlapping
        # pair satisfies this, so no distinct is needed downstream
        & (
            F.col("a.bin")
            == F.floor(
                F.greatest(F.col("a.s"), F.col("b.s")) / OVERLAP_BIN_US
            )
        ),
    ).select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        (
            F.least(F.col("a.e"), F.col("b.e"))
            - F.greatest(F.col("a.s"), F.col("b.s"))
        ).alias("overlap_us"),
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum("overlap_us").alias("total_overlap_us"),
    )


def session_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join across users: build 30-min-gap sessions
    (as :func:`sessionize_users`), then find every cross-user pair of
    sessions that overlap in time, aggregated per user pair (overlap
    count + total overlapping µs). Concurrency analysis — "who is
    active together" — and the relational shape genomics/telemetry
    range joins share. Plan notes in :func:`_overlap_pair_rollup`.

    OUTPUT-BOUND BY CONSTRUCTION: the result is one row per
    temporally-concurrent user pair, which at K× the users can be
    K²× the rows (measured 100.5× rows at the 10× stress corpora —
    SCALE.md). Pipelines that only need "who are each user's top
    co-active partners" should use the K_CAP face
    (:func:`session_overlap_topk`), whose output is linear in users.
    """
    return _overlap_pair_rollup(spark, sf_dir).orderBy("user_a", "user_b")


# per-user partner cap for the bounded face — the ANN entries' K_CAP
# discipline (mllib_ops.K_CAP) applied to the overlap rollup
OVERLAP_TOP_K = 5


def session_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K_CAP face of :func:`session_overlap_join` (round-11 verdict
    ask #6): each user's top-``OVERLAP_TOP_K`` co-active partners
    under the total order (total overlap µs desc, overlap count desc,
    partner id asc — deterministic: the final key is unique per
    user). Output is ≤ K rows per user — LINEAR in users where the
    enumerating face is quadratic-in-concurrency (100.5× rows at the
    10× stress corpora), which is what a real concurrency dashboard
    or abuse-correlation pipeline materializes.

    Scale: the pair rollup still pays the data-dependent per-bin pair
    cost (that IS the semantics — exact totals need every concurrent
    pair aggregated once), but the symmetrize + per-user window
    shuffles carry only the already-aggregated pair rows and the
    output never amplifies: at 10× users the result is 10× rows, not
    100×.
    """
    roll = _overlap_pair_rollup(spark, sf_dir)
    sym = roll.select(
        F.col("user_a").alias("user_id"),
        F.col("user_b").alias("partner"),
        "n_overlaps",
        "total_overlap_us",
    ).unionByName(
        roll.select(
            F.col("user_b").alias("user_id"),
            F.col("user_a").alias("partner"),
            "n_overlaps",
            "total_overlap_us",
        )
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("total_overlap_us").desc(),
        F.col("n_overlaps").desc(),
        F.col("partner").asc(),
    )
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= OVERLAP_TOP_K)
        .select("user_id", "rnk", "partner", "n_overlaps", "total_overlap_us")
        .orderBy("user_id", "rnk")
    )


SESSION_OVERLAP_ORACLE = f"""
WITH evts AS (SELECT * FROM events WHERE ts IS NOT NULL),
ordered AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) IS NULL
         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_session
  FROM evts
),
sessioned AS (
  SELECT user_id, ts,
    CAST(SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS sid
  FROM ordered
),
sess AS (
  SELECT user_id, sid,
         min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
  FROM sessioned GROUP BY user_id, sid
),
pairs AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap_us
  FROM sess a
  JOIN sess b
    ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
)
SELECT
  user_a,
  user_b,
  COUNT(*) AS n_overlaps,
  CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us
FROM pairs
GROUP BY user_a, user_b
ORDER BY user_a, user_b
"""


def _overlap_topk_oracle() -> str:
    base = SESSION_OVERLAP_ORACLE.rsplit("SELECT", 1)[0].rstrip().rstrip(",")
    return f"""{base},
roll AS (
  SELECT user_a, user_b,
    COUNT(*) AS n_overlaps,
    CAST(SUM(overlap_us) AS BIGINT) AS total_overlap_us
  FROM pairs GROUP BY user_a, user_b
),
sym AS (
  SELECT user_a AS user_id, user_b AS partner, n_overlaps, total_overlap_us
  FROM roll
  UNION ALL
  SELECT user_b AS user_id, user_a AS partner, n_overlaps, total_overlap_us
  FROM roll
)
SELECT user_id, rnk, partner, n_overlaps, total_overlap_us
FROM (
  SELECT user_id, partner, n_overlaps, total_overlap_us,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY user_id
      ORDER BY total_overlap_us DESC, n_overlaps DESC, partner ASC
    ) AS INTEGER) AS rnk
  FROM sym
)
WHERE rnk <= {OVERLAP_TOP_K}
ORDER BY user_id, rnk
"""


SESSION_OVERLAP_TOPK_ORACLE = _overlap_topk_oracle()


def pattern_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence-pattern matching: compress each user's event
    history into an ordered type-initial string (``v``iew, ``c``lick,
    ``p``urchase, ``s``ignup, ``e``rror — initials are distinct by
    construction) and count strict ``view→click→purchase`` runs
    (contiguous ``'vcp'`` occurrences) plus the position of the first
    one. The MATCH_RECOGNIZE shape reduced to exact string algebra —
    complementary to :func:`funnel_conversion`, which measures the
    relaxed (any-gap) ordering via stage-min timestamps.

    Scale: one shuffle on user_id; per-user history collapses to a
    string whose length is the user's event count, then all pattern
    work is ``split``/``instr`` inside codegen. A power user with 10⁶
    events makes a 1 MB string in one aggregation buffer — the
    documented bound; past that, sessionized substrings (chunk the
    history at session boundaries, count per session, sum) keep the
    same algebra with bounded state. No regex engine in the hot path:
    the pattern is metachar-free, so occurrence counting is
    split-length arithmetic, identical on both engines.
    """
    # null-ts guard: see session_overlap_join
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    seq = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("i")
                        )
                    )
                ),
                lambda x: x["i"],
            ),
        ).alias("seq"),
    )
    return (
        seq.select(
            "user_id",
            "n_events",
            (F.size(F.split("seq", "vcp", -1)) - 1).alias("n_strict_vcp"),
            F.instr("seq", "vcp").alias("first_vcp_pos"),
        )
        .orderBy("user_id")
    )


PATTERN_SEQUENCE_ORACLE = """
WITH seqs AS (
  SELECT
    user_id,
    COUNT(*) AS n_events,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY user_id
)
SELECT
  user_id,
  n_events,
  CAST(len(string_split(seq, 'vcp')) - 1 AS INTEGER) AS n_strict_vcp,
  CAST(strpos(seq, 'vcp') AS INTEGER) AS first_vcp_pos
FROM seqs
ORDER BY user_id
"""


def daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1..7) of the daily event-count
    series — the classic ACF pre-pass for seasonality detection
    (weekly periodicity shows as a peak at k=7). Reference has no
    time-series surface; this extends §2.11's temporal family.

    Semantics: calendar-day lags over the observed days (pairs where
    either endpoint day is absent simply don't contribute), global
    mean/variance over the full daily series:
    ``acf(k) = Σ_t (x_t - m)(x_{t+k} - m) / Σ_t (x_t - m)²``.

    Scale: the corpus-width work is ONE map-side-combinable groupBy
    to the daily rollup (365 rows/year even at 100 TB of events); the
    lag pairing is an explode(1..7) + self-join on the rollup rows
    and the mean/denominator ride in as a broadcast one-row scalar —
    no global window, no driver collect.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    # persisted: the rollup (365 rows/year, trivially cacheable) feeds
    # FOUR downstream branches (stats, denom, both join sides) and
    # Spark does not reuse unpersisted shared subplans — without this
    # the corpus-width scan+groupBy would run once per branch
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    stats = daily.agg(
        (F.sum("n") / F.count(F.lit(1))).alias("mean_n"),
        F.count(F.lit(1)).alias("n_days"),
    )
    centered = daily.crossJoin(F.broadcast(stats)).select(
        "day", "n", "mean_n",
        # plain multiply (oracle: (n-mean)*(n-mean)), never libm pow
        ((F.col("n") - F.col("mean_n")) * (F.col("n") - F.col("mean_n"))).alias("dev2"),
    )
    denom = centered.agg(F.sum("dev2").alias("ss_total"))
    lagged = centered.select(
        F.explode(F.expr("sequence(1, 7)")).alias("lag_k"),
        F.expr("day + make_interval(0, 0, 0, lag_k)").alias("day"),
        F.col("n").alias("n_lag"),
    )
    paired = centered.join(lagged, ["day"]).select(
        "lag_k", ((F.col("n") - F.col("mean_n")) * (F.col("n_lag") - F.col("mean_n"))).alias("xy")
    )
    return (
        paired.groupBy("lag_k")
        .agg(F.sum("xy").alias("cov_sum"), F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(denom))
        .select(
            F.col("lag_k").cast("int").alias("lag_k"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            # try_divide: a zero-variance series has ss_total = 0 and
            # ACF undefined — NULL, matching DuckDB's x/0 semantics
            # (ANSI Spark would otherwise raise DIVIDE_BY_ZERO)
            F.round(F.try_divide(F.col("cov_sum"), F.col("ss_total")), 6).alias("acf"),
        )
        .orderBy("lag_k")
    )


AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
stats AS (
  SELECT SUM(n) / COUNT(*) AS mean_n FROM daily
),
centered AS (
  SELECT day, n, mean_n, (n - mean_n) * (n - mean_n) AS dev2
  FROM daily CROSS JOIN stats
),
denom AS (SELECT SUM(dev2) AS ss_total FROM centered),
lagged AS (
  SELECT k.lag_k, c.day + INTERVAL (k.lag_k) DAY AS day, c.n AS n_lag
  FROM centered c CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag_k) k
)
SELECT
  CAST(l.lag_k AS INTEGER) AS lag_k,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(SUM((c.n - c.mean_n) * (l.n_lag - c.mean_n)) / ANY_VALUE(d.ss_total), 6) AS acf
FROM centered c JOIN lagged l USING (day) CROSS JOIN denom d
GROUP BY l.lag_k
ORDER BY lag_k
"""


def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B experiment readout: users are deterministically
    assigned to variants by ``user_id % 2`` (the hash-bucket
    assignment every experimentation platform uses), the per-user
    metric is the mean purchase value, and the comparison is Welch's
    unequal-variance t statistic with the Welch–Satterthwaite degrees
    of freedom. Extends the reference's scipy.stats usage
    (``EDA Notebook.ipynb`` cell 22's distributional analysis) to the
    experiment-analysis shape.

    Scale: one map-side-combinable groupBy(user_id) to per-user
    metrics, one 2-row groupBy(variant) — sample variance via the
    Σx/Σx² sufficient-statistics identity so each group is a single
    aggregation pass; the final t/df arithmetic happens on a 2-row
    frame pivoted to one row. No window, no collect.
    """
    ev = load_table(spark, "events", sf_dir)
    per_user = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg((F.sum("value") / F.count(F.lit(1))).alias("metric"))
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("variant"),
            "metric",
        )
    )
    g = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("metric").alias("s1"),
        F.sum(F.col("metric") * F.col("metric")).alias("s2"),
    )
    # sample variance from sufficient stats: (s2 - s1²/n) / (n-1)
    # try_divide: a 1-user variant has df = 0 and its sample variance
    # undefined — NULL, matching DuckDB's x/0 semantics (ANSI Spark
    # would otherwise raise DIVIDE_BY_ZERO)
    g = g.select(
        "variant",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.try_divide(
            F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"), F.col("n") - 1
        ).alias("var"),
    )

    # pivot the 2-row variant frame to one row by conditional
    # aggregation — a filter-A × filter-B self-join would re-derive
    # the whole events lineage twice (no shared-subplan reuse)
    def _pick(v: str, c: str):
        return F.max(F.when(F.col("variant") == v, F.col(c)))

    wide = g.agg(
        _pick("A", "n").alias("n_a"),
        _pick("B", "n").alias("n_b"),
        _pick("A", "mean").alias("mean_a"),
        _pick("B", "mean").alias("mean_b"),
        _pick("A", "var").alias("var_a"),
        _pick("B", "var").alias("var_b"),
    )
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    return (
        wide
        # degenerate experiment (one variant has zero purchasing users):
        # the conditional-aggregation pivot would emit one all-NULL-side
        # row while the oracle's CROSS JOIN of an empty side emits zero
        # rows — filter so both engines agree on "no readout"
        .filter(F.col("n_a").isNotNull() & F.col("n_b").isNotNull())
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round("mean_a", 6).alias("mean_a"),
            F.round("mean_b", 6).alias("mean_b"),
            # try_divide: identical-constant samples have zero pooled
            # SE and the t statistic is undefined — NULL on both
            # engines (DuckDB x/0 is NULL)
            F.round(
                F.try_divide(F.col("mean_a") - F.col("mean_b"), F.sqrt(se_a + se_b)),
                6,
            ).alias("welch_t"),
            # plain multiplies, not pow(x,2): libm pow is exp/log-based
            # and not correctly rounded — last-ulp divergence across
            # engines is the func_math failure class
            F.round(
                F.try_divide(
                    (se_a + se_b) * (se_a + se_b),
                    (se_a * se_a) / (F.col("n_a") - 1)
                    + (se_b * se_b) / (F.col("n_b") - 1),
                ),
                6,
            ).alias("welch_df"),
        )
    )


AB_WELCH_ORACLE = """
WITH per_user AS (
  SELECT
    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
    SUM(value) / COUNT(*) AS metric
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id
),
g AS (
  SELECT
    variant,
    COUNT(*) AS n,
    SUM(metric) AS s1,
    SUM(metric * metric) AS s2
  FROM per_user GROUP BY variant
),
m AS (
  SELECT variant, n, s1 / n AS mean,
         (s2 - s1 * s1 / n) / (n - 1) AS var
  FROM g
)
SELECT
  CAST(a.n AS BIGINT) AS n_a,
  CAST(b.n AS BIGINT) AS n_b,
  ROUND(a.mean, 6) AS mean_a,
  ROUND(b.mean, 6) AS mean_b,
  ROUND((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 6) AS welch_t,
  ROUND(
    (a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n) / (
      (a.var / a.n) * (a.var / a.n) / (a.n - 1)
      + (b.var / b.n) * (b.var / b.n) / (b.n - 1)
    ), 6) AS welch_df
FROM (SELECT * FROM m WHERE variant = 'A') a
CROSS JOIN (SELECT * FROM m WHERE variant = 'B') b
"""


def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-count
    series: trend = centered 7-day moving average (full windows
    only), weekday seasonal index = mean detrended value per
    day-of-week. The classic STL-lite pre-pass for weekly-periodic
    operational series. Weekday is computed as days-since-a-known-
    Monday mod 7 (0 = Monday) — engine-neutral, unlike the
    1-vs-0-based DOW builtins.

    Scale: same skeleton as :func:`daily_autocorrelation` — corpus-
    width work is ONE map-side daily rollup (persisted; 365 rows/
    year), the moving average is an explode(-3..3) + equi-join on the
    rollup (never a global running window), and the weekday index is
    a 7-row aggregate of the joined frame.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    # each day contributes its count to the 7 windows centred on
    # day-3 .. day+3; a window is kept only when all 7 members exist
    neighbors = daily.select(
        F.explode(F.expr("sequence(-3, 3)")).alias("off"),
        F.expr("day + make_interval(0, 0, 0, off)").alias("center"),
        F.col("n").alias("n_member"),
    )
    trend = (
        neighbors.groupBy("center")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.sum("n_member") / F.count(F.lit(1))).alias("trend"),
        )
        .filter(F.col("n_members") == 7)
        .select(F.col("center").alias("day"), "trend")
    )
    detrended = daily.join(trend, "day").select(
        F.pmod(
            F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date")),
            F.lit(7),
        ).alias("weekday"),
        (F.col("n") - F.col("trend")).alias("dev"),
    )
    return (
        detrended.groupBy("weekday")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.sum("dev") / F.count(F.lit(1)), 6).alias("seasonal_idx"),
        )
        .orderBy("weekday")
    )


SEASONAL_DECOMPOSE_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
neighbors AS (
  SELECT d.day + INTERVAL (o.off) DAY AS center, d.n AS n_member
  FROM daily d
  CROSS JOIN (SELECT unnest(generate_series(-3, 3)) AS off) o
),
trend AS (
  SELECT center AS day, SUM(n_member) / COUNT(*) AS trend
  FROM neighbors GROUP BY center HAVING COUNT(*) = 7
),
detrended AS (
  SELECT
    ((date_diff('day', DATE '2024-01-01', CAST(d.day AS DATE)) % 7) + 7) % 7
      AS weekday,
    d.n - t.trend AS dev
  FROM daily d JOIN trend t USING (day)
)
SELECT
  weekday,
  CAST(COUNT(*) AS BIGINT) AS n_days,
  ROUND(SUM(dev) / COUNT(*), 6) AS seasonal_idx
FROM detrended
GROUP BY weekday
ORDER BY weekday
"""


def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily event-count
    series: ``cusum_t = Σ_{i≤t} n_i − t·mean`` (the running sum of
    deviations from the global mean), reporting the 5 days where
    |CUSUM| peaks — the classic level-shift locator. The prefix sum
    uses the integer-exact identity (integer running count minus
    rank×mean) so both engines produce bit-identical doubles.

    Scale: corpus-width work is ONE map-side daily rollup
    (persisted); the running sum comes from the global-rank
    prefix-sum primitive on its single-partition path (the day series
    is bounded by the calendar, so no pin and no driver-collected
    offsets — never an unpartitioned window), the mean rides in as a
    broadcast scalar, and top-5 is a TakeOrderedAndProject.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    stats = daily.agg((F.sum("n") / F.count(F.lit(1))).alias("mean_n"))
    ranked = with_global_rank(
        broadcast_scalars(daily, stats),
        [F.col("day").asc()],
        "t",
        prefix_sum=("n", "cum_n"),
        parts=1,
    )
    cusum = F.col("cum_n") - F.col("t") * F.col("mean_n")
    return (
        ranked.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("t").cast("long").alias("t"),
            F.col("n").cast("long").alias("n"),
            F.round(cusum, 6).alias("cusum"),
        )
        .orderBy(F.abs("cusum").desc(), F.col("day").asc())
        .limit(5)
    )


CHANGEPOINT_CUSUM_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
stats AS (SELECT SUM(n) / COUNT(*) AS mean_n FROM daily),
ranked AS (
  SELECT day, n,
    ROW_NUMBER() OVER (ORDER BY day ASC) AS t,
    SUM(n) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING) AS cum_n
  FROM daily
)
SELECT
  strftime(r.day, '%Y-%m-%d') AS day,
  CAST(r.t AS BIGINT) AS t,
  r.n,
  ROUND(r.cum_n - r.t * s.mean_n, 6) AS cusum
FROM ranked r CROSS JOIN stats s
ORDER BY ABS(r.cum_n - r.t * s.mean_n) DESC, day ASC
LIMIT 5
"""


def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first half of the month
    (days 1-15, the 'expected' period) and the rest (the 'actual'
    period): decile cut points are fit on p1's event values, both
    periods are bucketed against them, and
    ``PSI_b = (s2_b − s1_b)·ln(s2_b / s1_b)`` per bucket — the
    standard production data-drift monitor for model inputs.

    Scale: the classic fit-then-apply two-pass — pass 1 fits the 9
    decile cuts on p1 (exact ``percentile``; swap
    ``approx_percentile`` at 100 TB when exactness isn't
    contractual), pass 2 re-scans events once with the cuts as a
    broadcast one-row frame and a codegen'd comparison chain
    (re-scanning columnar storage twice beats caching the corpus);
    everything after the groupBy is arithmetic on ≤20 count rows
    (persisted: shares + the period totals re-derive from the same
    counts).
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    tagged = ev.select(
        F.when(F.dayofmonth("ts") <= 15, F.lit("p1")).otherwise(F.lit("p2")).alias(
            "period"
        ),
        "value",
    )
    cuts = tagged.filter(F.col("period") == "p1").agg(
        *[
            F.percentile("value", F.lit(q / 10.0)).alias(f"c{q}")
            for q in range(1, 10)
        ]
    )
    bucket = reduce(
        lambda acc, q: acc + (F.col("value") > F.col(f"c{q}")).cast("int"),
        range(1, 10),
        F.lit(0),
    )
    counts = (
        broadcast_scalars(tagged, cuts)
        .select("period", bucket.alias("bucket"))
        .groupBy("period", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    totals = counts.groupBy("period").agg(F.sum("cnt").alias("tot"))
    shares = counts.join(F.broadcast(totals), "period").select(
        "bucket",
        "period",
        F.col("cnt"),
        (F.col("cnt") / F.col("tot")).alias("share"),
    )
    wide = shares.groupBy("bucket").agg(
        F.coalesce(
            F.max(F.when(F.col("period") == "p1", F.col("cnt"))), F.lit(0)
        ).alias("n_p1"),
        F.coalesce(
            F.max(F.when(F.col("period") == "p2", F.col("cnt"))), F.lit(0)
        ).alias("n_p2"),
        F.max(F.when(F.col("period") == "p1", F.col("share"))).alias("s1"),
        F.max(F.when(F.col("period") == "p2", F.col("share"))).alias("s2"),
    )
    psi = F.when(
        (F.col("s1") > 0) & (F.col("s2") > 0),
        (F.col("s2") - F.col("s1")) * F.log(F.col("s2") / F.col("s1")),
    )
    return wide.select(
        "bucket",
        "n_p1",
        "n_p2",
        F.round("s1", 6).alias("s1"),
        F.round("s2", 6).alias("s2"),
        F.round(psi, 6).alias("psi_term"),
    ).orderBy("bucket")


VALUE_DRIFT_PSI_ORACLE = """
WITH tagged AS (
  SELECT
    CASE WHEN date_part('day', ts) <= 15 THEN 'p1' ELSE 'p2' END AS period,
    value
  FROM events WHERE value IS NOT NULL
),
cuts AS (
  SELECT
    quantile_cont(value, 0.1) AS c1, quantile_cont(value, 0.2) AS c2,
    quantile_cont(value, 0.3) AS c3, quantile_cont(value, 0.4) AS c4,
    quantile_cont(value, 0.5) AS c5, quantile_cont(value, 0.6) AS c6,
    quantile_cont(value, 0.7) AS c7, quantile_cont(value, 0.8) AS c8,
    quantile_cont(value, 0.9) AS c9
  FROM tagged WHERE period = 'p1'
),
bucketed AS (
  SELECT period,
    CAST(value > c1 AS INTEGER) + CAST(value > c2 AS INTEGER)
    + CAST(value > c3 AS INTEGER) + CAST(value > c4 AS INTEGER)
    + CAST(value > c5 AS INTEGER) + CAST(value > c6 AS INTEGER)
    + CAST(value > c7 AS INTEGER) + CAST(value > c8 AS INTEGER)
    + CAST(value > c9 AS INTEGER) AS bucket
  FROM tagged CROSS JOIN cuts
),
counts AS (
  SELECT period, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY period, bucket
),
totals AS (SELECT period, SUM(cnt) AS tot FROM counts GROUP BY period),
shares AS (
  SELECT bucket, c.period, cnt, cnt / CAST(tot AS DOUBLE) AS share
  FROM counts c JOIN totals t ON c.period = t.period
),
wide AS (
  SELECT bucket,
    COALESCE(MAX(CASE WHEN period = 'p1' THEN cnt END), 0) AS n_p1,
    COALESCE(MAX(CASE WHEN period = 'p2' THEN cnt END), 0) AS n_p2,
    MAX(CASE WHEN period = 'p1' THEN share END) AS s1,
    MAX(CASE WHEN period = 'p2' THEN share END) AS s2
  FROM shares GROUP BY bucket
)
SELECT bucket, n_p1, n_p2,
  ROUND(s1, 6) AS s1,
  ROUND(s2, 6) AS s2,
  ROUND(CASE WHEN s1 > 0 AND s2 > 0
             THEN (s2 - s1) * ln(s2 / s1) END, 6) AS psi_term
FROM wide
ORDER BY bucket
"""


ALERT_HI = 80.0
ALERT_LO = 20.0


def alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis alerting over each user's value stream: an alert
    OPENS when value exceeds 80, CLOSES when it drops below 20, and
    HOLDS in the dead band between — the debouncing rule every
    monitoring system uses to avoid flapping. Reports per user the
    events spent in alert state and the number of distinct alert
    episodes (open transitions).

    Scale: gaps-and-islands over windows partitioned by ``user_id``
    (high cardinality — never the 5-value event_type, which would
    funnel each type's full stream through one task); the hold state
    is ``last(ignorenulls)`` over the open/close markers (the LOCF
    pattern of :func:`fill_forward`), episodes are marker-edge sums,
    and the final rollup is map-side combinable.
    """
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    marker = (
        F.when(F.col("value") > ALERT_HI, F.lit(1))
        .when(F.col("value") < ALERT_LO, F.lit(0))
        .otherwise(F.lit(None).cast("int"))
    )
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    run = W.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    ).rowsBetween(W.unboundedPreceding, 0)
    staged = ev.select("user_id", "ts", "event_id", marker.alias("marker"))
    staged = staged.withColumn(
        "state", F.coalesce(F.last("marker", ignorenulls=True).over(run), F.lit(0))
    ).withColumn(
        "opens",
        (
            (F.col("state") == 1)
            & (F.coalesce(F.lag("state", 1).over(w), F.lit(0)) == 0)
        ).cast("long"),
    )
    return (
        staged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("state").cast("long").alias("n_alert_events"),
            F.sum("opens").cast("long").alias("n_episodes"),
        )
        .orderBy("user_id")
    )


ALERT_HYSTERESIS_ORACLE = f"""
WITH staged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN value > {ALERT_HI} THEN 1
         WHEN value < {ALERT_LO} THEN 0 END AS marker
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
stated AS (
  SELECT user_id, ts, event_id,
    COALESCE(LAST_VALUE(marker IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS UNBOUNDED PRECEDING
    ), 0) AS state
  FROM staged
),
edged AS (
  SELECT user_id, state,
    CASE WHEN state = 1 AND COALESCE(LAG(state) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ), 0) = 0 THEN 1 ELSE 0 END AS opens
  FROM stated
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(state) AS BIGINT) AS n_alert_events,
  CAST(SUM(opens) AS BIGINT) AS n_episodes
FROM edged
GROUP BY user_id
ORDER BY user_id
"""


def path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: counts of consecutive 3-step event-type
    paths per user timeline (the Sankey/flow-diagram input one level
    deeper than :func:`event_type_transition_counts`' pairs). Top 20
    paths.

    Scale: double-lead over the user-partitioned ordered window — no
    self-joins, adjacency lives in the window; the count shuffle is a
    word-count shape with map-side combine; top-20 is a
    TakeOrderedAndProject.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.select(
            F.col("event_type").alias("step1"),
            F.lead("event_type", 1).over(w).alias("step2"),
            F.lead("event_type", 2).over(w).alias("step3"),
        )
        .filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(
            F.col("n_paths").desc(),
            F.col("step1").asc(),
            F.col("step2").asc(),
            F.col("step3").asc(),
        )
        .limit(20)
    )


PATH_TRIGRAMS_ORACLE = """
WITH stepped AS (
  SELECT
    event_type AS step1,
    LEAD(event_type, 1) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ) AS step2,
    LEAD(event_type, 2) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ) AS step3
  FROM events
  WHERE ts IS NOT NULL
)
SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM stepped
WHERE step2 IS NOT NULL AND step3 IS NOT NULL
GROUP BY step1, step2, step3
ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC
LIMIT 20
"""


def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: the gap in
    seconds between consecutive events of the same type within each
    user's timeline — the queueing/alerting statistic behind burst
    detection and rate-limit sizing. Exact median/p90 over the gap
    population, plus count and mean.

    Scale: one lag over (user_id, event_type)-partitioned windows
    (high-cardinality keys), then a 5-row grouped aggregate; the
    exact percentile runs per-type over grouped gaps — swap
    ``approx_percentile`` at 100 TB.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        ev.withColumn("prev_us", F.lag(_us("ts"), 1).over(w))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "event_type",
            ((_us("ts") - F.col("prev_us")) / 1_000_000.0).alias("gap_s"),
        )
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
            F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("median_gap_s"),
            F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT event_type,
    (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC
    )) / 1000000.0 AS gap_s
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_gaps,
  ROUND(AVG(gap_s), 6) AS mean_gap_s,
  ROUND(quantile_cont(gap_s, 0.5), 6) AS median_gap_s,
  ROUND(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


FUNNEL_STEP_US = 3600 * 1_000_000  # 1 hour per step


def funnel_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained conversion funnel: signup → first click
    within 1 HOUR of the signup → first purchase within 1 hour of
    that click. The hard version of :func:`funnel_conversion` (which
    only requires order): each step must land inside the window
    anchored at the previous step's event, which is what product
    funnels actually measure.

    Scale: three chained min-conditional windows over ONE
    user-partitioned sort — signup_ts, then click_ts conditioned on
    it, then purchase_ts conditioned on that. Same partitioning for
    all three, so Catalyst plans one exchange + one sort with stacked
    Window operators; the funnel readout is a 1-row aggregate of the
    per-user flags. No self-joins, no range join.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id")
    us = _us("ts")
    staged = ev.select("user_id", "event_type", us.alias("us"))
    staged = staged.withColumn(
        "signup_us",
        F.min(F.when(F.col("event_type") == "signup", F.col("us"))).over(w),
    )
    staged = staged.withColumn(
        "click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("us") > F.col("signup_us"))
                & (F.col("us") <= F.col("signup_us") + FUNNEL_STEP_US),
                F.col("us"),
            )
        ).over(w),
    )
    staged = staged.withColumn(
        "purchase_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("us") > F.col("click_us"))
                & (F.col("us") <= F.col("click_us") + FUNNEL_STEP_US),
                F.col("us"),
            )
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("signup_us").alias("s"),
        F.max("click_us").alias("c"),
        F.max("purchase_us").alias("p"),
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("s").isNotNull().cast("long")).cast("long").alias("n_signup"),
        F.sum(F.col("c").isNotNull().cast("long")).cast("long").alias("n_click_1h"),
        F.sum(F.col("p").isNotNull().cast("long")).cast("long").alias("n_purchase_1h"),
    )


FUNNEL_TIMED_ORACLE = f"""
WITH staged AS (
  SELECT user_id, event_type, epoch_us(ts) AS us
  FROM events WHERE ts IS NOT NULL
),
s1 AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'signup' THEN us END)
      OVER (PARTITION BY user_id) AS signup_us
  FROM staged
),
s2 AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'click' AND us > signup_us
              AND us <= signup_us + {FUNNEL_STEP_US} THEN us END)
      OVER (PARTITION BY user_id) AS click_us
  FROM s1
),
s3 AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'purchase' AND us > click_us
              AND us <= click_us + {FUNNEL_STEP_US} THEN us END)
      OVER (PARTITION BY user_id) AS purchase_us
  FROM s2
),
per_user AS (
  SELECT user_id, MAX(signup_us) AS s, MAX(click_us) AS c,
         MAX(purchase_us) AS p
  FROM s3 GROUP BY user_id
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_users,
  CAST(SUM(CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_1h,
  CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_purchase_1h
FROM per_user
"""


def active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the rolling
    DISTINCT-actives family (harder than the count-based sliding
    windows: distinct users cannot be summed across buckets). A user
    active on day d contributes to the 7 windows ending d..d+6; WAU
    is the distinct count per window end, reported for observed days.

    Scale: ONE corpus scan reduces events to the distinct
    (day, user) daily-active frame (persisted — this is the standard
    materialized intermediate every growth stack maintains
    incrementally; |Σ daily actives| ≪ |events|). DAU is a count on
    it; WAU explodes it ×7 (bounded) and re-distincts on
    (window_end, user) — both shuffles carry active-frame rows, never
    event rows. Stickiness = DAU/WAU (by construction ≤ 1).
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    active = (
        ev.select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
        .persist()
    )
    dau = active.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        active.select(
            F.explode(F.expr("sequence(0, 6)")).alias("off"),
            F.expr("day + make_interval(0, 0, 0, off)").alias("wday"),
            "user_id",
        )
        .select(F.col("wday").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


ACTIVE_USERS_ORACLE = """
WITH active AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id
  FROM events WHERE ts IS NOT NULL
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM active GROUP BY day
),
wau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM (
    SELECT DISTINCT a.day + INTERVAL (o.off) DAY AS day, a.user_id
    FROM active a
    CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off) o
  ) GROUP BY day
)
SELECT
  strftime(d.day, '%Y-%m-%d') AS day,
  d.dau,
  w.wau,
  ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
FROM dau d JOIN wau w USING (day)
ORDER BY day
"""


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue ("LTV") curve per weekly signup cohort: a
    user belongs to the week of their FIRST event; each cohort's
    purchase revenue accumulates over week offsets 0..3 since that
    first week — the revenue sibling of the retention-cohort matrix.

    Scale: one groupBy(user) for the first-event timestamp, one
    same-key join back (AQE-coalesced), one (cohort, offset) rollup
    in integer cents, and the cumulative curve is a window
    partitioned by cohort over ≤5 offset rows — never unpartitioned.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    first = ev.groupBy("user_id").agg(F.min(_us("ts")).alias("first_us"))
    joined = ev.join(first, "user_id").select(
        "user_id",
        "event_type",
        "value",
        F.expr("date_trunc('week', timestamp_micros(first_us))").alias("cohort_week"),
        F.floor((_us("ts") - F.col("first_us")) / F.lit(7 * 86400 * 1_000_000))
        .cast("int")
        .alias("week_offset"),
    )
    rev = (
        joined.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
            & (F.col("week_offset") <= 3)
        )
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    w = W.partitionBy("cohort_week").orderBy("week_offset").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        rev.withColumn("cum_cents", F.sum("rev_cents").over(w))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.col("cum_cents").cast("long").alias("cum_cents"),
        )
        .orderBy("cohort_week", "week_offset")
    )


COHORT_LTV_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(epoch_us(ts)) AS first_us
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
),
joined AS (
  SELECT e.user_id, e.event_type, e.value,
    date_trunc('week', make_timestamp(f.first_us)) AS cohort_week,
    CAST(FLOOR((epoch_us(e.ts) - f.first_us) / 604800000000.0) AS INTEGER)
      AS week_offset
  FROM events e JOIN firsts f USING (user_id)
  WHERE e.ts IS NOT NULL
),
rev AS (
  SELECT cohort_week, week_offset,
    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM joined
  WHERE event_type = 'purchase' AND value IS NOT NULL AND week_offset <= 3
  GROUP BY cohort_week, week_offset
)
SELECT
  strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
  week_offset,
  rev_cents,
  CAST(SUM(rev_cents) OVER (
    PARTITION BY cohort_week ORDER BY week_offset
    ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS cum_cents
FROM rev
ORDER BY cohort_week, week_offset
"""


def rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling regression slope of daily purchase revenue —
    trend detection one step past the moving average
    (:func:`seasonal_decompose`): for each day with a full 14-day
    trailing window, fit revenue ~ day-index by OLS. With fixed
    design x = 0..13 the slope reduces to an INTEGER numerator
    (14*sum(x*y) - 91*sum(y), y in cents) over the constant 3185 —
    exact on both engines until one final division. Reports the 5
    steepest-rising and 5 steepest-falling days.

    Scale: the corpus-width work is ONE map-side daily rollup
    (persisted, 365 rows/year/stream); windows come from a bounded
    x14 offset explode + equi-join on the rollup — never an
    unpartitioned running window — and top-5s are
    TakeOrderedAndProject.
    """
    ev = load_table(spark, "events", sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents")
        )
        .persist()
    )
    contrib = daily.select(
        "day",
        "cents",
        F.explode(F.array(*[F.lit(k) for k in range(14)])).alias("k"),
    ).select(
        F.date_add(F.col("day"), F.col("k")).alias("target"),
        (13 - F.col("k")).alias("x"),
        "cents",
    )
    wins = (
        contrib.join(daily.select(F.col("day").alias("target")), "target")
        .groupBy("target")
        .agg(
            F.count(F.lit(1)).alias("nwin"),
            F.sum(F.col("x") * F.col("cents")).alias("sxy"),
            F.sum("cents").alias("sy"),
        )
        .filter(F.col("nwin") == 14)
        .select(
            "target",
            (14 * F.col("sxy") - 91 * F.col("sy")).alias("num"),
        )
    )
    rising = wins.orderBy(F.desc("num"), "target").limit(5)
    falling = wins.orderBy(F.asc("num"), "target").limit(5)
    return (
        rising.unionByName(falling)
        .select(
            F.date_format("target", "yyyy-MM-dd").alias("day"),
            F.round(F.col("num") / 3185.0, 6).alias("slope_cents_per_day"),
        )
        .orderBy(F.desc("slope_cents_per_day"), "day")
    )


ROLLING_TREND_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1
),
contrib AS (
  SELECT day + CAST(k.k AS INTEGER) AS target,
         13 - k.k AS x, cents
  FROM daily CROSS JOIN (SELECT unnest(range(14)) AS k) k
),
wins AS (
  SELECT c.target,
    COUNT(*) AS nwin,
    CAST(14 * SUM(c.x * c.cents) - 91 * SUM(c.cents) AS BIGINT) AS num
  FROM contrib c JOIN daily d ON d.day = c.target
  GROUP BY c.target
  HAVING COUNT(*) = 14
),
picked AS (
  (SELECT target, num FROM wins ORDER BY num DESC, target LIMIT 5)
  UNION ALL
  (SELECT target, num FROM wins ORDER BY num ASC, target LIMIT 5)
)
SELECT strftime(target, '%Y-%m-%d') AS day,
  ROUND(num / 3185.0, 6) AS slope_cents_per_day
FROM picked
ORDER BY slope_cents_per_day DESC, day
"""


def anomaly_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-residual anomaly detection — the composition the separate
    pieces exist for (:func:`seasonal_decompose` removes trend +
    weekday seasonality; :func:`anomaly_zscore` thresholds): daily
    counts minus the centered 7-day trend minus the weekday index,
    z-scored, top-5 most anomalous days.

    Exactness discipline: counts are integers, so every intermediate
    stays an INTEGER NUMERATOR over a known denominator — dev7 =
    7n - sum(window), residual = (cnt*dev7 - sum(dev7 by weekday)) /
    (7*cnt) — making the residual doubles bit-identical across
    engines before the final (rounded) z.

    Scale: one map-side daily rollup (persisted), a bounded x7
    explode + equi-join for the trend, 7-row weekday aggregate,
    broadcast mean/std, TakeOrderedAndProject top-5.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    neighbors = daily.select(
        F.explode(F.expr("sequence(-3, 3)")).alias("off"),
        F.expr("day + make_interval(0, 0, 0, off)").alias("center"),
        F.col("n").alias("n_member"),
    )
    win = (
        neighbors.groupBy("center")
        .agg(F.count(F.lit(1)).alias("m"), F.sum("n_member").alias("s"))
        .filter(F.col("m") == 7)
        .select(F.col("center").alias("day"), "s")
    )
    dev = daily.join(win, "day").select(
        "day",
        "n",
        F.pmod(
            F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date")),
            F.lit(7),
        ).alias("wd"),
        (7 * F.col("n") - F.col("s")).alias("dev7"),
    )
    wd_stats = dev.groupBy("wd").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("dev7").alias("sdev7")
    )
    resid = dev.join(F.broadcast(wd_stats), "wd").select(
        "day",
        "n",
        (
            (F.col("cnt") * F.col("dev7") - F.col("sdev7"))
            / (7.0 * F.col("cnt"))
        ).alias("r"),
    )
    stats = resid.agg(
        F.avg("r").alias("mu"), F.stddev_pop("r").alias("sigma")
    )
    scored = resid.crossJoin(F.broadcast(stats)).select(
        "day",
        "n",
        F.round("r", 6).alias("residual"),
        F.round((F.col("r") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
    )
    return (
        scored.orderBy(F.abs(F.col("z")).desc(), "day")
        .limit(5)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n_events"),
            "residual",
            "z",
        )
    )


ANOMALY_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
win AS (
  SELECT d.day, COUNT(*) AS m, CAST(SUM(x.n) AS BIGINT) AS s
  FROM daily d
  JOIN daily x ON x.day BETWEEN d.day - INTERVAL 3 DAY
                            AND d.day + INTERVAL 3 DAY
  GROUP BY d.day
  HAVING COUNT(*) = 7
),
dev AS (
  SELECT d.day, d.n,
    CAST((epoch(d.day) / 86400 - epoch(DATE '2024-01-01') / 86400) AS BIGINT)
      % 7 AS wd,
    CAST(7 * d.n - w.s AS BIGINT) AS dev7
  FROM daily d JOIN win w ON w.day = d.day
),
wd_stats AS (
  SELECT wd, COUNT(*) AS cnt, CAST(SUM(dev7) AS BIGINT) AS sdev7
  FROM dev GROUP BY wd
),
resid AS (
  SELECT d.day, d.n,
    (s.cnt * d.dev7 - s.sdev7) / (7.0 * s.cnt) AS r
  FROM dev d JOIN wd_stats s USING (wd)
),
st AS (SELECT AVG(r) AS mu, stddev_pop(r) AS sigma FROM resid)
SELECT strftime(day, '%Y-%m-%d') AS day,
  CAST(n AS BIGINT) AS n_events,
  ROUND(r, 6) AS residual,
  ROUND((r - st.mu) / st.sigma, 6) AS z
FROM resid CROSS JOIN st
ORDER BY ABS(ROUND((r - st.mu) / st.sigma, 6)) DESC, day
LIMIT 5
"""


# ---------------------------------------------------------------------------
# CUPED variance reduction (round 4). The theta / adjusted-mean /
# variance-reduction algebra is defined ONCE as expression text and
# evaluated by BOTH engines (F.expr / verbatim oracle SQL) over
# identically named sufficient-statistic columns — the
# events_markov_attribution parity pattern.
# ---------------------------------------------------------------------------
CUPED_CUTOFF = "2024-01-16"
# NULLIF: a degenerate pre-period (every user's x identical, e.g. no
# events before the cutoff) makes var(X) exactly 0 — both engines must
# yield NULL theta rows rather than Spark's ANSI DIVIDE_BY_ZERO raise
_CUPED_THETA = "((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0))"
_CUPED_VARY = "(n * syy - sy * sy)"
# sum of squared adjusted metrics: Σ(y − θ(x − x̄))², expanded so it
# reads off the pooled sufficient statistics only
_CUPED_SYYADJ = (
    f"(syy - 2 * {_CUPED_THETA} * (sxy - (sx / n) * sy)"
    f" + {_CUPED_THETA} * {_CUPED_THETA}"
    f" * (sxx - 2 * (sx / n) * sx + n * (sx / n) * (sx / n)))"
)
_CUPED_REDUCTION = (
    f"(1 - (n * {_CUPED_SYYADJ} - sy * sy) / NULLIF({_CUPED_VARY}, 0))"
)


def _cuped_mean_adj(v: str) -> str:
    """Per-variant CUPED-adjusted mean: (Σy_v − θ(Σx_v − n_v·x̄))/n_v."""
    return (
        f"((sy_{v} - {_CUPED_THETA} * (sx_{v} - n_{v} * (sx / n))) / n_{v})"
    )


def ab_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al.
    2013, the industry-standard experiment sensitivity boost): the
    PRE-period per-user metric is the covariate, θ = cov(X,Y)/var(X)
    is fit POOLED across both variants (unbiased under randomized
    assignment), and each variant's adjusted mean
    ȳ_v − θ(x̄_v − x̄) plus the achieved variance-reduction factor
    (theoretically ρ²) come straight off the sufficient statistics.

    One scan builds the per-user (pre, experiment) metric pair
    (conditional sums around ``CUPED_CUTOFF``); ONE aggregation row
    carries pooled + per-variant sufficient statistics; all algebra
    is driver-free closed form. A degenerate pre-period (var(X)=0)
    yields NULL theta/adjusted rows on BOTH engines via the NULLIF
    guards in the shared expression text, never an ANSI crash.
    """
    ev = load_table(spark, "events", sf_dir)
    cut = F.lit(CUPED_CUTOFF).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)).alias("y"),
    )
    pu = per_user.withColumn(
        "variant", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b")
    )
    stats = pu.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        *[
            agg
            for v in ("a", "b")
            for agg in (
                F.sum((F.col("variant") == v).cast("double")).alias(f"n_{v}"),
                F.sum(
                    F.when(F.col("variant") == v, F.col("x")).otherwise(0.0)
                ).alias(f"sx_{v}"),
                F.sum(
                    F.when(F.col("variant") == v, F.col("y")).otherwise(0.0)
                ).alias(f"sy_{v}"),
            )
        ],
    )
    # both variant rows exploded out of ONE projection — a union of
    # two selects off the unpersisted aggregate would re-derive the
    # whole lineage (two corpus scans; Spark does not reuse shared
    # subplans), the repo's documented shared-subplan pitfall
    variant_row = lambda v: F.struct(  # noqa: E731
        F.lit(v).alias("variant"),
        F.expr(f"cast(n_{v} as bigint)").alias("n_users"),
        F.expr(f"round(sy_{v} / n_{v}, 6)").alias("mean_metric"),
        F.expr(f"round({_cuped_mean_adj(v)}, 6)").alias("mean_metric_cuped"),
        F.expr(f"round({_CUPED_THETA}, 6)").alias("theta"),
        F.expr(f"round({_CUPED_REDUCTION}, 6)").alias("var_reduction"),
    )
    return (
        stats.select(
            F.explode(F.array(variant_row("a"), variant_row("b"))).alias("r")
        )
        .select("r.*")
        .orderBy("variant")
    )


AB_CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
    SUM(CASE WHEN ts < TIMESTAMP '{CUPED_CUTOFF}' THEN value ELSE 0.0 END) AS x,
    SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_CUTOFF}' THEN value ELSE 0.0 END) AS y
  FROM events GROUP BY user_id
),
pu AS (
  SELECT *, CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant
  FROM per_user
),
stats AS (
  SELECT
    CAST(COUNT(*) AS DOUBLE) AS n,
    SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy,
    CAST(SUM(CASE WHEN variant = 'a' THEN 1 ELSE 0 END) AS DOUBLE) AS n_a,
    SUM(CASE WHEN variant = 'a' THEN x ELSE 0.0 END) AS sx_a,
    SUM(CASE WHEN variant = 'a' THEN y ELSE 0.0 END) AS sy_a,
    CAST(SUM(CASE WHEN variant = 'b' THEN 1 ELSE 0 END) AS DOUBLE) AS n_b,
    SUM(CASE WHEN variant = 'b' THEN x ELSE 0.0 END) AS sx_b,
    SUM(CASE WHEN variant = 'b' THEN y ELSE 0.0 END) AS sy_b
  FROM pu
)
SELECT 'a' AS variant, CAST(n_a AS BIGINT) AS n_users,
  ROUND(sy_a / n_a, 6) AS mean_metric,
  ROUND({_cuped_mean_adj('a')}, 6) AS mean_metric_cuped,
  ROUND({_CUPED_THETA}, 6) AS theta,
  ROUND({_CUPED_REDUCTION}, 6) AS var_reduction
FROM stats
UNION ALL
SELECT 'b' AS variant, CAST(n_b AS BIGINT) AS n_users,
  ROUND(sy_b / n_b, 6) AS mean_metric,
  ROUND({_cuped_mean_adj('b')}, 6) AS mean_metric_cuped,
  ROUND({_CUPED_THETA}, 6) AS theta,
  ROUND({_CUPED_REDUCTION}, 6) AS var_reduction
FROM stats
ORDER BY variant
"""


def ab_quantile_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect — the distributional A/B readout
    means hide: exact P25/P50/P75 of per-user purchase spend for each
    variant, and the per-quantile difference. Detects effects that
    shift the tails without moving the mean (heavy-user behavior,
    price-mix changes).

    Exactness: per-user spend is SUM of integer cents (bigint —
    addition-order-independent, so cross-engine identical BEFORE any
    ranking; float metrics would risk ulp-level rank flips at the
    quantile boundary). Quantiles use the lower-value definition:
    smallest spend whose within-variant cumulative user count reaches
    ceil(q·n_v), computed with pure integer arithmetic
    ((n·k + 3) div 4).

    Scale: one scan → per-user rollup (one shuffle on user) →
    value-level rollup per variant (tiny) → PARTITIONED (per-variant)
    prefix window over the distinct-value frame, never a global
    window; the quantile pick is a filter + min over that frame.
    """
    ev = load_table(spark, "events", sf_dir)
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "spend_cents"
            )
        )
        .withColumn(
            "variant", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b")
        )
    )
    vals = per_user.groupBy("variant", "spend_cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = W.partitionBy("variant").orderBy("spend_cents")
    cum = vals.withColumn("cum", F.sum("c").over(wv))
    totals = per_user.groupBy("variant").agg(F.count(F.lit(1)).alias("n_v"))
    j = cum.join(totals, "variant")
    ks = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    picked = (
        j.join(F.broadcast(ks))
        .filter(F.col("cum") >= F.expr("(n_v * k + 3) div 4"))
        .groupBy("k", "variant")
        .agg(F.min("spend_cents").alias("v"))
    )
    return (
        picked.groupBy("k")
        .agg(
            F.sum(F.when(F.col("variant") == "a", F.col("v"))).alias("spend_a"),
            F.sum(F.when(F.col("variant") == "b", F.col("v"))).alias("spend_b"),
        )
        .select(
            (F.col("k") * 25).cast("int").alias("percentile"),
            F.col("spend_a").cast("long").alias("spend_a_cents"),
            F.col("spend_b").cast("long").alias("spend_b_cents"),
            (F.col("spend_a") - F.col("spend_b")).cast("long").alias(
                "effect_cents"
            ),
        )
        .orderBy("percentile")
    )


AB_QUANTILE_ORACLE = """
WITH per_user AS (
  SELECT user_id,
    CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS spend_cents,
    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
vals AS (
  SELECT variant, spend_cents, COUNT(*) AS c
  FROM per_user GROUP BY variant, spend_cents
),
cum AS (
  SELECT *, SUM(c) OVER (
    PARTITION BY variant ORDER BY spend_cents ROWS UNBOUNDED PRECEDING
  ) AS cum
  FROM vals
),
totals AS (SELECT variant, COUNT(*) AS n_v FROM per_user GROUP BY variant),
ks AS (SELECT unnest([1, 2, 3]) AS k),
picked AS (
  SELECT ks.k, c.variant, MIN(c.spend_cents) AS v
  FROM cum c JOIN totals t ON t.variant = c.variant CROSS JOIN ks
  WHERE c.cum >= (t.n_v * ks.k + 3) // 4
  GROUP BY ks.k, c.variant
)
SELECT CAST(k * 25 AS INTEGER) AS percentile,
  CAST(SUM(CASE WHEN variant = 'a' THEN v END) AS BIGINT) AS spend_a_cents,
  CAST(SUM(CASE WHEN variant = 'b' THEN v END) AS BIGINT) AS spend_b_cents,
  CAST(SUM(CASE WHEN variant = 'a' THEN v END)
    - SUM(CASE WHEN variant = 'b' THEN v END) AS BIGINT) AS effect_cents
FROM picked
GROUP BY k
ORDER BY percentile
"""


def ab_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of time-to-first-purchase per variant —
    the churn/conversion-latency readout: S(t) = Π_{t_i<=t}
    (1 - d_i/n_i) over event-day granularity, with users who never
    purchase right-censored at their last observed day.

    Construction is the classic value-level KM table, all relational:
    per user ONE row (t_days from first event to first purchase, or
    to last event with status=censored); per (variant, day): d =
    purchases, c = censorings; the at-risk count is a SUFFIX count
    (total minus the prefix of earlier exits) from a per-variant
    prefix window over the ~60-row day frame — never a global window,
    never a self-join. The survival product runs in log space
    (cumulative sum of ln terms, one exp at the edge): each ln is
    libm-rounded identically enough that a 6-decimal edge round
    absorbs the ulp drift (repo-established ln discipline).

    Scale: one scan -> per-user min/max rollup (one shuffle on user)
    -> day-level frame; the KM algebra runs on rows = observed days x
    variants regardless of SF.
    """
    ev = load_table(spark, "events", sf_dir)
    first_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        first_purchase.alias("tp"),
        F.max("ts").alias("tl"),
    )
    pu = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("variant"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("status"),
        F.datediff(
            F.coalesce(F.col("tp"), F.col("tl")).cast("date"),
            F.col("t0").cast("date"),
        ).alias("t_days"),
    )
    days = pu.groupBy("variant", "t_days").agg(
        F.sum("status").alias("d"),
        F.sum(1 - F.col("status")).alias("c"),
    )
    wv = W.partitionBy("variant").orderBy("t_days")
    totals = pu.groupBy("variant").agg(F.count(F.lit(1)).alias("n_tot"))
    km = (
        days.join(totals, "variant")
        .withColumn("exited_cum", F.sum(F.col("d") + F.col("c")).over(wv))
        .withColumn(
            "n_risk", F.col("n_tot") - F.col("exited_cum") + F.col("d") + F.col("c")
        )
        # a step where EVERYONE at risk purchases drives survival to
        # exactly 0 (ln(0) would error on DuckDB / NULL on Spark):
        # track it as a cumulative flag and pin survival to 0.0 from
        # that step on; ln terms only accumulate for d < n_risk
        .withColumn(
            "ln_term",
            F.when(
                F.col("d") < F.col("n_risk"),
                F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "hit_zero",
            F.max((F.col("d") == F.col("n_risk")).cast("int")).over(wv),
        )
        .withColumn("ln_surv", F.sum("ln_term").over(wv))
    )
    return km.select(
        "variant",
        F.col("t_days").cast("int").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_purchases"),
        F.col("c").cast("long").alias("n_censored"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("ln_surv"), 6))
        .alias("survival"),
    ).orderBy("variant", "t_days")


AB_SURVIVAL_KM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
    MIN(ts) AS t0,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
    MAX(ts) AS tl
  FROM events GROUP BY user_id
),
pu AS (
  SELECT
    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
    CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS status,
    date_diff('day', CAST(t0 AS DATE), CAST(COALESCE(tp, tl) AS DATE))
      AS t_days
  FROM per_user
),
days AS (
  SELECT variant, t_days,
    CAST(SUM(status) AS BIGINT) AS d,
    CAST(SUM(1 - status) AS BIGINT) AS c
  FROM pu GROUP BY variant, t_days
),
totals AS (SELECT variant, COUNT(*) AS n_tot FROM pu GROUP BY variant),
km AS (
  SELECT dy.variant, dy.t_days, dy.d, dy.c,
    t.n_tot
      - SUM(dy.d + dy.c) OVER (
          PARTITION BY dy.variant ORDER BY dy.t_days ROWS UNBOUNDED PRECEDING
        ) + dy.d + dy.c AS n_risk
  FROM days dy JOIN totals t ON t.variant = dy.variant
),
surv AS (
  SELECT *,
    SUM(CASE WHEN d < n_risk
         THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END) OVER (
      PARTITION BY variant ORDER BY t_days ROWS UNBOUNDED PRECEDING
    ) AS ln_surv,
    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (
      PARTITION BY variant ORDER BY t_days ROWS UNBOUNDED PRECEDING
    ) AS hit_zero
  FROM km
)
SELECT variant,
  CAST(t_days AS INTEGER) AS t_days,
  CAST(n_risk AS BIGINT) AS n_at_risk,
  d AS n_purchases,
  c AS n_censored,
  CASE WHEN hit_zero = 1 THEN 0.0 ELSE ROUND(exp(ln_surv), 6) END AS survival
FROM surv
ORDER BY variant, t_days
"""


def linear_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine resample + LINEAR interpolation of per-user daily
    purchase spend (pandas ``resample('D').interpolate('linear')``, the
    step up from the forward-fill in :func:`fill_forward_values`).

    Purchases are sparse at the (user, day) grain, so the spine —
    distinct active users × distinct observed days — has real interior
    gaps. Each gap day gets the integer-exact linear blend of the
    bracketing observations,

        filled = (prev·(len − pos) + next·pos) div len,

    computed entirely in bigint cents (pos = days since the previous
    observation, len = bracket width in days), so the result is
    bit-identical across engines — no float ramp, no libm. Days before
    the first / after the last observation degrade to bfill / ffill,
    and fully-empty users stay NULL, each labeled in ``fill_kind``.

    Scale: the spine is |users| × |days| — orders of magnitude smaller
    than the event log, and the daily aggregate that feeds it shrinks
    map-side first. The day dimension is broadcast (bounded calendar);
    the only shuffle is one hash partition on ``user_id``, which then
    serves BOTH bracketing windows. No self-join, no range explosion:
    prev/next come from running last/first-ignorenulls frames, O(days)
    state per user.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            "user_id", F.date_trunc("day", "ts").alias("day")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias(
                "spend_cents"
            )
        )
    )
    users = ev.select("user_id").distinct()
    days = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    spine = users.crossJoin(F.broadcast(days))
    j = spine.join(daily, ["user_id", "day"], "left")

    w_back = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_day = F.when(F.col("spend_cents").isNotNull(), F.col("day"))
    br = (
        j.withColumn("prev_c", F.last("spend_cents", ignorenulls=True).over(w_back))
        .withColumn("prev_day", F.last(obs_day, ignorenulls=True).over(w_back))
        .withColumn("next_c", F.first("spend_cents", ignorenulls=True).over(w_fwd))
        .withColumn("next_day", F.first(obs_day, ignorenulls=True).over(w_fwd))
    )
    interp = F.expr(
        "(prev_c * (datediff(next_day, prev_day) - datediff(day, prev_day))"
        " + next_c * datediff(day, prev_day))"
        " div datediff(next_day, prev_day)"
    )
    return br.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "spend_cents",
        F.when(F.col("spend_cents").isNotNull(), F.col("spend_cents"))
        .when(F.col("prev_c").isNull(), F.col("next_c"))
        .when(F.col("next_c").isNull(), F.col("prev_c"))
        .otherwise(interp)
        .alias("filled_cents"),
        F.when(F.col("spend_cents").isNotNull(), F.lit("actual"))
        .when(F.col("prev_c").isNull() & F.col("next_c").isNull(), F.lit("empty"))
        .when(F.col("prev_c").isNull(), F.lit("bfill"))
        .when(F.col("next_c").isNull(), F.lit("ffill"))
        .otherwise(F.lit("interp"))
        .alias("fill_kind"),
    ).orderBy("user_id", "day")


LINEAR_INTERPOLATE_ORACLE = """
WITH ev AS (SELECT * FROM events WHERE ts IS NOT NULL),
daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2
),
spine AS (
  SELECT u.user_id, d.day
  FROM (SELECT DISTINCT user_id FROM ev) u
  CROSS JOIN (SELECT DISTINCT date_trunc('day', ts) AS day FROM ev) d
),
j AS (
  SELECT s.user_id, s.day, daily.spend_cents
  FROM spine s LEFT JOIN daily
    ON s.user_id = daily.user_id AND s.day = daily.day
),
br AS (
  SELECT user_id, day, spend_cents,
    LAST_VALUE(spend_cents IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
    LAST_VALUE(CASE WHEN spend_cents IS NOT NULL THEN day END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
    FIRST_VALUE(spend_cents IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
    FIRST_VALUE(CASE WHEN spend_cents IS NOT NULL THEN day END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
  FROM j
)
SELECT user_id,
  strftime(day, '%Y-%m-%d') AS day,
  spend_cents,
  CAST(CASE WHEN spend_cents IS NOT NULL THEN spend_cents
       WHEN prev_c IS NULL THEN next_c
       WHEN next_c IS NULL THEN prev_c
       ELSE (prev_c * (DATE_DIFF('day', prev_day, next_day)
                       - DATE_DIFF('day', prev_day, day))
             + next_c * DATE_DIFF('day', prev_day, day))
            // DATE_DIFF('day', prev_day, next_day)
  END AS BIGINT) AS filled_cents,
  CASE WHEN spend_cents IS NOT NULL THEN 'actual'
       WHEN prev_c IS NULL AND next_c IS NULL THEN 'empty'
       WHEN prev_c IS NULL THEN 'bfill'
       WHEN next_c IS NULL THEN 'ffill'
       ELSE 'interp'
  END AS fill_kind
FROM br
ORDER BY user_id, day
"""


# --- A/B power / minimum-detectable-effect design grid ----------------------
# Normal-approximation two-sample design: MDE(n) = (z_a + z_p)·√(2σ²/n).
# The z quantiles are fixed LITERALS (α=0.05 two-sided → 1.959964;
# power 80/90% → 0.841621 / 1.281552) — no inverse-normal libm call
# exists in either engine's deterministic surface, and the published
# constants are what every experimentation platform hard-codes.
POWER_GRID_NS = (1_000, 5_000, 10_000, 50_000, 100_000)
Z_ALPHA = "1.959964"
POWER_ROWS = "struct(80 as p, 0.841621 as zp), struct(90 as p, 1.281552 as zp)"


def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DESIGN-phase half of the A/B suite (the readout half is
    :func:`ab_welch_ttest` / CUPED / QTE): from the historical
    per-user purchase metric, the minimum detectable effect a future
    two-arm experiment of n users per arm can resolve at α=0.05 for
    80% and 90% power — the sizing table every experiment review
    starts from.

    Output: one row per (power_pct, n_per_arm) over a fixed n grid:
    pooled mean and variance of the metric, absolute MDE, and MDE as
    a fraction of the mean (the "relative lift" experimenters quote).

    Scale: one map-side-combinable groupBy(user_id), then ONE
    sufficient-statistics aggregate to a single row; the design grid
    is a 10-row literal explode against that row — no second scan, no
    window, nothing grows with data. Mirrors ab_welch_ttest's proven
    Σx/Σx² discipline; try_divide guards the n=1 degenerate corpus.
    """
    ev = load_table(spark, "events", sf_dir)
    per_user = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg((F.sum("value") / F.count(F.lit(1))).alias("metric"))
    )
    stats = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("metric").alias("s1"),
        F.sum(F.col("metric") * F.col("metric")).alias("s2"),
    ).select(
        "n_users",
        (F.col("s1") / F.col("n_users")).alias("mean_metric"),
        F.try_divide(
            F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_users"),
            F.col("n_users") - 1,
        ).alias("sigma2"),
    )
    grid = stats.select(
        "*",
        F.explode(
            F.array(*[F.lit(n) for n in POWER_GRID_NS])
        ).alias("n_per_arm"),
    ).select(
        "*", F.explode(F.expr(f"array({POWER_ROWS})")).alias("pw")
    )
    mde = F.expr(
        f"({Z_ALPHA} + pw.zp) * sqrt(2.0 * sigma2 / n_per_arm)"
    )
    return (
        grid.select(
            F.col("pw.p").cast("long").alias("power_pct"),
            F.col("n_per_arm").cast("long").alias("n_per_arm"),
            F.col("n_users").cast("long").alias("n_users_observed"),
            F.round("mean_metric", 6).alias("mean_metric"),
            F.round("sigma2", 6).alias("sigma2"),
            F.round(mde, 6).alias("mde_abs"),
            F.round(F.try_divide(mde, F.col("mean_metric")), 6).alias(
                "mde_rel"
            ),
        )
        .orderBy("power_pct", "n_per_arm")
    )


AB_POWER_MDE_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, SUM(value) / COUNT(*) AS metric
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id
),
stats AS (
  SELECT
    COUNT(*) AS n_users,
    SUM(metric) / COUNT(*) AS mean_metric,
    (SUM(metric * metric) - SUM(metric) * SUM(metric) / COUNT(*))
      / (COUNT(*) - 1) AS sigma2
  FROM per_user
),
grid AS (
  SELECT s.*, ns.n_per_arm, pw.p, pw.zp
  FROM stats s
  CROSS JOIN (VALUES {", ".join(f"({n})" for n in POWER_GRID_NS)})
    AS ns(n_per_arm)
  CROSS JOIN (VALUES (80, 0.841621), (90, 1.281552)) AS pw(p, zp)
)
SELECT
  CAST(p AS BIGINT) AS power_pct,
  CAST(n_per_arm AS BIGINT) AS n_per_arm,
  CAST(n_users AS BIGINT) AS n_users_observed,
  ROUND(mean_metric, 6) AS mean_metric,
  ROUND(sigma2, 6) AS sigma2,
  ROUND(({Z_ALPHA} + zp) * sqrt(2.0 * sigma2 / n_per_arm), 6) AS mde_abs,
  ROUND(({Z_ALPHA} + zp) * sqrt(2.0 * sigma2 / n_per_arm) / mean_metric, 6)
    AS mde_rel
FROM grid
ORDER BY power_pct, n_per_arm
"""


def ab_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences A/B readout: the IDENTIFICATION
    complement to :func:`ab_cuped_adjust` (which only reduces
    variance) — under the parallel-trends assumption the causal
    effect is the between-variant difference of within-user pre→post
    spend deltas, which nets out any level shift common to both arms.

    Same design surface as the rest of the suite: ``CUPED_CUTOFF``
    splits pre/post, ``user_id % 2`` assigns variants, the metric is
    per-user purchase spend. Output is ONE row: per-cell means of the
    2×2 (variant × period) design, the DiD point estimate, its
    standard error from the per-variant delta variances, and the t
    statistic.

    Scale: one map-side-combinable groupBy(user_id) with conditional
    sums, then ONE sufficient-statistics aggregation row — identical
    cost envelope to ab_welch_ttest; all closed form, no window, no
    collect. NULLIF/try_divide guard single-user variants and
    zero-variance deltas (NULL on both engines, never an ANSI crash).
    """
    ev = load_table(spark, "events", sf_dir)
    cut = F.lit(CUPED_CUTOFF).cast("timestamp")
    pu = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0)
            ).alias("x"),
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0)
            ).alias("y"),
        )
        .withColumn(
            "variant", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b")
        )
        .withColumn("d", F.col("y") - F.col("x"))
    )
    stats = pu.agg(
        *[
            agg
            for v in ("a", "b")
            for agg in (
                F.sum((F.col("variant") == v).cast("double")).alias(f"n_{v}"),
                F.sum(
                    F.when(F.col("variant") == v, F.col("x")).otherwise(0.0)
                ).alias(f"sx_{v}"),
                F.sum(
                    F.when(F.col("variant") == v, F.col("y")).otherwise(0.0)
                ).alias(f"sy_{v}"),
                F.sum(
                    F.when(F.col("variant") == v, F.col("d")).otherwise(0.0)
                ).alias(f"sd_{v}"),
                F.sum(
                    F.when(
                        F.col("variant") == v, F.col("d") * F.col("d")
                    ).otherwise(0.0)
                ).alias(f"sdd_{v}"),
            )
        ]
    )
    var_d = (
        lambda v: f"((sdd_{v} - sd_{v} * sd_{v} / NULLIF(n_{v}, 0.0))"
        f" / NULLIF(n_{v} - 1, 0))"
    )
    did = "((sd_b / NULLIF(n_b, 0.0)) - (sd_a / NULLIF(n_a, 0.0)))"
    se = f"sqrt({var_d('a')} / NULLIF(n_a, 0.0) + {var_d('b')} / NULLIF(n_b, 0.0))"
    return stats.select(
        F.expr("cast(n_a as bigint)").alias("n_a"),
        F.expr("cast(n_b as bigint)").alias("n_b"),
        F.expr("round(sx_a / NULLIF(n_a, 0.0), 6)").alias("pre_mean_a"),
        F.expr("round(sy_a / NULLIF(n_a, 0.0), 6)").alias("post_mean_a"),
        F.expr("round(sx_b / NULLIF(n_b, 0.0), 6)").alias("pre_mean_b"),
        F.expr("round(sy_b / NULLIF(n_b, 0.0), 6)").alias("post_mean_b"),
        F.expr(f"round({did}, 6)").alias("did"),
        F.expr(f"round({se}, 6)").alias("se_did"),
        F.expr(f"round({did} / NULLIF({se}, 0.0), 6)").alias("t_did"),
    )


AB_DID_ORACLE = f"""
WITH pu AS (
  SELECT
    user_id,
    CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
    SUM(CASE WHEN ts < TIMESTAMP '{CUPED_CUTOFF}' THEN value ELSE 0.0 END)
      AS x,
    SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_CUTOFF}' THEN value ELSE 0.0 END)
      AS y
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id
),
d AS (SELECT *, y - x AS d FROM pu),
stats AS (
  SELECT
    SUM(CASE WHEN variant = 'a' THEN 1.0 ELSE 0.0 END) AS n_a,
    SUM(CASE WHEN variant = 'a' THEN x ELSE 0.0 END) AS sx_a,
    SUM(CASE WHEN variant = 'a' THEN y ELSE 0.0 END) AS sy_a,
    SUM(CASE WHEN variant = 'a' THEN d ELSE 0.0 END) AS sd_a,
    SUM(CASE WHEN variant = 'a' THEN d * d ELSE 0.0 END) AS sdd_a,
    SUM(CASE WHEN variant = 'b' THEN 1.0 ELSE 0.0 END) AS n_b,
    SUM(CASE WHEN variant = 'b' THEN x ELSE 0.0 END) AS sx_b,
    SUM(CASE WHEN variant = 'b' THEN y ELSE 0.0 END) AS sy_b,
    SUM(CASE WHEN variant = 'b' THEN d ELSE 0.0 END) AS sd_b,
    SUM(CASE WHEN variant = 'b' THEN d * d ELSE 0.0 END) AS sdd_b
  FROM d
)
SELECT
  CAST(n_a AS BIGINT) AS n_a,
  CAST(n_b AS BIGINT) AS n_b,
  ROUND(sx_a / NULLIF(n_a, 0.0), 6) AS pre_mean_a,
  ROUND(sy_a / NULLIF(n_a, 0.0), 6) AS post_mean_a,
  ROUND(sx_b / NULLIF(n_b, 0.0), 6) AS pre_mean_b,
  ROUND(sy_b / NULLIF(n_b, 0.0), 6) AS post_mean_b,
  ROUND((sd_b / NULLIF(n_b, 0.0)) - (sd_a / NULLIF(n_a, 0.0)), 6) AS did,
  ROUND(sqrt(((sdd_a - sd_a * sd_a / NULLIF(n_a, 0.0)) / NULLIF(n_a - 1, 0)) / NULLIF(n_a, 0.0)
           + ((sdd_b - sd_b * sd_b / NULLIF(n_b, 0.0)) / NULLIF(n_b - 1, 0)) / NULLIF(n_b, 0.0)), 6)
    AS se_did,
  ROUND(((sd_b / NULLIF(n_b, 0.0)) - (sd_a / NULLIF(n_a, 0.0)))
        / NULLIF(sqrt(((sdd_a - sd_a * sd_a / NULLIF(n_a, 0.0)) / NULLIF(n_a - 1, 0)) / NULLIF(n_a, 0.0)
                    + ((sdd_b - sd_b * sd_b / NULLIF(n_b, 0.0)) / NULLIF(n_b - 1, 0)) / NULLIF(n_b, 0.0)),
                 0.0), 6) AS t_did
FROM stats
"""


def ab_srm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the check every
    experimentation platform runs BEFORE any readout (Welch / CUPED /
    DiD are all invalid if assignment is skewed): per day, the count
    of distinct active users landing in each arm of the 50/50
    ``user_id % 2`` split, the one-degree chi-square statistic
    against the expected even split, and a flag at the 95% critical
    value.

    For an even split the statistic collapses to
    ``(n_a − n_b)² / (n_a + n_b)`` — an integer numerator and one
    division, so both engines produce the identical IEEE double (no
    libm, no float accumulation). The 3.841459 critical value is the
    published χ²₁(0.95) literal, not an inverse-CDF call.

    Scale: one distinct on (day, user) — a single map-side-combinable
    shuffle — then a per-day conditional count; the daily grid is
    calendar-bounded regardless of data volume.
    """
    ev = load_table(spark, "events", sf_dir)
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
        .withColumn("n_b", (F.col("n_total") - F.col("n_a")).cast("bigint"))
    )
    # floor discipline, not ROUND: k²/n with n = 2^a·5^b lands exactly
    # on 7-decimal .5 boundaries where the engines' ROUND can disagree
    chi2 = (
        "floor((n_a - n_b) * (n_a - n_b) / cast(n_a + n_b as double)"
        " * 1e6 + 0.5) / 1e6"
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_a",
        "n_b",
        F.expr(chi2).alias("chi2"),
        F.expr(f"cast({chi2} > 3.841459 as int)").alias("srm_flag"),
    ).orderBy("day")


AB_SRM_ORACLE = """
WITH daily AS (
  SELECT day,
    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(COUNT(*) AS BIGINT) AS n_total
  FROM (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
  GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, n_a,
  CAST(n_total - n_a AS BIGINT) AS n_b,
  FLOOR((n_a - (n_total - n_a)) * (n_a - (n_total - n_a))
        / CAST(n_total AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2,
  CAST(FLOOR((n_a - (n_total - n_a)) * (n_a - (n_total - n_a))
        / CAST(n_total AS DOUBLE) * 1e6 + 0.5) / 1e6 > 3.841459 AS INTEGER)
    AS srm_flag
FROM daily
ORDER BY day
"""


# shared sequential-monitor algebra (identical text in F.expr and the
# oracle SQL). Cumulative sums stay exact BIGINTs; the one squaring
# that can exceed int64 (sx²) is lifted to double FIRST (cast(sx as
# double) * sx) — Spark ANSI would otherwise crash on overflow while
# DuckDB silently widens to HUGEINT, the worst kind of divergence.
# greatest(0.0, ·) absorbs tiny negative float cancellation on
# near-constant arms (the ADVICE sqrt-of-negative lesson).
_SEQ_VA = (
    "(greatest(0.0, sxx_{a} - cast(sx_{a} as double) * sx_{a}"
    " / NULLIF(n_{a}, 0.0)) / NULLIF(n_{a} - 1, 0))"
)
_SEQ_Z = (
    "((sx_b / NULLIF(n_b, 0.0) - sx_a / NULLIF(n_a, 0.0))"
    f" / NULLIF(sqrt({_SEQ_VA.format(a='a')} / NULLIF(n_a, 0.0)"
    f" + {_SEQ_VA.format(a='b')} / NULLIF(n_b, 0.0)), 0.0))"
)
_SEQ_BOUND = "1.96 * sqrt(cast(n_looks as double) / look)"


def ab_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring — the 'peeking' readout that
    completes the experimentation suite (design: `stat_ab_power_mde`;
    validity: `stat_ab_srm`; readouts: welch/CUPED/DiD/QTE/KM): one
    row per daily look with the cumulative-to-date Welch z of the
    between-arm spend difference, flagged against BOTH the naive
    fixed 1.96 threshold (which inflates false positives under
    repeated looks) and the O'Brien-Fleming-shaped group-sequential
    boundary 1.96·√(K/k) — extremely conservative early, converging
    to the fixed threshold at the final look (the boundary SHAPE is
    the standard OBF z_k ∝ √(K/k); the 1.96 scale constant is the
    terminal-look anchor, a config choice documented rather than an
    inverse-CDF computation — no libm quantiles).

    Determinism: per-day per-arm sufficient statistics are exact
    BIGINT cent sums (additive, order-independent); cumulative looks
    come from a calendar-bounded sequence-explode + re-aggregation
    (the `events_rolling_trend` pattern — never an unpartitioned
    running window); all float algebra is the shared expression text
    above, one floor-edge round at emit.

    Scale: corpus-width work is ONE map-side daily×arm rollup
    (calendar-bounded rows); the explode fans each daily row to at
    most n_looks targets — O(days²) ≪ data, constant per calendar.
    """
    ev = load_table(spark, "events", sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    xc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    is_a = F.col("user_id") % 2 == 0
    daily = (
        ev.select(F.to_date("ts").alias("day"), is_a.alias("arm_a"), xc.alias("xc"))
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("dn_a"),
            F.sum(F.when(F.col("arm_a"), F.col("xc")).otherwise(F.lit(0).cast("long")))
            .cast("bigint")
            .alias("dsx_a"),
            F.sum(
                F.when(F.col("arm_a"), F.col("xc") * F.col("xc")).otherwise(
                    F.lit(0).cast("long")
                )
            )
            .cast("bigint")
            .alias("dsxx_a"),
            F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("dn_b"),
            F.sum(F.when(~F.col("arm_a"), F.col("xc")).otherwise(F.lit(0).cast("long")))
            .cast("bigint")
            .alias("dsx_b"),
            F.sum(
                F.when(~F.col("arm_a"), F.col("xc") * F.col("xc")).otherwise(
                    F.lit(0).cast("long")
                )
            )
            .cast("bigint")
            .alias("dsxx_b"),
        )
        .persist()
    )
    scalars = daily.agg(
        F.min("day").alias("day0"),
        (F.datediff(F.max("day"), F.min("day")) + 1).cast("int").alias("n_looks"),
    )
    tagged = broadcast_scalars(daily, scalars).withColumn(
        "k", F.datediff(F.col("day"), F.col("day0")).cast("int")
    )
    cum = (
        tagged.withColumn(
            "t", F.explode(F.sequence(F.col("k"), F.col("n_looks") - 1))
        )
        .groupBy("t")
        .agg(
            *[
                F.sum(f"d{c}").cast("bigint").alias(c)
                for c in ("n_a", "sx_a", "sxx_a", "n_b", "sx_b", "sxx_b")
            ]
        )
    )
    looks = broadcast_scalars(cum, scalars).withColumn(
        "look", (F.col("t") + 1).cast("int")
    )
    return looks.select(
        F.date_format(F.expr("date_add(day0, t)"), "yyyy-MM-dd").alias("day"),
        "look",
        "n_a",
        "n_b",
        F.expr(f"floor(({_SEQ_Z}) * 1e6 + 0.5) / 1e6").alias("z"),
        F.expr(f"floor(({_SEQ_BOUND}) * 1e6 + 0.5) / 1e6").alias("obf_bound"),
        F.expr(f"cast(abs({_SEQ_Z}) > 1.96 as int)").alias("fixed_cross"),
        F.expr(f"cast(abs({_SEQ_Z}) > {_SEQ_BOUND} as int)").alias("obf_cross"),
    ).orderBy("look")


AB_SEQUENTIAL_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dn_a,
    CAST(SUM(CASE WHEN user_id % 2 = 0
      THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS dsx_a,
    CAST(SUM(CASE WHEN user_id % 2 = 0
      THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS dsxx_a,
    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS dn_b,
    CAST(SUM(CASE WHEN user_id % 2 <> 0
      THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS dsx_b,
    CAST(SUM(CASE WHEN user_id % 2 <> 0
      THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
      ELSE 0 END) AS BIGINT) AS dsxx_b
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1
),
scalars AS (
  SELECT MIN(day) AS day0,
    CAST(datediff('day', MIN(day), MAX(day)) + 1 AS INTEGER) AS n_looks
  FROM daily
),
tagged AS (
  SELECT d.*, s.day0, s.n_looks,
    CAST(datediff('day', s.day0, d.day) AS INTEGER) AS k
  FROM daily d CROSS JOIN scalars s
),
cum AS (
  SELECT t,
    CAST(SUM(dn_a) AS BIGINT) AS n_a, CAST(SUM(dsx_a) AS BIGINT) AS sx_a,
    CAST(SUM(dsxx_a) AS BIGINT) AS sxx_a,
    CAST(SUM(dn_b) AS BIGINT) AS n_b, CAST(SUM(dsx_b) AS BIGINT) AS sx_b,
    CAST(SUM(dsxx_b) AS BIGINT) AS sxx_b
  FROM tagged, unnest(generate_series(k, n_looks - 1)) AS u(t)
  GROUP BY t
),
looks AS (
  SELECT c.*, s.day0, s.n_looks, CAST(c.t + 1 AS INTEGER) AS look
  FROM cum c CROSS JOIN scalars s
)
SELECT
  strftime(day0 + CAST(t AS INTEGER), '%Y-%m-%d') AS day,
  look, n_a, n_b,
  floor(({_SEQ_Z}) * 1e6 + 0.5) / 1e6 AS z,
  floor(({_SEQ_BOUND}) * 1e6 + 0.5) / 1e6 AS obf_bound,
  cast(abs({_SEQ_Z}) > 1.96 as int) AS fixed_cross,
  cast(abs({_SEQ_Z}) > {_SEQ_BOUND} as int) AS obf_cross
FROM looks
ORDER BY look
"""
