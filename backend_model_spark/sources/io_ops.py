"""Source / sink / DDL operators (SURVEY.md §2.1, S1-S7).

The reference's ingest surface is: CSV scan with inferred schema
(`pipeline.py:8`, nb:67-68), table sink with append semantics
(`pipeline.py:11-14`), full-table scan via SQL (`db_queries.py:26-29`),
`CREATE TABLE IF NOT EXISTS` DDL (`db_queries.py:4-23`), a row-at-a-time
INSERT loop (`pipeline.py:48-74`), CSV sink (nb:11247), and the
orchestrated extract→load pipeline (`pipeline.py:77-88`).

Spark-first re-expression:
* CSV is read with an **explicit StructType** (inference is a dev
  convenience, never the contract) and written partitioned — the
  round-trip is verified end-to-end against the parquet oracle.
* The INSERT loop becomes a single distributed write: executors write
  in parallel, one commit protocol, no per-row round trips. Its
  SERIAL primary key becomes `row_number()` over a deterministic
  order (parity) — `monotonically_increasing_id()` is the cheaper
  choice when density doesn't matter.
* DDL goes through `spark.sql` so the catalog path
  (CREATE TABLE IF NOT EXISTS / INSERT OVERWRITE / SELECT) is
  exercised exactly as a SQL user would drive it.

Every query writes only under ``.scratch/`` at the repo root
(gitignored) and re-reads what it wrote, so the oracle comparison
verifies the *sink + scan*, not just the transform. A re-read passes
the schema of the frame it just wrote (``spark.read.schema(...)``):
the file's schema is known, so the scan skips the footer-inference
job that a bare ``spark.read.parquet(path)`` runs while the query is
being built. Partition columns keep the type inference would give
them (``year()`` is an int either way).

Scale notes: a CSV round-trip at 100 TB is executor-parallel on both
sides (one task per ~128 MB split; CSV is splittable when
uncompressed). The append sink demonstrates Spark's atomic job-commit
(no half-written batches visible), and the ETL lineage is one lazy
plan — scan → transform → write — with no driver materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_model_spark.operators.scale_utils import with_global_rank
from backend_model_spark.sources.tables import TABLE_SCHEMAS, load_table

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def _scratch(*parts: str) -> str:
    path = os.path.join(SCRATCH, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + S6: customer → CSV sink → CSV scan (explicit schema) →
    grouped aggregate. Doubles survive the text round-trip exactly
    (Spark writes shortest-round-trip representations)."""
    path = _scratch("csv_roundtrip", "customer_csv")
    load_table(spark, "customer", sf_dir).write.mode("overwrite").csv(
        path, header=True
    )
    back = spark.read.csv(path, header=True, schema=TABLE_SCHEMAS["customer"])
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("c_mktsegment")
    )


CSV_ROUNDTRIP_ORACLE = """
SELECT
  c_mktsegment,
  COUNT(*)                     AS n_customers,
  ROUND(SUM(c_acctbal), 2)     AS sum_bal,
  MIN(c_custkey)               AS min_key,
  MAX(c_custkey)               AS max_key
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 + S5: batched append-mode sink. Two write jobs append into
    the same parquet table (mode='append' after an initial
    overwrite); the re-scan must see exactly both batches — the
    distributed replacement for the reference's row-at-a-time INSERT
    loop (one atomic commit per batch, executor-parallel)."""
    path = _scratch("append_sink", "nation_parquet")
    nation = load_table(spark, "nation", sf_dir)
    batch1 = nation.filter(F.col("n_nationkey") % 2 == 0)
    batch2 = nation.filter(F.col("n_nationkey") % 2 == 1)
    batch1.write.mode("overwrite").parquet(path)
    batch2.write.mode("append").parquet(path)
    back = spark.read.schema(nation.schema).parquet(path)
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.countDistinct("n_nationkey").alias("n_distinct"),
        )
        .orderBy("n_regionkey")
    )


APPEND_SINK_ORACLE = """
SELECT
  n_regionkey,
  COUNT(*)                    AS n_nations,
  COUNT(DISTINCT n_nationkey) AS n_distinct
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


def ddl_create_insert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 + S4: `CREATE TABLE IF NOT EXISTS` with a typed schema and a
    SERIAL-style index, `INSERT OVERWRITE ... SELECT`, then a
    full-table scan via `spark.sql` — the reference's db_queries.py
    lifecycle on the Spark catalog. The SERIAL is the global rank
    (:func:`with_global_rank`) exposed as a temp view, not
    `ROW_NUMBER() OVER (ORDER BY ...)` SQL, which would plan an
    unpartitioned WindowExec — the one place a SERIAL emulation
    diverges from naive SQL at scale."""
    location = _scratch("ddl", "region_summary")
    spark.sql("DROP TABLE IF EXISTS region_summary")
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS region_summary (
          idx BIGINT,
          r_name STRING,
          n_nations BIGINT
        ) USING PARQUET LOCATION '{location}'
        """
    )
    region = load_table(spark, "region", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    summary = (
        region.join(
            nation, nation.n_regionkey == region.r_regionkey, "left"
        )
        .groupBy("r_name")
        .agg(F.count("n_nationkey").alias("n_nations"))
    )
    # one row per region: bounded by construction, single-partition rank
    ranked = with_global_rank(
        summary, [F.col("r_name").asc()], "idx", parts=1
    ).select("idx", "r_name", "n_nations")
    ranked.createOrReplaceTempView("_io_region_summary_src")
    spark.sql(
        """
        INSERT OVERWRITE region_summary
        SELECT idx, r_name, n_nations FROM _io_region_summary_src
        """
    )
    return spark.sql("SELECT idx, r_name, n_nations FROM region_summary ORDER BY idx")


DDL_ORACLE = """
SELECT
  ROW_NUMBER() OVER (ORDER BY r.r_name) AS idx,
  r.r_name,
  COUNT(n.n_nationkey) AS n_nations
FROM region r
LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY idx
"""


def etl_orchestration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the reference's execute_transfer() reshaped as ONE lazy
    lineage — scan → filter → project/derive → parquet sink →
    re-scan → aggregate. No driver-side fetchall, no per-row writes;
    the extract and load are the same distributed plan."""
    path = _scratch("etl", "orders_enriched")
    orders = load_table(spark, "orders", sf_dir)
    enriched = (
        orders.filter(F.col("o_orderstatus") != "F")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.year(F.col("o_orderdate").cast("date")).alias("order_year"),
            F.when(F.col("o_totalprice") >= 100000, "high")
            .otherwise("low")
            .alias("value_band"),
        )
    )
    enriched.write.mode("overwrite").partitionBy("order_year").parquet(path)
    back = spark.read.schema(enriched.schema).parquet(path)
    return (
        back.groupBy("order_year", "value_band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
        .orderBy("order_year", "value_band")
    )


ETL_ORACLE = """
SELECT
  CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
  CASE WHEN o_totalprice >= 100000 THEN 'high' ELSE 'low' END AS value_band,
  COUNT(*) AS n_orders,
  ROUND(AVG(o_totalprice), 6) AS avg_price
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY 1, 2
ORDER BY order_year, value_band
"""


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics on plain parquet: full-outer join of
    target and updates, coalescing update-side values — the engine-
    level formulation that table formats (Delta/Iceberg) optimize
    with file-level pruning, expressed here as the portable plan.

    Updates: every 10th order gets +1000 on totalprice plus one brand
    new synthetic order per status. The check aggregates the merged
    result, which the oracle reproduces relationally.

    Scale: both sides shuffle once on the merge key; with a sorted/
    bucketed target the shuffle drops out (see tests/test_bucketing).
    """
    orders = load_table(spark, "orders", sf_dir)
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000.0).alias("u_totalprice"),
        )
    )
    new_rows = (
        orders.groupBy("o_orderstatus")
        .agg(F.max("o_orderkey").alias("base"))
        .select(
            (F.col("base") + 1_000_000).alias("o_orderkey"),
            F.col("o_orderstatus"),
            F.lit(999.99).alias("o_totalprice"),
        )
    )
    merged = (
        orders.join(updates, "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce("u_totalprice", "o_totalprice").alias("o_totalprice"),
        )
        .unionByName(new_rows)
    )
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


SCD2_EFF_DATE = "1998-06-01"


def scd2_dimension_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension merge on the customer dim —
    the versioned-history sibling of :func:`upsert_merge` (SCD1
    overwrite). An update batch (every 7th customer's balance moves
    +500, effective ``SCD2_EFF_DATE``) closes the matched current
    version (``valid_to`` = effective date) and appends a new current
    version; unmatched rows pass through untouched. Reported per
    nation: version counts, current/closed split, current balance.

    Scale: one shuffle on the dimension key (the update batch is
    corpus-proportional, so no broadcast); the three branches are
    projections of the SAME join output — Spark plans one join, and a
    bucketed target drops the shuffle entirely (test_bucketing
    pattern). Table formats (Delta/Iceberg MERGE) add file pruning on
    top of this exact plan.
    """
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 500.0).alias("new_bal")
    )
    j = cust.join(updates, "c_custkey", "left")
    eff = F.lit(SCD2_EFF_DATE).cast("date")
    matched = j.filter(F.col("new_bal").isNotNull())
    unchanged = j.filter(F.col("new_bal").isNull()).select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").alias("bal"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = matched.select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").alias("bal"),
        eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    current = matched.select(
        "c_custkey",
        "c_nationkey",
        F.col("new_bal").alias("bal"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    scd = unchanged.unionByName(closed).unionByName(current)
    cents = F.floor(F.col("bal") * 100 + 0.5).cast("bigint")
    return (
        scd.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.sum(F.col("is_current").cast("long")).alias("n_current"),
            F.sum((~F.col("is_current")).cast("long")).alias("n_closed"),
            F.sum(F.when(F.col("is_current"), cents)).alias(
                "current_cents"
            ),
        )
        .orderBy("c_nationkey")
    )


SCD2_ORACLE = f"""
WITH updates AS (
  SELECT c_custkey, c_acctbal + 500.0 AS new_bal
  FROM customer WHERE c_custkey % 7 = 0
),
j AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, u.new_bal
  FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
),
scd AS (
  SELECT c_custkey, c_nationkey, c_acctbal AS bal,
         CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
  FROM j WHERE new_bal IS NULL
  UNION ALL
  SELECT c_custkey, c_nationkey, c_acctbal AS bal,
         DATE '{SCD2_EFF_DATE}' AS valid_to, FALSE AS is_current
  FROM j WHERE new_bal IS NOT NULL
  UNION ALL
  SELECT c_custkey, c_nationkey, new_bal AS bal,
         CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
  FROM j WHERE new_bal IS NOT NULL
)
SELECT
  c_nationkey,
  COUNT(*) AS n_versions,
  CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
  CAST(SUM(CASE WHEN is_current THEN 0 ELSE 1 END) AS BIGINT) AS n_closed,
  CAST(SUM(CASE WHEN is_current
       THEN CAST(FLOOR(bal * 100 + 0.5) AS BIGINT) END) AS BIGINT)
    AS current_cents
FROM scd
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


UPSERT_ORACLE = """
WITH updates AS (
  SELECT o_orderkey, o_totalprice + 1000.0 AS u_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
),
new_rows AS (
  SELECT MAX(o_orderkey) + 1000000 AS o_orderkey, o_orderstatus,
         999.99 AS o_totalprice
  FROM orders GROUP BY o_orderstatus
),
merged AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         COALESCE(u.u_totalprice, o.o_totalprice) AS o_totalprice
  FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
  UNION ALL
  SELECT * FROM new_rows
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan: documents → JSONL → explicit-schema
    read → per-(lang, source) aggregate. Extends the reference's
    CSV-only ingest surface (SURVEY §2.1 S1/S6) with the
    semi-structured format every log/corpus pipeline actually ships.

    Scale: JSONL is splittable — both the write and the re-read are
    executor-parallel, one task per ~128 MB split. Schema is declared
    on read (inference would scan twice and guess types at 100 TB).
    """
    path = _scratch("json_roundtrip", "documents_json")
    load_table(spark, "documents", sf_dir).write.mode("overwrite").json(path)
    back = spark.read.json(path, schema=TABLE_SCHEMAS["documents"])
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang", "source")
    )


JSON_ROUNDTRIP_ORACLE = """
SELECT
  lang,
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  MIN(doc_id) AS min_doc,
  MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan: lineitem (1996+) → ORC → read-back →
    returnflag/linestatus revenue summary under the exact-cents
    discipline. The oracle reads the *original* parquet — the match
    proves the columnar round-trip is lossless for int64, double,
    string, and timestamp columns.

    Scale: ORC brings the same columnar pruning/statistics story as
    parquet (predicate pushdown, stripe-level min/max); keeping both
    paths exercised means the engine is storage-format-portable.
    """
    path = _scratch("orc_roundtrip", "lineitem_orc")
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.schema(li.schema).orc(path)
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(cents) / 100.0).alias("revenue"),
            F.min(F.col("l_shipdate").cast("date").cast("string")).alias(
                "first_ship"
            ),
            F.max(F.col("l_shipdate").cast("date").cast("string")).alias(
                "last_ship"
            ),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORC_ROUNDTRIP_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  COUNT(*) AS n_items,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
       AS DOUBLE) / 100.0 AS revenue,
  CAST(MIN(CAST(l_shipdate AS DATE)) AS STRING) AS first_ship,
  CAST(MAX(CAST(l_shipdate AS DATE)) AS STRING) AS last_ship
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JDBC sink + scan through embedded Derby (bundled with
    Spark) — the reference's database transfer (`pipeline.py:77-88`)
    done right: the row-at-a-time INSERT loop (`pipeline.py:48-74`)
    becomes one batched `df.write.jdbc` (executor-parallel, one
    commit), and the `SELECT *` + fetchall extract
    (`db_queries.py:26-29`, `pipeline.py:31-37`) becomes
    `spark.read.jdbc` feeding a distributed aggregate — no driver
    materialization.

    Derby is in-process (jdbc:derby:directory) so the demo is
    hermetic; against Postgres only the URL/driver change, plus
    `numPartitions`/`partitionColumn` on the read and `batchsize` on
    the write for parallel connections per executor.
    """
    import shutil as _shutil

    db_dir = _scratch("jdbc_roundtrip", "derby_db")
    _shutil.rmtree(db_dir, ignore_errors=True)
    url = f"jdbc:derby:directory:{db_dir};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    supplier = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    supplier.write.jdbc(url, "supplier_t", mode="overwrite", properties=props)

    # partitioned parallel extract: one JDBC connection per partition,
    # each with a WHERE range on the split column — the distributed
    # replacement for the reference's single-cursor fetchall
    bounds = supplier.agg(
        F.min("s_suppkey").alias("lo"), F.max("s_suppkey").alias("hi")
    ).first()
    back = spark.read.jdbc(
        url,
        "supplier_t",
        column="s_suppkey",
        lowerBound=int(bounds["lo"]),
        upperBound=int(bounds["hi"]) + 1,
        numPartitions=4,
        properties=props,
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(
                F.floor(F.col("s_acctbal") * 100 + 0.5).cast("bigint")
            ).alias("sum_acctbal_cents"),
            F.min("s_name").alias("first_name"),
        )
        .orderBy("s_nationkey")
    )


JDBC_ROUNDTRIP_ORACLE = """
SELECT
  s_nationkey,
  COUNT(*) AS n_suppliers,
  CAST(SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_acctbal_cents,
  MIN(s_name) AS first_name
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance (the CDC/ETL
    pattern): the daily per-type rollup is advanced by aggregating
    ONLY the newest day and merging it with the prior state
    (union → re-aggregate), never rescanning history.

    Valid because count/sum are distributive — the merged state is
    bit-identical to a full recompute, which is exactly what the
    oracle asserts (it computes the full rollup directly). avg /
    distinct would need sufficient statistics (sum+count, sketches).

    Scale: the "history" branch is the previously-materialized
    aggregate (small); only the new day's partition is scanned —
    with a date-partitioned layout the filter prunes at the source
    (the partition-pruning plan test pins that behavior). Integer
    cents keep the merge order-insensitive.
    """
    from backend_model_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir).select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    last_day = ev.agg(F.max("day")).collect()[0][0]  # one scalar: the cutoff

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )

    history = rollup(ev.filter(F.col("day") < F.lit(last_day)))
    new_day = rollup(ev.filter(F.col("day") == F.lit(last_day)))
    merged = (
        history.unionByName(new_day)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )
    return merged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "sum_cents",
    ).orderBy("day", "event_type")


INCREMENTAL_ROLLUP_ORACLE = """
SELECT
  strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


CORRUPT_EVERY = 7  # every 7th line of the JSONL scratch file is malformed


def permissive_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record policy (schema-on-read resilience): a JSONL
    extract where every ``CORRUPT_EVERY``-th line is malformed
    (truncated mid-object) is read back in PERMISSIVE mode with an
    explicit schema + ``_corrupt_record`` capture column, and the scan
    reports clean/corrupt counts per language.

    This is the ingestion behavior a 100 TB raw-crawl pipeline lives
    on: bad records must neither kill the job (FAILFAST) nor silently
    vanish (DROPMALFORMED default accounting) — they land in a
    quarantine column with full lineage. The oracle can't parse the
    broken file, so it derives the same counts arithmetically from the
    source table and the deterministic corruption rule — verifying the
    whole write→corrupt→permissive-scan path end-to-end.

    Scale: the corrupted extract is written and re-read
    executor-parallel (JSONL is splittable); the malformed-line parse
    failure is per-row, so one bad record never poisons its split.
    """
    from pyspark.sql import types as T

    path = _scratch("permissive_json", "docs_jsonl")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    # build the dirty file: a valid JSON line normally, a truncated
    # prefix (no closing brace) when doc_id % CORRUPT_EVERY == 0
    line = F.to_json(F.struct("doc_id", "lang"))
    dirty = docs.select(
        F.when(
            F.col("doc_id") % CORRUPT_EVERY == 0,
            F.substring(line, 1, 9),  # '{"doc_id' … cut mid-token
        )
        .otherwise(line)
        .alias("value")
    )
    dirty.write.mode("overwrite").text(path)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    scanned = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return (
        scanned.select(
            F.coalesce(F.col("lang"), F.lit("__corrupt__")).alias("lang_bucket"),
            F.col("_corrupt_record").isNotNull().cast("long").alias("is_corrupt"),
        )
        .groupBy("lang_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("is_corrupt").alias("n_corrupt"),
        )
        .orderBy("lang_bucket")
    )


# the oracle derives the expected counts from the SOURCE table and the
# deterministic corruption rule (it cannot parse the broken file —
# that's the point): corrupt lines lose their lang and land in the
# __corrupt__ bucket; clean lines keep theirs.
PERMISSIVE_JSON_ORACLE = f"""
SELECT
  CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN '__corrupt__' ELSE lang END
    AS lang_bucket,
  COUNT(*) AS n_lines,
  CAST(SUM(CASE WHEN doc_id % {CORRUPT_EVERY} = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_corrupt
FROM documents
GROUP BY 1
ORDER BY lang_bucket
"""


BUCKETED_JOIN_BUCKETS = 8


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-exchange fact⨝fact pattern as a first-class query:
    write orders and customer bucketed+sorted by the join key, then
    join the bucketed tables — Spark plans a SortMergeJoin with NO
    Exchange on either side (pinned by tests/test_bucketing.py). At
    100 TB bucketing at write time amortizes the join shuffle across
    every downstream run; this query IS that write-then-join
    lifecycle, reported as a segment rollup the oracle reproduces
    from the raw tables.

    Exact-cents sum so bucket-parallel aggregation order is
    irrelevant to the hash.
    """
    # drop catalog entries AND their on-disk locations: the warehouse
    # dir outlives the in-memory catalog across sessions, and a
    # managed-table CREATE refuses an existing location
    import shutil

    for tbl, src, bucket_col in (
        ("io_orders_bkt", "orders", "o_custkey"),
        ("io_customer_bkt", "customer", "c_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        location = _scratch("bucketed", tbl)
        shutil.rmtree(location, ignore_errors=True)
        load_table(spark, src, sf_dir).write.bucketBy(
            BUCKETED_JOIN_BUCKETS, bucket_col
        ).sortBy(bucket_col).option("path", location).mode(
            "overwrite"
        ).saveAsTable(tbl)
    o = spark.table("io_orders_bkt")
    c = spark.table("io_customer_bkt")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("sum_cents"),
        )
        .orderBy("c_mktsegment")
    )


BUCKETED_JOIN_ORACLE = """
SELECT
  c_mktsegment,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# Z-order layout probe: 8-bit grid per dimension (256 cells), 16-bit
# interleaved curve, top 6 bits = 64 logical files.
_Z_BITS = 8
_Z_FILES_SHIFT = 1 << 10  # z >> 10 == floor(z / 1024): top 6 of 16 bits
_D_FILES_SHIFT = 1 << 2   # date_cell >> 2: top 6 of 8 bits


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering (Z-order) as a data-skipping
    layout, quantified: map each order onto a 256×256 grid over
    ``(o_custkey, o_orderdate)``, interleave the cell bits into a
    16-bit Morton code, and bin rows into 64 logical files by the
    code's top bits — versus the naive date-sorted layout (top bits of
    the date cell alone). For each layout, report the average per-file
    key span in ppm of the global range, per dimension: a file's
    parquet min/max index can skip a predicate only when its span is
    narrow, so these two numbers ARE the expected scan fractions for
    single-dimension predicates under each layout.

    This is the ``OPTIMIZE ZORDER BY``-style layout decision made
    measurable: date-sorting gives perfect date spans but every file
    covers the whole custkey range (custkey predicates scan 100%);
    the Morton curve bounds BOTH spans near 1/√files. At 100 TB the
    same code becomes ``repartitionByRange(F.col("z"))`` before the
    write so file min/max statistics prune two-dimensionally; this
    operator is the measurement that justifies it.

    Scale: two scans of orders (one for the 4 global extrema —
    broadcast back as scalars — one gridded pass), one groupBy per
    layout on a 6-bit key. Bit interleaving is pure bigint arithmetic
    (exact on both engines); per-file spans are integer-ppm before
    averaging so the oracle hash is stable.
    """
    from functools import reduce as _reduce
    from operator import add as _add

    from backend_model_spark.operators.scale_utils import broadcast_scalars

    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("d"),
    )
    rng = orders.agg(
        F.min("o_custkey").alias("ck_min"),
        F.max("o_custkey").alias("ck_max"),
        F.min("d").alias("d_min"),
        F.max("d").alias("d_max"),
    )
    g = broadcast_scalars(orders, rng)
    n_cells = 1 << _Z_BITS

    def cell(x: str, lo: str, hi: str):
        return F.floor(
            (F.col(x) - F.col(lo))
            * F.lit(n_cells)
            / (F.col(hi) - F.col(lo) + 1)
        ).cast("bigint")

    g = g.withColumn("ck_cell", cell("o_custkey", "ck_min", "ck_max"))
    g = g.withColumn("d_cell", cell("d", "d_min", "d_max"))
    z = _reduce(
        _add,
        [
            (F.floor(F.col("ck_cell") / (1 << i)) % 2) * (1 << (2 * i + 1))
            + (F.floor(F.col("d_cell") / (1 << i)) % 2) * (1 << (2 * i))
            for i in range(_Z_BITS)
        ],
    )
    g = g.withColumn("z", z.cast("bigint")).persist()

    def layout_summary(bucket_col, label: str) -> DataFrame:
        per_file = g.groupBy(bucket_col.alias("bucket")).agg(
            F.min("o_custkey").alias("ck_lo"),
            F.max("o_custkey").alias("ck_hi"),
            F.min("d").alias("d_lo"),
            F.max("d").alias("d_hi"),
            F.first("ck_min").alias("ck_min"),
            F.first("ck_max").alias("ck_max"),
            F.first("d_min").alias("d_min"),
            F.first("d_max").alias("d_max"),
        )
        span = lambda lo, hi, gmin, gmax: F.floor(  # noqa: E731
            (F.col(hi) - F.col(lo) + 1)
            * 1_000_000
            / (F.col(gmax) - F.col(gmin) + 1)
        ).cast("bigint")
        spans = per_file.select(
            span("ck_lo", "ck_hi", "ck_min", "ck_max").alias("ck_ppm"),
            span("d_lo", "d_hi", "d_min", "d_max").alias("d_ppm"),
        )
        return spans.agg(
            F.lit(label).alias("layout"),
            F.count(F.lit(1)).alias("n_files"),
            F.floor(F.sum("ck_ppm") / F.count(F.lit(1)) + 0.5)
            .cast("bigint")
            .alias("avg_cust_span_ppm"),
            F.floor(F.sum("d_ppm") / F.count(F.lit(1)) + 0.5)
            .cast("bigint")
            .alias("avg_date_span_ppm"),
        )

    out = layout_summary(
        F.floor(F.col("z") / _Z_FILES_SHIFT), "zorder"
    ).unionByName(
        layout_summary(F.floor(F.col("d_cell") / _D_FILES_SHIFT), "datesort")
    )
    return out.orderBy("layout")


def _zorder_bit_sum_sql() -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(
            f"(FLOOR(ck_cell / {1 << i}) % 2) * {1 << (2 * i + 1)}"
            f" + (FLOOR(d_cell / {1 << i}) % 2) * {1 << (2 * i)}"
        )
    return " + ".join(terms)


ZORDER_LAYOUT_ORACLE = f"""
WITH o AS (
  SELECT o_custkey,
         datediff('day', DATE '1970-01-01', o_orderdate) AS d
  FROM orders
),
rng AS (
  SELECT min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
         min(d) AS d_min, max(d) AS d_max
  FROM o
),
gridded AS (
  SELECT
    o_custkey, d, ck_min, ck_max, d_min, d_max,
    CAST(FLOOR((o_custkey - ck_min) * {1 << _Z_BITS}
               / (ck_max - ck_min + 1)) AS BIGINT) AS ck_cell,
    CAST(FLOOR((d - d_min) * {1 << _Z_BITS}
               / (d_max - d_min + 1)) AS BIGINT) AS d_cell
  FROM o, rng
),
zed AS (
  SELECT *, CAST({_zorder_bit_sum_sql()} AS BIGINT) AS z FROM gridded
),
files AS (
  SELECT 'zorder' AS layout, CAST(FLOOR(z / {_Z_FILES_SHIFT}) AS BIGINT)
           AS bucket, *
  FROM zed
  UNION ALL
  SELECT 'datesort' AS layout,
         CAST(FLOOR(d_cell / {_D_FILES_SHIFT}) AS BIGINT) AS bucket, *
  FROM zed
),
per_file AS (
  SELECT
    layout, bucket,
    CAST(FLOOR((max(o_custkey) - min(o_custkey) + 1) * 1000000
               / (any_value(ck_max) - any_value(ck_min) + 1)) AS BIGINT)
      AS ck_ppm,
    CAST(FLOOR((max(d) - min(d) + 1) * 1000000
               / (any_value(d_max) - any_value(d_min) + 1)) AS BIGINT)
      AS d_ppm
  FROM files
  GROUP BY layout, bucket
)
SELECT
  layout,
  COUNT(*) AS n_files,
  CAST(FLOOR(SUM(ck_ppm) / COUNT(*) + 0.5) AS BIGINT)
    AS avg_cust_span_ppm,
  CAST(FLOOR(SUM(d_ppm) / COUNT(*) + 0.5) AS BIGINT)
    AS avg_date_span_ppm
FROM per_file
GROUP BY layout
ORDER BY layout
"""


def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingestion: an early parquet batch (orders before
    1995: 3 columns) and a later batch that gained a column
    (``o_orderpriority``) land in the same dataset directory; the
    read uses ``mergeSchema`` so the unified scan surfaces the new
    column with nulls for pre-drift rows. Reported per order-year:
    row counts, how many rows carry the new column, and its distinct
    cardinality — the audit a pipeline runs after a producer ships a
    schema change.

    Scale: ``mergeSchema`` reconciles footers at planning time (at
    100 TB: enable only on datasets that actually drift, or pin the
    evolved schema explicitly — footer merging reads every file's
    metadata); the scan itself stays one pass, and missing columns
    materialize as constant-null vectors, not data rewrites. This is
    the parquet-native form of additive schema evolution: old files
    are never rewritten.
    """
    path = _scratch("schema_evolution", "orders_drift")
    orders = load_table(spark, "orders", sf_dir)
    early = orders.filter(F.col("o_orderdate") < "1995-01-01").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    late = orders.filter(F.col("o_orderdate") >= "1995-01-01").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    early.write.mode("overwrite").parquet(os.path.join(path, "batch=early"))
    late.write.mode("overwrite").parquet(os.path.join(path, "batch=late"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=early"), os.path.join(path, "batch=late")
    )
    return (
        merged.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderpriority").alias("n_with_priority"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
        .orderBy("order_year")
    )


SCHEMA_EVOLUTION_ORACLE = """
SELECT
  CAST(year(o_orderdate) AS INTEGER) AS order_year,
  COUNT(*) AS n_rows,
  COUNT(CASE WHEN o_orderdate >= DATE '1995-01-01'
             THEN o_orderpriority END) AS n_with_priority,
  CAST(COUNT(DISTINCT CASE WHEN o_orderdate >= DATE '1995-01-01'
                           THEN o_orderpriority END) AS BIGINT)
    AS n_priorities
FROM orders
GROUP BY 1
ORDER BY order_year
"""


# deliberately fragmented write width, and the compaction row target
_FRAG_FILES = 64
_COMPACT_ROWS_PER_FILE = 50_000


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem, full lifecycle: write orders
    deliberately fragmented (``repartition(64)`` → 64 parquet files),
    then compact by rewriting at ``ceil(rows / 50k)`` files — the
    table-maintenance pass every long-lived lake table needs (the
    OPTIMIZE/compaction half of the Z-order story at
    :func:`zorder_layout`). Reports per phase: actual on-disk file
    count (listed from the filesystem, not assumed), row count, and
    mean rows per file.

    Why it matters at 100 TB: a streaming or frequently-appending
    producer accretes millions of small files; every downstream scan
    then pays per-file open/footer costs and the driver pays listing
    memory. Compaction is a full-shuffle rewrite, so it runs
    incrementally per partition in production — this operator shows
    the primitive. The row-count target (not bytes) keeps the result
    engine-checkable: DuckDB can predict ``ceil(n/50k)`` but not
    parquet's compressed byte size.

    Scale: one round-robin shuffle to fragment, one to compact;
    ``repartition(n)`` pins exactly n output files (AQE does not
    override an explicit partition count).
    """
    import math

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    frag_path = _scratch("compaction", "orders_fragmented")
    orders.repartition(_FRAG_FILES).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.schema(orders.schema).parquet(frag_path)
    n_rows = frag.count()
    target = max(1, math.ceil(n_rows / _COMPACT_ROWS_PER_FILE))
    comp_path = _scratch("compaction", "orders_compacted")
    frag.repartition(target).write.mode("overwrite").parquet(comp_path)

    def _n_files(p: str) -> int:
        return len(
            [f for f in os.listdir(p) if f.startswith("part-")]
        )

    rows = [
        ("fragmented", _n_files(frag_path), n_rows),
        ("compacted", _n_files(comp_path), n_rows),
    ]
    out = spark.createDataFrame(
        rows, "phase string, n_files bigint, n_rows bigint"
    )
    return out.select(
        "phase",
        "n_files",
        "n_rows",
        F.floor(F.col("n_rows") / F.col("n_files")).cast("bigint").alias(
            "rows_per_file"
        ),
    ).orderBy("phase")


COMPACT_SMALL_FILES_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
SELECT 'compacted' AS phase,
       CAST(GREATEST(1, CEIL(n_rows / {float(_COMPACT_ROWS_PER_FILE)}))
         AS BIGINT) AS n_files,
       n_rows,
       CAST(FLOOR(n_rows / GREATEST(1, CEIL(n_rows
         / {float(_COMPACT_ROWS_PER_FILE)}))) AS BIGINT) AS rows_per_file
FROM n
UNION ALL
SELECT 'fragmented',
       {_FRAG_FILES},
       n_rows,
       CAST(FLOOR(n_rows / {_FRAG_FILES}.0) AS BIGINT)
FROM n
ORDER BY phase
"""


# synthetic python-datasource geometry
_PYDS_PARTITIONS = 8
_PYDS_TICKS = 1_000
_PYDS_MIX = 2_654_435_761
_PYDS_P = 1_000_003


def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via the Spark 4 **Python DataSource API**
    (``pyspark.sql.datasource``): a deterministic synthetic "sensor"
    source with 8 input partitions × 1,000 ticks, registered with
    ``spark.dataSource.register`` and read through the normal
    ``spark.read.format(...)`` path — the extension point a 100 TB
    deployment uses for feeds with no built-in connector (internal
    APIs, message logs, bespoke formats). Per-sensor rollup of the
    arithmetic tick weights; sums stay in bigint so the oracle (which
    regenerates the same sequence with ``generate_series``) is exact.

    Scale: ``partitions()`` defines the parallelism contract — one
    ``read()`` generator per input partition, executor-side, no
    driver materialization; the aggregate is a standard map-side
    combinable groupBy on the 8 sensor keys. (``sf_dir`` is unused —
    the source IS the data — but the signature stays uniform.)
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SensorSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthetic_sensor"

        def schema(self) -> str:
            return "sensor_id int, tick int, w int"

        def reader(self, schema):
            return SensorReader()

    class SensorReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(_PYDS_PARTITIONS)]

        def read(self, partition):
            sensor = partition.value
            for tick in range(_PYDS_TICKS):
                k = sensor * _PYDS_TICKS + tick
                yield (sensor, tick, (k * _PYDS_MIX) % _PYDS_P)

    spark.dataSource.register(SensorSource)
    df = spark.read.format("synthetic_sensor").load()
    return (
        df.groupBy("sensor_id")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("w").alias("w_sum"),
            F.min("w").alias("w_min"),
            F.max("w").alias("w_max"),
        )
        .orderBy("sensor_id")
    )


PYTHON_DATASOURCE_ORACLE = f"""
WITH ticks AS (
  SELECT s.sensor_id, t.tick,
         CAST((s.sensor_id * {_PYDS_TICKS} + t.tick) * {_PYDS_MIX}
              % {_PYDS_P} AS INTEGER) AS w
  FROM (SELECT unnest(generate_series(0, {_PYDS_PARTITIONS - 1}))
          AS sensor_id) s,
       (SELECT unnest(generate_series(0, {_PYDS_TICKS - 1})) AS tick) t
)
SELECT
  CAST(sensor_id AS INTEGER) AS sensor_id,
  COUNT(*) AS n_ticks,
  CAST(SUM(w) AS BIGINT) AS w_sum,
  MIN(w) AS w_min,
  MAX(w) AS w_max
FROM ticks
GROUP BY sensor_id
ORDER BY sensor_id
"""


def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite lifecycle (the restatement path of
    a partitioned lake table): seed orders partitioned by year, then
    overwrite ONLY the partitions present in a restatement batch
    (1995 repriced +10%) with
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` — untouched
    year directories must survive byte-for-byte, which static
    overwrite mode would delete. Integer-cent arithmetic end to end.

    Scale: the restatement write shuffles only the restated year's
    rows; the final report is a partition-pruned scan + map-side
    rollup. This is the engine-level primitive Delta/Iceberg
    `replaceWhere`/`overwritePartitions` compile to.
    """
    path = _scratch("dyn_overwrite", "orders_by_year")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.year("o_orderdate").alias("order_year"),
    )
    orders.write.mode("overwrite").partitionBy("order_year").parquet(path)
    restated = orders.filter(F.col("order_year") == 1995).withColumn(
        "cents", F.expr("cents * 11 div 10")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        restated.write.mode("overwrite").partitionBy("order_year").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        spark.read.schema(orders.schema)
        .parquet(path)
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "n_orders",
            F.col("sum_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("order_year")
    )


DYNAMIC_OVERWRITE_ORACLE = """
WITH base AS (
  SELECT
    CAST(year(o_orderdate) AS INTEGER) AS order_year,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
merged AS (
  SELECT order_year,
    CASE WHEN order_year = 1995
         THEN CAST(cents * 11 // 10 AS BIGINT) ELSE cents END AS cents
  FROM base
)
SELECT order_year,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM merged
GROUP BY order_year
ORDER BY order_year
"""


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against a Type-2 dimension: each
    order joins the customer-dimension VERSION that was valid on its
    order date (every 7th customer re-versions at ``SCD2_EFF_DATE``:
    balance +500 from that day). The fact-side companion of
    :func:`scd2_dimension_merge` — together they are the full SCD2
    lifecycle (build the history, query as-of the fact timestamp).

    Scale: an equi-join on the dimension KEY plus a validity-window
    filter — never a range θ-join: versions per key are bounded (2
    here, a handful in any real dimension), so the per-key fan-out is
    constant and the join shuffles each side once on c_custkey.
    Reported per order-year: orders matched to the original vs the
    restated version and their balance-cents sum.
    """
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_acctbal"
    )
    eff = F.lit(SCD2_EFF_DATE).cast("date")
    far_future = F.lit("9999-12-31").cast("date")
    epoch = F.lit("1970-01-01").cast("date")
    versioned = cust.filter(F.col("c_custkey") % 7 == 0)
    v1 = versioned.select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        epoch.alias("valid_from"),
        eff.alias("valid_to"),
        F.lit(1).alias("version"),
    )
    v2 = versioned.select(
        "c_custkey",
        (F.col("c_acctbal") + 500.0).alias("bal"),
        eff.alias("valid_from"),
        far_future.alias("valid_to"),
        F.lit(2).alias("version"),
    )
    stable = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        F.col("c_acctbal").alias("bal"),
        epoch.alias("valid_from"),
        far_future.alias("valid_to"),
        F.lit(1).alias("version"),
    )
    dim = v1.unionByName(v2).unionByName(stable)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    pit = orders.join(dim, "c_custkey").filter(
        (F.col("od") >= F.col("valid_from")) & (F.col("od") < F.col("valid_to"))
    )
    cents = F.floor(F.col("bal") * 100 + 0.5).cast("long")
    return (
        pit.groupBy(F.year("od").alias("order_year"), "version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("bal_cents"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            F.col("version").cast("int").alias("version"),
            "n_orders",
            F.col("bal_cents").cast("long").alias("bal_cents"),
        )
        .orderBy("order_year", "version")
    )


SCD2_PIT_ORACLE = """
WITH versioned AS (SELECT * FROM customer WHERE c_custkey % 7 = 0),
dim AS (
  SELECT c_custkey, c_acctbal AS bal,
    DATE '1970-01-01' AS valid_from, DATE '{eff}' AS valid_to, 1 AS version
  FROM versioned
  UNION ALL
  SELECT c_custkey, c_acctbal + 500.0 AS bal,
    DATE '{eff}' AS valid_from, DATE '9999-12-31' AS valid_to, 2 AS version
  FROM versioned
  UNION ALL
  SELECT c_custkey, c_acctbal AS bal,
    DATE '1970-01-01' AS valid_from, DATE '9999-12-31' AS valid_to, 1 AS version
  FROM customer WHERE c_custkey % 7 <> 0
)
SELECT
  CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
  CAST(d.version AS INTEGER) AS version,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(FLOOR(d.bal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
FROM orders o
JOIN dim d ON o.o_custkey = d.c_custkey
WHERE CAST(o.o_orderdate AS DATE) >= d.valid_from
  AND CAST(o.o_orderdate AS DATE) < d.valid_to
GROUP BY 1, 2
ORDER BY order_year, version
"""
SCD2_PIT_ORACLE = SCD2_PIT_ORACLE.format(eff=SCD2_EFF_DATE)


def wap_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish — the production pattern for landing a new
    batch without ever exposing bad data: the batch is WRITTEN to an
    isolated staging location, AUDITED there (constraint checks run
    against the staged files, not the in-memory frame — what a
    separate audit job would see), and only a fully-green audit
    PUBLISHES it with one atomic directory rename; a red audit leaves
    the staging quarantined and the published location untouched.

    The batch here is one order-date month enriched with a derived
    charge column; audits: primary-key uniqueness, null/domain checks
    on the derived column, and a non-empty gate. Output: one row per
    audit (check, n_checked, n_violations) plus a ``published`` row
    whose n_checked is the row count that went live and n_violations
    is 0 — the shape a pipeline's run-ledger records.

    Scale: the stage write is the batch's natural parallel write; the
    audits are column-pruned scans of the staged files (at 100 TB the
    audit cost is one pass over the BATCH, never the table); publish
    is a metadata-only rename — the same mechanism table formats
    implement as atomic snapshot commit, shown here at the
    filesystem level.
    """
    import shutil

    staging = _scratch("wap", "staging")
    published = _scratch("wap", "published")
    for p in (staging, published):
        shutil.rmtree(p, ignore_errors=True)

    orders = load_table(spark, "orders", sf_dir)
    batch = orders.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-02-01").cast("timestamp"))
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )
    batch.write.mode("overwrite").parquet(staging)

    staged = spark.read.schema(batch.schema).parquet(staging)
    audits = staged.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dups"),
        F.sum(F.col("price_cents").isNull().cast("long")).alias("null_price"),
        F.sum((F.col("price_cents") <= 0).cast("long")).alias("bad_domain"),
    ).collect()[0]
    all_green = (
        audits["n"] > 0
        and audits["pk_dups"] == 0
        and audits["null_price"] == 0
        and audits["bad_domain"] == 0
    )
    if all_green:
        os.rename(staging, published)  # atomic publish
    n_live = (
        spark.read.schema(batch.schema).parquet(published).count()
        if all_green
        else 0
    )

    rows = [
        ("batch_nonempty", int(audits["n"]), int(audits["n"] == 0)),
        ("pk_unique_orderkey", int(audits["n"]), int(audits["pk_dups"])),
        ("price_cents_not_null", int(audits["n"]), int(audits["null_price"])),
        ("price_cents_positive", int(audits["n"]), int(audits["bad_domain"])),
        ("published", int(n_live), 0 if all_green else 1),
    ]
    return spark.createDataFrame(
        rows, "check string, n_checked long, n_violations long"
    ).orderBy("check")


WAP_ORACLE = """
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1995-02-01'
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS pk_dups,
    CAST(SUM(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_price,
    CAST(SUM(CASE WHEN price_cents <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS bad_domain
  FROM batch
)
SELECT 'batch_nonempty' AS check, n AS n_checked,
  CAST(CASE WHEN n = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_violations FROM a
UNION ALL
SELECT 'pk_unique_orderkey', n, pk_dups FROM a
UNION ALL
SELECT 'price_cents_not_null', n, null_price FROM a
UNION ALL
SELECT 'price_cents_positive', n, bad_domain FROM a
UNION ALL
SELECT 'published', CASE WHEN pk_dups = 0 AND null_price = 0
    AND bad_domain = 0 AND n > 0 THEN n ELSE 0 END,
  CAST(CASE WHEN pk_dups = 0 AND null_price = 0 AND bad_domain = 0
    AND n > 0 THEN 0 ELSE 1 END AS BIGINT) FROM a
ORDER BY 1
"""


def postgres_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Postgres sink + readback — the reference's actual warehouse
    path (reference ``pipeline.py:18-22`` opens psycopg2→Postgres;
    ``pipeline.py:48-74`` row-loops INSERTs). Re-expressed distributed:

    1. Spark computes the per-customer order rollup (one shuffle,
       integer cents).
    2. Each partition opens its OWN connection to Postgres (the
       clean-room wire-protocol client in ``sources/pg_wire.py`` —
       this container has the server binaries but no driver/JDBC jar)
       and lands its rows as multi-row batched INSERTs: the
       distributed replacement for the reference's driver-side loop,
       N_partitions writers committing in parallel.
    3. Postgres itself then runs the per-nation rollup (real pushdown
       to the warehouse engine), and the bounded 25-row result comes
       back through one cursor into a Spark DataFrame.

    The cluster is ephemeral (initdb → unix socket, trust auth →
    teardown) purely to keep the test hermetic; a real deployment
    points ``PgConnection`` at the warehouse endpoint and ships the
    package to executors via ``--py-files``. Scale: the INSERT volume
    is the pre-aggregated customer rollup (|customers|, not |orders|),
    writer parallelism follows Spark partitions, and the readback is
    a 25-row aggregate, not a table scan.
    """
    from backend_model_spark.sources.pg_server import PostgresCluster

    orders = load_table(spark, "orders", sf_dir).select("o_custkey", "o_totalprice")
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).alias("sum_price_cents"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_nationkey", "n_orders", "sum_price_cents")
    )

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )

    with PostgresCluster() as cluster:
        socket_dir = cluster.socket_dir
        with cluster.connect() as c:
            c.query(
                "CREATE TABLE cust_rollup (c_custkey bigint PRIMARY KEY, "
                "c_nationkey bigint, n_orders bigint, sum_price_cents bigint)"
            )

        def write_partition(rows):
            # workers don't inherit the driver's sys.path mutations
            import sys as _sys

            if repo_root not in _sys.path:
                _sys.path.insert(0, repo_root)
            from backend_model_spark.sources.pg_server import PostgresCluster as _PC
            from backend_model_spark.sources.pg_wire import PgConnection

            batch, conn = [], None
            try:
                for r in rows:
                    if conn is None:
                        conn = PgConnection(socket_dir, _PC.USER, _PC.DB)
                    batch.append(
                        f"({r['c_custkey']},{r['c_nationkey']},"
                        f"{r['n_orders']},{r['sum_price_cents']})"
                    )
                    if len(batch) >= 500:
                        conn.query(
                            "INSERT INTO cust_rollup VALUES " + ",".join(batch)
                        )
                        batch = []
                if batch:
                    conn.query("INSERT INTO cust_rollup VALUES " + ",".join(batch))
            finally:
                if conn is not None:
                    conn.close()

        per_cust.foreachPartition(write_partition)

        with cluster.connect() as c:
            cols, rows = c.query(
                "SELECT c_nationkey, count(*) AS n_customers, "
                "sum(n_orders) AS n_orders, "
                "sum(sum_price_cents) AS sum_price_cents, "
                "min(c_custkey) AS min_custkey "
                "FROM cust_rollup GROUP BY c_nationkey ORDER BY c_nationkey"
            )

    out = spark.createDataFrame(
        [tuple(int(v) for v in r) for r in rows],
        schema="c_nationkey bigint, n_customers bigint, n_orders bigint, "
        "sum_price_cents bigint, min_custkey bigint",
    )
    return out.orderBy("c_nationkey")


POSTGRES_ROUNDTRIP_ORACLE = """
WITH per_cust AS (
  SELECT
    c_custkey, c_nationkey,
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS sum_price_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_nationkey
)
SELECT
  c_nationkey,
  COUNT(*) AS n_customers,
  CAST(SUM(n_orders) AS BIGINT) AS n_orders,
  CAST(SUM(sum_price_cents) AS BIGINT) AS sum_price_cents,
  MIN(c_custkey) AS min_custkey
FROM per_cust
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog → post-image: the batch MERGE INTO every lakehouse
    runs to apply captured changes (upserts + deletes + inserts of new
    keys) onto a base table. Extends the reference's append-only sink
    (pipeline.py:11-14) with the mutation semantics it lacks.

    The changelog is derived deterministically from ``orders`` so the
    oracle can reproduce it: each order is a change to its customer's
    balance (sequence = o_orderkey), every 10th-by-modulus order is a
    DELETE, and orders with o_orderkey % 97 == 0 target a brand-new key
    (c_custkey + 1_000_000) — an INSERT. Apply semantics: the
    highest-sequence change per key wins; a winning DELETE removes the
    row; a winning upsert replaces the balance; untouched base rows
    pass through. Balances are exact bigint cents.

    Scale: latest-change-per-key is one window over the changelog
    (shuffle on pk); the merge is a single full-outer hash join on the
    same pk — co-partitioned with the window output, so AQE reuses the
    exchange. With the base table bucketed by pk (io_bucketed_join
    pattern) the base side is shuffle-free; changelog skew (one hot
    key) is AQE skew-join territory. No driver loop, no per-row
    round-trips — the anti-pattern the reference's INSERT loop
    embodies stays dead.
    """
    from pyspark.sql import Window as W

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)

    base = cust.select(
        F.col("c_custkey").alias("pk"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("bal_cents"),
        F.lit(1).alias("in_base"),
    )
    chg = orders.select(
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + 1_000_000
        )
        .otherwise(F.col("o_custkey"))
        .alias("pk"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 3, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("new_bal_cents"),
    )
    w = W.partitionBy("pk").orderBy(F.col("seq").desc())
    latest = (
        chg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pk", "op", "new_bal_cents")
    )
    merged = base.join(latest, "pk", "full_outer")
    return (
        merged.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            "pk",
            F.when(F.col("op") == "U", F.col("new_bal_cents"))
            .otherwise(F.col("bal_cents"))
            .alias("bal_cents"),
            F.when(F.col("in_base").isNull(), F.lit("insert"))
            .when(F.col("op").isNull(), F.lit("unchanged"))
            .otherwise(F.lit("update"))
            .alias("merge_action"),
        )
        .orderBy("pk")
    )


CDC_MERGE_ORACLE = """
WITH base AS (
  SELECT c_custkey AS pk,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
),
chg AS (
  SELECT
    CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000
         ELSE o_custkey END AS pk,
    o_orderkey AS seq,
    CASE WHEN o_orderkey % 10 = 3 THEN 'D' ELSE 'U' END AS op,
    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS new_bal_cents
  FROM orders
),
latest AS (
  SELECT pk, op, new_bal_cents FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
    FROM chg
  ) WHERE rn = 1
)
SELECT
  COALESCE(b.pk, l.pk) AS pk,
  CASE WHEN l.op = 'U' THEN l.new_bal_cents ELSE b.bal_cents END AS bal_cents,
  CASE WHEN b.pk IS NULL THEN 'insert'
       WHEN l.pk IS NULL THEN 'unchanged'
       ELSE 'update' END AS merge_action
FROM base b FULL OUTER JOIN latest l ON b.pk = l.pk
WHERE l.op IS NULL OR l.op <> 'D'
ORDER BY pk
"""


def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-shape column statistics collection: exact NDV,
    null count, min/max, and average rendered length per column, one
    row per column — the statistics a cost-based optimizer feeds on
    (Spark's own `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`
    computes this same tuple, with NDV approximated by HLL at scale).

    Physical shape: DISTINCT-FIRST, one branch per column. Each branch
    is `groupBy(col).count()` — a column-pruned scan (parquet reads
    ONLY that column) into a fully codegen'd, map-side-combinable
    HashAggregate — followed by a rollup over the (distinct value,
    count) frame: ndv = non-null distinct rows, nulls/rows from the
    counts, min/max/length off the distinct values. The five one-row
    branches union into the stats table.

    Why not one wide agg with multi-countDistinct? Spark plans that as
    Expand (scan rows × 6) feeding a SortAggregate — string-typed
    min/max aggregation buffers disqualify HashAggregate — which
    measured 9× slower at sf0.1 and degraded superlinearly at 10×.
    The distinct-first shape reads the same bytes (one column each),
    keeps every operator in whole-stage codegen, and its rollup input
    is |distinct values|, not |rows| × columns. Stats stay
    engine-exact: integer counts, canonical strings (numeric min/max
    computed numerically THEN rendered; the timestamp day-formatted —
    monotone, so format(min) = min(format); doubles are excluded from
    the contract because their rendering is engine-specific), and
    average length as length×100 div count in integer arithmetic.
    """
    li = load_table(spark, "lineitem", sf_dir)

    # canonical renderings: numerics aggregate numerically and render
    # after (lexicographic '10' < '9' must never leak into min/max);
    # the canon column is materialized pre-agg for the length sum.
    def _branch(c: str, canon) -> DataFrame:
        d = (
            li.groupBy(F.col(c).alias("v"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("canon_v", canon(F.col("v")))
        )
        return d.agg(
            F.lit(c).alias("col_name"),
            F.count("v").cast("long").alias("ndv"),
            F.coalesce(
                F.sum(F.when(F.col("v").isNull(), F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias("n_nulls"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.expr(
                "sum(case when v is not null then cnt * length(canon_v) end)"
                " * 100 div sum(case when v is not null then cnt end)"
            ).alias("avg_len_x100"),
        ).select(
            "col_name",
            "ndv",
            "n_nulls",
            canon(F.col("min_v")).alias("min_str"),
            canon(F.col("max_v")).alias("max_str"),
            "avg_len_x100",
        )

    as_str = lambda col: col.cast("string")  # noqa: E731
    as_day = lambda col: F.date_format(col, "yyyy-MM-dd")  # noqa: E731
    branches = [
        _branch("l_orderkey", as_str),
        _branch("l_linenumber", as_str),
        _branch("l_returnflag", as_str),
        _branch("l_linestatus", as_str),
        _branch("l_shipdate", as_day),
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("col_name")


ANALYZE_STATS_ORACLE = """
WITH s AS (
  SELECT
    COUNT(*) AS n_rows,
    COUNT(DISTINCT l_orderkey) AS ok_ndv, COUNT(l_orderkey) AS ok_cnt,
    CAST(MIN(l_orderkey) AS VARCHAR) AS ok_min,
    CAST(MAX(l_orderkey) AS VARCHAR) AS ok_max,
    SUM(LENGTH(CAST(l_orderkey AS VARCHAR))) * 100 AS ok_len,
    COUNT(DISTINCT l_linenumber) AS ln_ndv, COUNT(l_linenumber) AS ln_cnt,
    CAST(MIN(l_linenumber) AS VARCHAR) AS ln_min,
    CAST(MAX(l_linenumber) AS VARCHAR) AS ln_max,
    SUM(LENGTH(CAST(l_linenumber AS VARCHAR))) * 100 AS ln_len,
    COUNT(DISTINCT l_returnflag) AS rf_ndv, COUNT(l_returnflag) AS rf_cnt,
    MIN(l_returnflag) AS rf_min, MAX(l_returnflag) AS rf_max,
    SUM(LENGTH(l_returnflag)) * 100 AS rf_len,
    COUNT(DISTINCT l_linestatus) AS ls_ndv, COUNT(l_linestatus) AS ls_cnt,
    MIN(l_linestatus) AS ls_min, MAX(l_linestatus) AS ls_max,
    SUM(LENGTH(l_linestatus)) * 100 AS ls_len,
    COUNT(DISTINCT l_shipdate) AS sd_ndv, COUNT(l_shipdate) AS sd_cnt,
    strftime(MIN(l_shipdate), '%Y-%m-%d') AS sd_min,
    strftime(MAX(l_shipdate), '%Y-%m-%d') AS sd_max,
    SUM(LENGTH(strftime(l_shipdate, '%Y-%m-%d'))) * 100 AS sd_len
  FROM lineitem
)
SELECT col_name, ndv, n_nulls, min_str, max_str, avg_len_x100 FROM (
  SELECT 'l_orderkey' AS col_name, CAST(ok_ndv AS BIGINT) AS ndv,
         CAST(n_rows - ok_cnt AS BIGINT) AS n_nulls,
         ok_min AS min_str, ok_max AS max_str,
         CAST(ok_len // ok_cnt AS BIGINT) AS avg_len_x100 FROM s
  UNION ALL
  SELECT 'l_linenumber', CAST(ln_ndv AS BIGINT),
         CAST(n_rows - ln_cnt AS BIGINT), ln_min, ln_max,
         CAST(ln_len // ln_cnt AS BIGINT) FROM s
  UNION ALL
  SELECT 'l_returnflag', CAST(rf_ndv AS BIGINT),
         CAST(n_rows - rf_cnt AS BIGINT), rf_min, rf_max,
         CAST(rf_len // rf_cnt AS BIGINT) FROM s
  UNION ALL
  SELECT 'l_linestatus', CAST(ls_ndv AS BIGINT),
         CAST(n_rows - ls_cnt AS BIGINT), ls_min, ls_max,
         CAST(ls_len // ls_cnt AS BIGINT) FROM s
  UNION ALL
  SELECT 'l_shipdate', CAST(sd_ndv AS BIGINT),
         CAST(n_rows - sd_cnt AS BIGINT), sd_min, sd_max,
         CAST(sd_len // sd_cnt AS BIGINT) FROM s
)
ORDER BY col_name
"""


def provenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-file provenance audit via Spark's hidden
    ``_metadata`` column — the backfill-debugging tool: after a
    partitioned write, read back WITH file provenance and report, per
    source partition file, row count, distinct users, file count, and
    value totals. When one day's numbers look wrong at 100 TB, this is
    the query that tells you WHICH file to quarantine (pairs with the
    WAP lifecycle in :func:`wap_lifecycle`).

    The write repartitions on the partition column first, so every day
    lands wholly in one task → exactly one file per day directory —
    which makes ``n_files`` a deterministic part of the contract (and
    the thing this audit would catch drifting after a bad backfill).
    The day label is extracted from ``_metadata.file_path`` — the
    point is proving the file-provenance plumbing, not re-reading the
    day column.

    The oracle verifies the VALUES from the source table directly
    (write → read-back must conserve them); Spark-side file paths
    never enter the hashed output (writer UUIDs are run-specific).

    Scale: one shuffle to co-locate days for the write; the audit is
    one scan of the written files with two small aggregates (stats per
    day + distinct-file counts) joined on the partition label. The
    ``_metadata`` column is generated per-split by the scan — no extra
    I/O.
    """
    ev = load_table(spark, "events", sf_dir).filter(F.col("ts").isNotNull())
    path = _scratch("provenance_audit", "events_by_day")
    (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .repartition(F.col("day"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), "day=([0-9-]+)", 1
        ).alias("src_day"),
        F.col("_metadata.file_path").alias("fp"),
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    stats = back.groupBy("src_day").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("cents").alias("sum_cents"),
    )
    files = (
        back.select("src_day", "fp")
        .distinct()
        .groupBy("src_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"))
    )
    return (
        stats.join(files, "src_day")
        .select("src_day", "n_rows", "n_users", "n_files", "sum_cents")
        .orderBy("src_day")
    )


PROVENANCE_AUDIT_ORACLE = """
SELECT
  strftime(ts, '%Y-%m-%d') AS src_day,
  COUNT(*) AS n_rows,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(1 AS BIGINT) AS n_files,
  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
    AS sum_cents
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
ORDER BY 1
"""


_CARD_JOINS = [
    # (name, left tbl, left key, right tbl, right key)
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
]


def cardinality_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit: the textbook CBO estimate
    |A ⋈ B| ≈ n_A · n_B / max(ndv_A, ndv_B) (uniform-frequency,
    containment assumption — what Spark's CBO and every
    System-R descendant uses) against the ACTUAL join cardinality,
    per fact⨝dim pair. This is the validation loop an optimizer
    engineer runs on collected statistics
    (:func:`analyze_table_stats` feeds the inputs at scale): a large
    err_ppm flags skewed or non-contained keys where the uniform
    assumption misplans joins.

    Everything is bigint: counts, exact NDVs (distinct-first, no
    Expand), the floor-division estimate, and the error in ppm —
    bit-identical across engines.

    Scale: per pair, two count/NDV rollups (each a column-pruned
    distinct-first aggregate) and one key-equi-join count; the audit
    output is 3 rows. At 100 TB the NDVs come from the stats store
    instead of a rescan — the query shape is the same. One bound to
    watch: ``n_left * n_right`` in BIGINT overflows (ANSI raises)
    once the pair product passes ~9.2e18 — beyond ~10^9 × 10^9-row
    joins promote the estimate arithmetic to DECIMAL(38,0) on both
    engines; the audit columns stay exact integers either way.
    """
    out = None
    for name, lt, lk, rt, rk in _CARD_JOINS:
        # null keys: SQL COUNT(col)/COUNT(DISTINCT col) skip them and a
        # join drops them, but groupBy would keep a NULL group — filter
        left = (
            load_table(spark, lt, sf_dir)
            .select(F.col(lk).alias("k"))
            .filter(F.col("k").isNotNull())
        )
        right = (
            load_table(spark, rt, sf_dir)
            .select(F.col(rk).alias("k"))
            .filter(F.col("k").isNotNull())
        )
        lstats = left.groupBy("k").count().agg(
            F.sum("count").cast("long").alias("n_left"),
            F.count(F.lit(1)).cast("long").alias("ndv_left"),
        )
        rstats = right.groupBy("k").count().agg(
            F.sum("count").cast("long").alias("n_right"),
            F.count(F.lit(1)).cast("long").alias("ndv_right"),
        )
        actual = left.join(right, "k").agg(
            F.count(F.lit(1)).cast("long").alias("actual_rows")
        )
        row = (
            lstats.crossJoin(rstats)
            .crossJoin(actual)
            .select(
                F.lit(name).alias("join_name"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                F.expr(
                    "n_left * n_right div greatest(ndv_left, ndv_right)"
                ).alias("est_rows"),
                "actual_rows",
                F.expr(
                    "abs(n_left * n_right div greatest(ndv_left, ndv_right)"
                    " - actual_rows) * 1000000 div actual_rows"
                ).alias("err_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("join_name")


def _card_sql_block(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    return f"""
SELECT '{name}' AS join_name, n_left, n_right, ndv_left, ndv_right,
  CAST(n_left * n_right // GREATEST(ndv_left, ndv_right) AS BIGINT)
    AS est_rows,
  actual_rows,
  CAST(ABS(n_left * n_right // GREATEST(ndv_left, ndv_right)
       - actual_rows) * 1000000 // actual_rows AS BIGINT) AS err_ppm
FROM (SELECT CAST(COUNT({lk}) AS BIGINT) AS n_left,
             CAST(COUNT(DISTINCT {lk}) AS BIGINT) AS ndv_left FROM {lt})
CROSS JOIN (SELECT CAST(COUNT({rk}) AS BIGINT) AS n_right,
            CAST(COUNT(DISTINCT {rk}) AS BIGINT) AS ndv_right FROM {rt})
CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
            FROM {lt} JOIN {rt} ON {lt}.{lk} = {rt}.{rk})
"""


CARDINALITY_AUDIT_ORACLE = (
    " UNION ALL ".join(_card_sql_block(*j) for j in _CARD_JOINS)
    + " ORDER BY join_name"
)
