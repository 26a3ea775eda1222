"""The reference's Airbnb wrangling dataflow as one lazy Spark lineage.

Re-expresses the EDA notebook chain (SURVEY.md §3.2: concat → dropna →
bool→int → price=round(exp(log_price),2) → junk-zip filter → zip regex
clean → casts → column drops → label-encode → epoch-days) as native
column expressions + a single ``StringIndexer`` pass. The reference
runs this eagerly in pandas over ~99k rows (EDA Notebook cells 4-100);
here it is one Catalyst plan that scales horizontally.

Parity-critical choices (SURVEY.md §7 "hard parts"):
* label codes must equal sklearn ``LabelEncoder``'s (sorted class
  name) → ``StringIndexer(stringOrderType="alphabetAsc")`` (E1);
* epoch-days via ``datediff(col, '1970-01-01')`` — integer-exact, no
  timezone drift (F7, nb cell 86);
* price inversion ``round(exp(log_price), 2)`` (F1/F2, nb:575-578).
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import StringIndexer

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from backend_model_spark.memo import memo

# columns handled like the reference's cell-16 bool coercion
BOOL_COLS = ["cleaning_fee", "instant_bookable", "host_identity_verified"]

# the reference label-encodes exactly these five (nb:3638-3643)
LABEL_COLS = ["property_type", "room_type", "bed_type", "cancellation_policy", "city"]

# reference's 15 dropped columns (nb:1766-1775, 1997-2000)
DROP_COLS = [
    "id",
    "amenities",
    "description",
    "first_review",
    "last_review",
    "name",
    "thumbnail_url",
    "neighbourhood",
    "latitude",
    "longitude",
    "host_has_profile_pic",
    "host_response_rate",
    "number_of_reviews",
    "log_price",
]

# junk zipcode literals the reference deletes by row (nb:1464-1471)
JUNK_ZIPS = ["1m", "95202\r\r\n95203\r\r\n94158", "11249\r\r\n11249"]

FINAL_COLS = [
    "property_type",
    "room_type",
    "accommodates",
    "bathrooms",
    "bed_type",
    "cancellation_policy",
    "cleaning_fee",
    "city",
    "host_identity_verified",
    "host_since",
    "instant_bookable",
    "review_scores_rating",
    "zipcode",
    "bedrooms",
    "beds",
    "price",
]


def union_train_test(train: DataFrame, test: DataFrame) -> DataFrame:
    """U1: the reference's pd.concat — duplicates preserved (nb:89)."""
    return train.unionByName(test)


def coerce_booleans(df: DataFrame) -> DataFrame:
    """P5: 't'/'f'/true/false → 1/0 (nb:549-556)."""
    for c in BOOL_COLS:
        df = df.withColumn(
            c,
            F.when(F.col(c).cast("string").isin("t", "true", "True", "1"), 1).otherwise(
                0
            ),
        )
    return df


def invert_log_price(df: DataFrame) -> DataFrame:
    """F1+F2: price = round(exp(log_price), 2) (nb:575-578)."""
    return df.withColumn("price", F.round(F.exp(F.col("log_price")), 2))


def filter_junk_zipcodes(df: DataFrame) -> DataFrame:
    """P4: drop rows whose zipcode equals a junk literal (nb:1464-71)."""
    return df.filter(~F.col("zipcode").isin(JUNK_ZIPS))


def clean_zipcode(df: DataFrame) -> DataFrame:
    """F4+F5+F6: the reference's ``clean_data`` UDF (nb:1437-1452) as
    native expressions: scrub non-[, a-zA-Z0-9], take the first
    space-token ('10003-8623'→'10003', '10019.0'→'10019'), cast int."""
    scrubbed = F.regexp_replace(F.col("zipcode"), r"[^, a-zA-Z0-9]", " ")
    first = F.split(scrubbed, " ").getItem(0)
    return df.withColumn("zipcode", first.cast("int"))


def host_since_epoch_days(df: DataFrame) -> DataFrame:
    """F7: 'YYYY-MM-DD' → integer epoch days (nb cell 86)."""
    return df.withColumn(
        "host_since",
        F.datediff(
            F.to_date(F.col("host_since"), "yyyy-MM-dd"),
            F.lit("1970-01-01").cast("date"),
        ),
    )


def label_encode(df: DataFrame) -> DataFrame:
    """E1: sklearn-LabelEncoder-parity encoding of the 5 categorical
    columns — alphabetAsc order is the parity trap (SURVEY §7)."""
    indexers = [
        StringIndexer(
            inputCol=c, outputCol=f"{c}__idx", stringOrderType="alphabetAsc"
        )
        for c in LABEL_COLS
    ]
    fitted = Pipeline(stages=indexers).fit(df)
    out = fitted.transform(df)
    for c in LABEL_COLS:
        out = out.drop(c).withColumnRenamed(f"{c}__idx", c).withColumn(
            c, F.col(c).cast("int")
        )
    return out


def cast_final_ints(df: DataFrame) -> DataFrame:
    """F6 (cell 78): numeric downcasts to int for the stored schema."""
    for c in [
        "accommodates",
        "bathrooms",
        "host_identity_verified",
        "cleaning_fee",
        "instant_bookable",
        "review_scores_rating",
        "bedrooms",
        "beds",
        "host_since",
    ]:
        df = df.withColumn(c, F.col(c).cast("int"))
    return df


def clean_listings(train: DataFrame, test: DataFrame) -> DataFrame:
    """The full reference chain, one lazy plan: raw listings → the
    16-column ``air_b`` modeling table (db_queries.py:4-23 schema)."""
    df = union_train_test(train, test)
    df = df.na.drop("any")
    df = coerce_booleans(df)
    df = invert_log_price(df)
    df = filter_junk_zipcodes(df)
    df = clean_zipcode(df)
    df = host_since_epoch_days(df)
    df = df.drop(*[c for c in DROP_COLS if c in df.columns])
    df = label_encode(df)
    df = cast_final_ints(df)
    return df.select(*FINAL_COLS)


# the reference's exact row funnel (SURVEY.md §5 goldens): 74,111
# train + 25,458 test = 99,569 raw listings → 38,499 stored air_b
# rows. The fixture mirrors the funnel exactly: 3 planted junk-zip
# rows are row-dropped, so the dropna stage must pass 38,502.
AIRBNB_E2E_SHAPE = dict(
    n_rows=99_569, n_train=74_111, n_null_rows=99_569 - 38_499 - 3
)

def _e2e_fixture_frames(spark):
    """(train, test) DataFrames over the deterministic 29-column dirty
    fixture, written once per application to temp parquet and SCANNED
    (see :func:`airbnb_e2e` for why scanning beats embedding). Shared
    by the cleaning entry and the round-9 train/eval entry so both
    provably run the reference's exact funnel input."""
    import os
    import tempfile

    from backend_model_spark.ml.fixtures import generate_listings

    def build():
        train_pdf, test_pdf, _ = generate_listings(**AIRBNB_E2E_SHAPE)
        d = tempfile.mkdtemp(prefix="airbnb_e2e_fixture_")
        # the fixture dir would otherwise outlive the process (the
        # memo is per application, so no later run reuses it) —
        # repeated driver rounds on one host would accumulate ~10 MB
        # of orphaned parquet per session (round-8 review finding)
        import atexit
        import shutil

        atexit.register(shutil.rmtree, d, ignore_errors=True)
        paths = (os.path.join(d, "train.parquet"), os.path.join(d, "test.parquet"))
        train_pdf.to_parquet(paths[0])
        test_pdf.to_parquet(paths[1])
        return paths

    # (train_path, test_path), generated once per Spark application
    paths = memo(spark, ("airbnb.fixture",), build)
    return spark.read.parquet(paths[0]), spark.read.parquet(paths[1])


def airbnb_e2e(spark, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE core dataflow as one registered,
    driver-checked entry: deterministic 29-column dirty fixture at
    the reference's exact row funnel (74,111 + 25,458 = 99,569 →
    38,499; the raw Kaggle CSVs are in .MISSING_LARGE_BLOBS, so the
    seeded fixture stands in) → ``clean_listings`` (concat → dropna →
    bool→int → price=round(exp(log_price),2) → junk-zip row filter →
    zip regex clean → epoch days → column drops → alphabetAsc label
    encode → int casts; EDA Notebook cells 4-100) → one summary row
    of exact integer facts computed from the cleaned frame.

    ``sf_dir`` is ignored: the reference's dataset is a fixed corpus,
    not a scaled table. The oracle is literal VALUES computed by an
    INDEPENDENT pandas implementation of the same funnel (the
    generator's golden path + a regex zip cleaner), so the driver
    hash cross-checks Spark's cleaning chain against a second engine
    end-to-end. All facts are integers (price summed as cents), so
    there is no float-association hazard.

    The fixture is written once per application to a temp parquet and
    SCANNED, not embedded: a 99,569-row local collection pickled into
    every task re-pays serialization on each of the 8 downstream jobs
    (two counts, five StringIndexer fits, the final agg — measured
    22 s embedded vs ~7 s scanned), and a parquet scan is how the
    real pipeline would ingest the CSVs anyway."""
    train, test = _e2e_fixture_frames(spark)
    unioned = union_train_test(train, test)
    n_union = unioned.count()
    n_dropna = unioned.na.drop("any").count()
    cleaned = clean_listings(train, test)
    cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("bigint")
    row = cleaned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sum_price_cents"),
        F.min(cents).alias("min_price_cents"),
        F.max(cents).alias("max_price_cents"),
        F.countDistinct("city").alias("n_cities"),
        F.sum("city").cast("bigint").alias("sum_city_code"),
        F.min("host_since").alias("host_since_min"),
        F.max("host_since").alias("host_since_max"),
        F.sum(
            F.col("cleaning_fee")
            + F.col("instant_bookable")
            + F.col("host_identity_verified")
        )
        .cast("bigint")
        .alias("sum_bool_flags"),
        F.sum(F.coalesce(F.col("zipcode"), F.lit(0)))
        .cast("bigint")
        .alias("sum_zipcode"),
        F.count(F.when(F.col("zipcode").isNull(), 1)).alias("n_null_zip"),
    ).select(
        F.lit(n_union).cast("bigint").alias("n_union"),
        F.lit(n_dropna).cast("bigint").alias("n_after_dropna"),
        "*",
    )
    return row


# literal values from the committed independent pandas funnel
# (scripts/airbnb_golden.py) — regenerated round 9 when the fixture's
# price model became feature-dependent (learnable, so the train/eval
# entry's held-out-R² certificate has a satisfiable obligation)
AIRBNB_E2E_ORACLE = """
SELECT
  CAST(99569 AS BIGINT) AS n_union,
  CAST(38502 AS BIGINT) AS n_after_dropna,
  CAST(38499 AS BIGINT) AS n_rows,
  CAST(1782276605 AS BIGINT) AS sum_price_cents,
  CAST(8880 AS BIGINT) AS min_price_cents,
  CAST(129527 AS BIGINT) AS max_price_cents,
  CAST(6 AS BIGINT) AS n_cities,
  CAST(126974 AS BIGINT) AS sum_city_code,
  CAST(13941 AS INTEGER) AS host_since_min,
  CAST(17434 AS INTEGER) AS host_since_max,
  CAST(57826 AS BIGINT) AS sum_bool_flags,
  CAST(1849519970 AS BIGINT) AS sum_zipcode,
  CAST(0 AS BIGINT) AS n_null_zip
"""


def content_bucket():
    """The train/eval entry's content-addressed split bucket in
    [0, 100): md5 over the 15 FEATURE columns of ``air_b`` (the table
    has no row id, so content IS the identity). The label ``price``
    is deliberately EXCLUDED from the key (round-9 advice): hashing it
    in would re-shuffle the split whenever the label or its rounding
    changes, and feature-identical rows with different prices could
    straddle the split — mild train/test contamination for
    near-duplicate listings. ONE shared expression — the flip test
    reuses it so a hand-copied split cannot drift (the
    sampling.BUCKET lesson)."""
    feature_cols = [c for c in FINAL_COLS if c != "price"]
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", *[F.col(c).cast("string") for c in feature_cols])
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )


def airbnb_train_eval(spark, sf_dir: str) -> DataFrame:
    """Round-9 closing half-step of the reference's core dataflow
    (round-8 verdict ask #7): the 38,499×16 cleaned ``air_b`` frame
    from :func:`airbnb_e2e`'s funnel, chained into the capability-map
    GBT pipeline (``ml/pipeline.py`` assembler → StandardScaler →
    GBTRegressor — the reference trains a Keras FCFF net here,
    pipeline.py:29-87; MLlib has no DNN regressor, SURVEY §2.10) and
    evaluated on held-out rows.

    The split is CONTENT-ADDRESSED (md5 over the concatenated 15
    FEATURE columns — price excluded since round 10 so the split is
    label-independent — bucket < 80 trains; ``air_b`` has no row id,
    so content IS the identity) rather than
    randomSplit, which is partitioning-dependent. Hashed row: the
    exact conserved total (38,499 — the funnel constant the oracle
    states literally) plus certificates — split fraction within
    ±0.05 of 0.8, MAE and RMSE finite, MAE ≤ RMSE (Cauchy–Schwarz),
    test R² ≤ 1, train R² > 0 (boosting beats the mean predictor on
    its own data), and held-out R² > 0 (price is learnable from the
    15 features; the e2e ML test shuffles labels to prove this
    boolean flips). Metrics themselves are tree-ensemble floats —
    engine-local by nature, like every ``ml_gbt_*`` certificate.

    Scale: GBT fitting is MLlib's distributed histogram boosting (one
    shuffle of per-feature bin stats per iteration, model broadcast
    back); cleaning is the one-pass funnel; the split is a codegen'd
    md5 filter on the scan.
    """
    import math

    from pyspark.ml.evaluation import RegressionEvaluator

    from backend_model_spark.ml.pipeline import train_and_evaluate

    def build():
        train_raw, test_raw = _e2e_fixture_frames(spark)
        cleaned = clean_listings(train_raw, test_raw)
        bucket = content_bucket()
        train = cleaned.filter(bucket < 80)
        test = cleaned.filter(bucket >= 80)
        res = train_and_evaluate(train, test, model="gbt", maxDepth=4, maxIter=10)
        evaluator = RegressionEvaluator(labelCol="price", predictionCol="prediction")
        r2_train = evaluator.setMetricName("r2").evaluate(res.model.transform(train))
        n_train, n_test = train.count(), test.count()
        return (
            n_train + n_test,
            bool(abs(n_train / (n_train + n_test) - 0.8) <= 0.05),
            bool(math.isfinite(res.mae) and math.isfinite(res.rmse)),
            bool(res.mae <= res.rmse + 1e-9),
            bool(res.r2 <= 1.0 + 1e-9),
            bool(r2_train > 0.0),
            bool(res.r2 > 0.0),
        )

    # the fit is deterministic, so one train per application (the
    # registry plan sweep constructs this entry repeatedly)
    row = memo(spark, ("airbnb.train_eval",), build)
    return spark.createDataFrame(
        [row],
        "n_total bigint, split_frac_ok boolean, metrics_finite boolean, "
        "mae_le_rmse boolean, r2_le_one boolean, train_beats_mean boolean, "
        "test_r2_positive boolean",
    )


AIRBNB_TRAIN_EVAL_ORACLE = """
SELECT
  CAST(38499 AS BIGINT) AS n_total,
  TRUE AS split_frac_ok,
  TRUE AS metrics_finite,
  TRUE AS mae_le_rmse,
  TRUE AS r2_le_one,
  TRUE AS train_beats_mean,
  TRUE AS test_r2_positive
"""
