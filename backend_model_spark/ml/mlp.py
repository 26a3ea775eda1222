"""Batch neural-net inference: fixed-weights FCFF MLP scored over a
DataFrame — the reference's model-SERVING path.

The reference's product is two Keras FCFF price regressors
(/root/reference/brute_force_grid_search_model/keras_metadata.pb and
bayesian_optimization_model/keras_metadata.pb: Dense stacks with
LeakyReLU/ELU, BatchNorm, Dropout) whose sole production use is
"score a batch of rows". This module deploys that capability
Spark-natively through ONE feature projection
(:func:`lineitem_features`) and ONE scorer (:func:`score`): the
weights (2–6 KB) travel in the scoring closure and an Arrow-batched
``mapInPandas`` runs the forward pass as numpy matmuls — no per-row
Python, no JVM↔Python chatter beyond Arrow batches, no driver
participation. At 100 TB the scoring cost is a single
narrow-dependency map over the fact table: no shuffle at all. Every
served net — both fixed-weight regressors and the in-engine-trained
one (ml/train_distributed.py) — goes through that one scorer.

Why not compile the net to Catalyst expressions: measured and
rejected (SCALE.md, "Round-6 experiment — JVM-expression scoring").

Inference-form parity with the Keras stack: BatchNorm folds into the
adjacent Dense affine at inference and Dropout is identity, so the
deployed network IS alternating affine+LeakyReLU — exactly what this
module evaluates (the offline trainer, scripts/train_mlp.py, already
folds feature standardization and target de-normalization into the
first/last layers the same way).

Why the numbers are bit-reproducible cross-engine (the full DuckDB
oracle below): all quantities live on DYADIC grids. Weights are
quantized to integer numerators over 256 (8 fractional bits) and every
activation is re-quantized with ``floor(a*256)/256`` after the
LeakyReLU (slope 0.25 = 2 fractional bits). Every intermediate value
is then a binary fraction with magnitude far below 2^53, so float64
add/multiply/floor are EXACT — summation order is irrelevant (no
partial sum ever rounds), which is what lets a BLAS matmul on the
Spark side hash-match a sum-of-products SQL expression on the DuckDB
side bit-for-bit. Division only ever happens by 256 (a power of two —
exact in binary floating point). The one edge round is the final
``floor(y*100 + 0.5)`` to integer cents.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_model_spark.sources.tables import load_table

LEAKY = 0.25  # 2 fractional bits: exact under the dyadic scheme
QSCALE = 256.0

# ---------------------------------------------------------------------------
# Quantized weights (integer numerators over 256), trained offline by
# scripts/train_mlp.py (fixed seed 20260814, full-batch GD, sf0.01
# lineitem). Architecture: 4 -> 16 -> 8 -> 1, LeakyReLU(0.25).
# Features: x1=floor(l_extendedprice/1000) (coarse price bucket),
# x2=floor(l_discount*100+.5), x3=floor(l_tax*100+.5),
# x4=floor(l_quantity+.5). Target: the Q1-style invoice charge
# price*(1-disc)*(1+tax) in dollars — see scripts/train_mlp.py for
# why the literal predict-price task is unlearnable on this synthetic
# data (price is drawn independently of every feature; corr ~ 0.003).
# Deployed accuracy: RMSE ~ 1712 $ vs predict-the-mean 29805 $.
# ---------------------------------------------------------------------------
QW1 = [
    [1, 6, 3, 3, 3, -13, -12, 9, -3, -1, -7, 1, 4, 7, 6, 3],
    [-2, 103, -99, 22, -33, 56, -2, -35, 5, -1, 176, 120, 68, -6, -27, -3],
    [-49, -81, 107, -38, 153, 58, -33, 65, 79, 87, 15, -1, -76, 11, 101, -130],
    [6, 10, -1, -7, -12, 3, -7, -15, 12, -5, 4, -19, 1, 1, 28, -7],
]
QB1 = [-29, -778, -84, 78, -290, 108, 965, -140, -504, -168, -673, -198, -308, -367, -1294, 572]
QW2 = [
    [89, -8, 124, -39, 41, -39, 111, -188],
    [-119, 38, 133, -26, -60, -14, 93, 58],
    [195, -30, 70, 87, 65, 22, -22, -45],
    [-53, -35, 38, -94, 24, 64, -69, -24],
    [-4, 27, 17, -28, -42, 29, 17, 32],
    [155, -174, 55, 44, 15, -86, 43, 67],
    [100, -229, -98, -79, 109, -29, 33, 38],
    [-104, -37, 177, -31, 106, 29, -53, -22],
    [-39, 28, -71, -101, -64, -41, 57, 38],
    [-118, -28, -113, 14, 60, -195, -225, -7],
    [-77, -24, -44, -257, 36, -53, -136, 36],
    [33, -24, 73, -33, 40, 10, 16, -101],
    [0, -32, 119, 205, 2, -40, 16, 85],
    [39, -206, 79, -46, -151, 89, -113, -53],
    [114, -125, 136, -64, -300, 81, -3, -50],
    [16, -26, -41, 26, 189, 75, -93, -29],
]
QB2 = [10, -1, -7, -10, -30, -20, -6, -21]
QW3 = [
    [-1906677],
    [-480758],
    [1486887],
    [545257],
    [-1392136],
    [3168228],
    [-3509998],
    [-3196281],
]
QB3 = [13027103]

# ---------------------------------------------------------------------------
# Model B ("bayes"): the second deployed regressor, mirroring the
# reference's bayesian_optimization_model SavedModel — same task,
# different searched hyperparameters (scripts/train_mlp.py CONFIGS:
# 4 -> 24 -> 12 -> 1, LeakyReLU(0.5), seed 20260815). Deployed
# RMSE ~ 1499 $ vs model A's ~1712 $ — the pair feeds the
# champion-challenger operator ml_mlp_model_compare.
# ---------------------------------------------------------------------------
LEAKY_B = 0.5  # 1 fractional bit: exact under the dyadic scheme
QW1_B = [
    [1, 4, 0, -1, -1, -9, -4, -16, -1, 6, 7, 5, 1, 2, -5, 1, 5, 3, 4, -2, -5, 10, -4, -11],
    [-36, -27, 11, 88, 84, 33, 133, 33, -11, -14, 44, 10, 107, 24, -49, -85, 128, 103, -88, -41, 4, -3, 4, 103],
    [-59, 73, -13, 24, -72, -79, -25, -140, -37, 21, 63, 13, -33, -1, 122, -164, -77, -43, -76, 5, -105, -71, 35, -11],
    [5, -6, 10, -20, -11, 11, 3, -6, 5, -4, -26, -13, -12, 11, 9, 11, 10, -8, -5, -1, 1, 23, 22, 8],
]
QB1_B = [267, -199, -252, 21, 219, 365, -452, 1361, 111, -191, -180, -45, -168, -517, -216, 736, -847, -287, 649, 327, 647, -790, -481, -123]
QW2_B = [
    [-1, -46, 122, 35, 85, -58, 36, 50, -3, -46, -38, 43],
    [108, 27, -37, 86, -87, 2, -21, 28, -72, 87, -12, -14],
    [116, 12, 45, 40, -108, -140, -4, 36, 1, 137, 61, 7],
    [-38, 93, 15, 40, 28, 220, -107, 136, 39, 6, -22, -80],
    [31, 78, 80, 21, 52, -20, 22, -14, 7, -24, 139, 81],
    [-20, 23, 14, 21, -46, -57, -23, 3, 46, -84, 26, 75],
    [-3, 8, 73, -49, 63, 92, 71, -55, 3, -63, 3, 77],
    [-22, 9, 81, 43, 122, 114, -68, -10, -21, -180, 37, -106],
    [-26, -39, 43, 12, 115, -5, -49, -96, -102, -120, 35, 74],
    [-48, -39, 129, -36, -126, 4, 102, 45, 19, -23, -78, 60],
    [92, 115, 7, 43, -75, 2, 67, -111, 41, -75, 50, -29],
    [154, 100, -40, -94, -7, -170, -62, -44, 38, 106, -6, -35],
    [-168, -5, -4, -8, 28, 75, -36, 58, 69, -2, 99, -111],
    [-78, 109, 135, -113, -24, 41, 32, 58, -25, -61, -45, 3],
    [-53, 72, 40, 94, 36, -70, 5, -40, -60, 25, 17, 3],
    [24, -28, 37, -105, -46, -2, -27, -29, -56, 117, 51, 18],
    [64, -11, -34, -44, 0, -42, -122, 59, -67, -1, 71, -105],
    [7, -63, 25, 92, -3, 38, 119, -38, -46, 49, -31, -24],
    [12, 4, -60, -58, 2, 16, -28, -34, -31, -53, -64, -3],
    [-100, -60, 0, 30, 126, 124, 43, 25, -53, -108, 11, 77],
    [47, 74, 78, -31, -51, 57, -77, 0, -25, 37, -38, 152],
    [63, 143, 93, -12, -29, 65, 10, 13, -58, -13, -57, 23],
    [51, -6, -108, 17, -228, -35, -52, 42, 95, -20, -98, 138],
    [69, 94, -126, -37, 217, 18, -27, 33, 4, -24, -114, -206],
]
QB2_B = [3, -2, -2, 5, 4, -5, 3, 3, 0, 6, 1, 3]
QW3_B = [
    [458306],
    [-579713],
    [794862],
    [-2900993],
    [-1047761],
    [1005227],
    [1437204],
    [1267116],
    [614285],
    [4921644],
    [812363],
    [-1151114],
]
QB3_B = [13180537]


def _arrays(*mats) -> dict[str, np.ndarray]:
    keys = ("W1", "B1", "W2", "B2", "W3", "B3")
    return {k: np.asarray(m, dtype=np.float64) for k, m in zip(keys, mats)}


def weight_arrays() -> dict[str, np.ndarray]:
    """Float64 weight matrices on the exact 1/256 dyadic grid."""
    return _arrays(QW1, QB1, QW2, QB2, QW3, QB3)


def weight_arrays_b() -> dict[str, np.ndarray]:
    """Model B ("bayes") float64 weight matrices, same dyadic grid."""
    return _arrays(QW1_B, QB1_B, QW2_B, QB2_B, QW3_B, QB3_B)


def forward_numpy(
    X: np.ndarray,
    w: dict[str, np.ndarray] | None = None,
    leaky: float = LEAKY,
) -> np.ndarray:
    """Exact forward pass (dollars). ``X`` is (n, 4) float64 holding
    the INTEGER feature values; ``w`` holds float64 matrices that are
    256× the dyadic weights (i.e. the integer numerators), as returned
    by :func:`weight_arrays`. ``leaky`` must itself be dyadic (the two
    deployed models use 0.25 and 0.5) to stay in the exact regime."""
    if w is None:
        w = weight_arrays()

    def layer(a: np.ndarray, wk: str, bk: str) -> np.ndarray:
        # (a @ Wq + Bq) / 256: integer-numerator matmul then one exact
        # power-of-two division
        return (a @ w[wk] + w[bk]) / QSCALE

    def act(z: np.ndarray) -> np.ndarray:
        a = np.where(z >= 0.0, z, leaky * z)
        # re-quantize to the 1/256 grid: caps fractional bits so every
        # later product stays exactly representable
        return np.floor(a * QSCALE) / QSCALE

    a1 = act(layer(X, "W1", "B1"))
    a2 = act(layer(a1, "W2", "B2"))
    return layer(a2, "W3", "B3").ravel()


def predict_cents(
    X: np.ndarray,
    w: dict[str, np.ndarray] | None = None,
    leaky: float = LEAKY,
) -> np.ndarray:
    """Edge-rounded integer-cents predictions (the oracle contract)."""
    return np.floor(forward_numpy(X, w, leaky) * 100.0 + 0.5).astype(np.int64)


# ---------------------------------------------------------------------------
# The one feature projection and the one scorer, shared by every served
# net (the trainer's feature frame reads the same projection)
# ---------------------------------------------------------------------------

FEATURES = ["x1", "x2", "x3", "x4"]


def _pct(c: str) -> Column:
    """``floor(c*100 + 0.5)`` as an exact long: integer cents of a
    price, integer percent of a rate."""
    return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")


def lineitem_features() -> list[Column]:
    """The net's four inputs ``FEATURES`` as exact longs (see the
    weights' header comment)."""
    return [
        F.floor(F.col("l_extendedprice") / 1000.0).cast("long").alias("x1"),
        _pct("l_discount").alias("x2"),
        _pct("l_tax").alias("x3"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("x4"),
    ]


def charge_e4() -> Column:
    """The invoice charge price*(1-disc)*(1+tax) in 1e-4-cent units, as
    the exact int64 product price_cents*(100-disc_pct)*(100+tax_pct)
    of integerized columns (≤ ~1.2e11)."""
    return (
        _pct("l_extendedprice")
        * (F.lit(100) - _pct("l_discount"))
        * (F.lit(100) + _pct("l_tax"))
    )


def score(
    feats: DataFrame,
    keep: list[str],
    predictors: dict[str, Callable[[np.ndarray], np.ndarray]],
) -> DataFrame:
    """THE scorer: one ``mapInPandas`` stage over ``feats`` (which holds
    ``FEATURES`` and ``keep``). Per Arrow batch, every predictor maps
    the (n, 4) float64 feature matrix to n integers; the output is the
    ``keep`` columns passed through plus one bigint column per
    predictor, in order. The predictors travel in the task closure,
    weights included (2–6 KB; measured at noise level against a
    broadcast, SCALE.md)."""
    import pandas as pd

    types = [f"{c} {feats.schema[c].dataType.simpleString()}" for c in keep]
    schema = ", ".join(types + [f"{p} long" for p in predictors])

    def run(batches):
        for pdf in batches:
            X = pdf[FEATURES].to_numpy(dtype=np.float64)
            out = {c: pdf[c] for c in keep}
            out.update((p, f(X)) for p, f in predictors.items())
            yield pd.DataFrame(out)

    return feats.select(*keep, *FEATURES).mapInPandas(run, schema)


def mlp_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every lineitem with the fixed-weights MLP.

    Plan shape: parquet scan (4 feature columns + key, pruned) ->
    JVM-side integerization (floor expressions, codegen) -> the ONE
    mapInPandas stage of :func:`score`, numpy matmuls per Arrow
    batch. Narrow pipeline end-to-end: zero shuffles, parallelism =
    input splits, so the operator scales linearly with executors at
    any SF. Why not a pure-expression net: see the module docstring.
    """
    w = weight_arrays()
    feats = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        *lineitem_features(),
    )
    return score(
        feats,
        ["l_orderkey", "l_linenumber"],
        {"pred_price_cents": lambda X: predict_cents(X, w)},
    )


# the oracle's twin of lineitem_features(), read by all three
# fixed-weight oracles
FEAT_COLS_SQL = """
    CAST(FLOOR(l_extendedprice / 1000.0) AS DOUBLE) AS x1,
    CAST(FLOOR(l_discount * 100 + 0.5) AS DOUBLE) AS x2,
    CAST(FLOOR(l_tax * 100 + 0.5) AS DOUBLE) AS x3,
    CAST(FLOOR(l_quantity + 0.5) AS DOUBLE) AS x4"""


def _affine_expr(prev_cols, W, B, out, j) -> str:
    """One hidden unit as a sum-of-products over the integer
    numerators, divided once by 256. ``256e0`` is a DOUBLE literal,
    so the division stays in exact IEEE math."""
    terms = " + ".join(f"{prev_cols[i]}*({W[i][j]})" for i in range(len(prev_cols)))
    return f"({terms} + ({B[j]})) / 256e0 AS {out}{j}"


def _act_expr(col, out, slope: str) -> str:
    """LeakyReLU + re-quantize to the 1/256 grid."""
    return (
        f"FLOOR((CASE WHEN {col} >= 0 THEN {col} "
        f"ELSE {slope}*{col} END) * 256e0) / 256e0 AS {out}"
    )


def _sql_net_ctes(
    p: str,
    W1, B1, W2, B2, W3, B3,
    slope: str,
    feat: str = "feat",
    keep: str = "l_orderkey, l_linenumber",
) -> tuple[str, str]:
    """Layer-by-layer CTE chain for ONE net from the SAME integer
    numerators the Spark scorer carries — one CTE per affine layer,
    one per activation, sum-of-products per hidden unit. Returns
    (cte_sql, final_cte_name); the final CTE exposes ``keep`` plus a
    ``y0`` dollars column. ``p`` prefixes every CTE/column so two
    nets can coexist in one query; ``slope`` is the (dyadic) leaky
    slope as a SQL literal."""
    h1, h2 = len(W1[0]), len(W2[0])
    xs = [f"x{i + 1}" for i in range(len(W1))]
    z1 = ",\n    ".join(_affine_expr(xs, W1, B1, f"{p}z1_", j) for j in range(h1))
    a1 = ",\n    ".join(_act_expr(f"{p}z1_{j}", f"{p}a1_{j}", slope) for j in range(h1))
    a1c = [f"{p}a1_{j}" for j in range(h1)]
    z2 = ",\n    ".join(_affine_expr(a1c, W2, B2, f"{p}z2_", j) for j in range(h2))
    a2 = ",\n    ".join(_act_expr(f"{p}z2_{j}", f"{p}a2_{j}", slope) for j in range(h2))
    a2c = [f"{p}a2_{j}" for j in range(h2)]
    y = _affine_expr(a2c, W3, B3, f"{p}y", 0)
    ctes = f"""
{p}zl1 AS (SELECT {keep}, {z1} FROM {feat}),
{p}al1 AS (SELECT {keep}, {a1} FROM {p}zl1),
{p}zl2 AS (SELECT {keep}, {z2} FROM {p}al1),
{p}al2 AS (SELECT {keep}, {a2} FROM {p}zl2),
{p}out AS (SELECT {keep}, {y.replace(f'AS {p}y0', f'AS y0')} FROM {p}al2)"""
    return ctes, f"{p}out"


def _sql_forward() -> str:
    ctes, final = _sql_net_ctes("", QW1, QB1, QW2, QB2, QW3, QB3, "0.25")
    return f"""
WITH feat AS (
  SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS l_linenumber,{FEAT_COLS_SQL}
  FROM lineitem
),{ctes}
SELECT l_orderkey, l_linenumber,
  CAST(FLOOR(y0 * 100.0 + 0.5) AS BIGINT) AS pred_price_cents
FROM {final}
"""


MLP_ORACLE = _sql_forward()


def mlp_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion-challenger evaluation of BOTH deployed regressors
    (grid-search-tuned vs Bayesian-opt-tuned — the reference ships
    exactly this pair of SavedModels) in ONE scan: each lineitem is
    scored by both nets inside the same ``mapInPandas`` batch, the
    actual invoice charge rides along as an exact integer, and the
    per-model error rollup (n, RMSE, MAE, signed bias) comes out of
    one map-side-combinable aggregate over a 2-value key.

    Exactness: the actual charge price*(1-disc)*(1+tax) is computed
    as price_cents*(100-disc_pct)*(100+tax_pct) — pure int64 products
    of integerized columns (≤ ~1.2e11), so "actual" is bit-identical
    cross-engine with no float parsing involved; diffs are integers
    in 1e-4-cent units; SSE/SAE accumulate in decimal(38,0) (DuckDB
    HUGEINT) and doubles appear only in the final rounded divide.
    Scale: identical to :func:`mlp_batch_inference` — narrow pipeline,
    zero shuffles before the 2-row aggregate; scoring two nets costs
    two matmul stacks over the same Arrow batch, not two scans.
    """
    wg, wb = weight_arrays(), weight_arrays_b()
    feats = load_table(spark, "lineitem", sf_dir).select(
        charge_e4().alias("charge_e4"), *lineitem_features()
    )
    scored = score(
        feats,
        ["charge_e4"],
        {
            "pred_grid": lambda X: predict_cents(X, wg, LEAKY),
            "pred_bayes": lambda X: predict_cents(X, wb, LEAKY_B),
        },
    )
    diff = scored.select(
        F.expr(
            "stack(2, 'bayes', pred_bayes, 'grid', pred_grid) AS (model, pred_cents)"
        ),
        "charge_e4",
    ).select(
        "model", (F.col("pred_cents") * 10000 - F.col("charge_e4")).alias("d_e4")
    )
    dd = F.col("d_e4").cast("decimal(38,0)")
    agg = diff.groupBy("model").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dd * dd).alias("sse"),
        F.sum(F.abs(dd)).alias("sae"),
        F.sum(dd).alias("sd"),
    )
    to_cents = lambda c: c.cast("double") / F.col("n") / 10000.0
    return agg.select(
        "model",
        F.col("n").cast("long").alias("n"),
        F.round(F.sqrt(F.col("sse").cast("double") / F.col("n")) / 10000.0, 2).alias(
            "rmse_cents"
        ),
        F.round(to_cents(F.col("sae")), 2).alias("mae_cents"),
        F.round(to_cents(F.col("sd")), 2).alias("bias_cents"),
    ).orderBy("model")


def _sql_compare() -> str:
    a_ctes, a_final = _sql_net_ctes(
        "g_", QW1, QB1, QW2, QB2, QW3, QB3, "0.25", keep="rid, charge_e4"
    )
    b_ctes, b_final = _sql_net_ctes(
        "b_", QW1_B, QB1_B, QW2_B, QB2_B, QW3_B, QB3_B, "0.5", keep="rid, charge_e4"
    )
    return f"""
WITH feat AS (
  SELECT
    ROW_NUMBER() OVER () AS rid,
    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
      * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
      * (100 + CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT)) AS charge_e4,{FEAT_COLS_SQL}
  FROM lineitem
),{a_ctes},{b_ctes},
diffs AS (
  SELECT 'grid' AS model,
    CAST(FLOOR(y0 * 100.0 + 0.5) AS BIGINT) * 10000 - charge_e4 AS d_e4
  FROM {a_final}
  UNION ALL
  SELECT 'bayes' AS model,
    CAST(FLOOR(y0 * 100.0 + 0.5) AS BIGINT) * 10000 - charge_e4 AS d_e4
  FROM {b_final}
)
SELECT model,
  CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(sqrt(CAST(SUM(CAST(d_e4 AS HUGEINT) * d_e4) AS DOUBLE) / COUNT(*))
    / 10000.0, 2) AS rmse_cents,
  ROUND(CAST(SUM(ABS(CAST(d_e4 AS HUGEINT))) AS DOUBLE) / COUNT(*) / 10000.0, 2)
    AS mae_cents,
  ROUND(CAST(SUM(CAST(d_e4 AS HUGEINT)) AS DOUBLE) / COUNT(*) / 10000.0, 2)
    AS bias_cents
FROM diffs
GROUP BY model
ORDER BY model
"""

MLP_COMPARE_ORACLE = _sql_compare()


# ---------------------------------------------------------------------------
# Serving-side model monitoring: decile calibration / lift table
# ---------------------------------------------------------------------------

# Shared readout expressions (identical text in F.expr and oracle SQL):
# 2-dp cent averages and a 6-dp cumulative gain share, all via the
# repo's floor(x·scale + 0.5) edge discipline (FLOOR agrees across
# engines where ROUND's half-boundary may not; integer `div` is out
# because Spark truncates toward zero and DuckDB floors on negatives).
CAL_AVG_PRED = "floor(sp / cast(n as double) * 100 + 0.5) / 100"
CAL_AVG_ACTUAL = "floor(sa / cast(n as double) * 100 + 0.5) / 100"
CAL_BIAS = "floor((sp - sa) / cast(n as double) * 100 + 0.5) / 100"
CAL_GAIN = "floor(ca / cast(ta as double) * 1e6 + 0.5) / 1e6"


def mlp_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile calibration + lift table for the champion regressor —
    the monitoring readout a serving deployment runs next to
    :func:`mlp_batch_inference`: rank every scored lineitem by
    predicted cents, cut exact global deciles, and report per decile
    the mean prediction vs the mean realized price (calibration),
    their gap (bias), and the cumulative share of realized revenue
    captured (the gains curve — decile 1's share is the 'lift' a
    targeting use of the model would earn).

    Everything stays in the dyadic-exact regime: predictions are the
    bit-exact integer cents of the quantized net, actuals are
    edge-floored cents, per-decile stats are integer sums with ONE
    shared floor-disciplined division at the emit edge.

    Scale: scoring is the same zero-shuffle mapInPandas pipeline as
    the inference entry; the global decile cut uses
    :func:`with_global_ntile` (range-partitioned two-stage rank —
    never a single-partition window over the corpus); the per-decile
    rollup is map-side combinable and the cumulative window runs on
    10 rows.
    """
    from backend_model_spark.operators.scale_utils import with_global_ntile

    w = weight_arrays()
    feats = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        _pct("l_extendedprice").alias("actual_cents"),
        *lineitem_features(),
    )
    scored = score(
        feats,
        ["l_orderkey", "l_linenumber", "actual_cents"],
        {"pred_cents": lambda X: predict_cents(X, w)},
    )
    tiled = with_global_ntile(
        # the range partitioner's sampling pass would otherwise run the
        # mapInPandas scorer a SECOND time over the full corpus (guide
        # §2.3/§4: the Python boundary is the expensive stage — pay it
        # once); the checkpoint pins the scored frame before sampling
        scored.localCheckpoint(eager=False),
        10,
        [
            F.col("pred_cents").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        "decile",
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pred_cents").cast("bigint").alias("sp"),
        F.sum("actual_cents").cast("bigint").alias("sa"),
    )
    from backend_model_spark.operators.scale_utils import with_global_rank

    # cumulative + grand-total via the two-stage global-rank primitive;
    # ``parts=1`` because the per-decile rollup is exactly ≤10 rows by
    # construction — the single partition is O(1) at any corpus size
    cum = with_global_rank(
        per,
        [F.col("decile").asc()],
        "__rk",
        prefix_sum=("sa", "ca"),
        grand_total=("sa", "ta"),
        parts=1,
    ).drop("__rk")
    return (
        cum.withColumn("ca", F.col("ca").cast("bigint"))
        .withColumn("ta", F.col("ta").cast("bigint"))
        .select(
            "decile",
            "n",
            F.expr(CAL_AVG_PRED).alias("avg_pred_cents"),
            F.expr(CAL_AVG_ACTUAL).alias("avg_actual_cents"),
            F.expr(CAL_BIAS).alias("bias_cents"),
            F.expr(CAL_GAIN).alias("cum_revenue_share"),
        )
        .orderBy("decile")
    )


def _sql_calibration() -> str:
    feat = f"""
  SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS l_linenumber,
    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS actual_cents,{FEAT_COLS_SQL}
  FROM lineitem
"""
    ctes, final = _sql_net_ctes(
        "",
        QW1, QB1, QW2, QB2, QW3, QB3,
        "0.25",
        keep="l_orderkey, l_linenumber, actual_cents",
    )
    return f"""
WITH feat AS ({feat}),{ctes},
scored AS (
  SELECT l_orderkey, l_linenumber, actual_cents,
    CAST(FLOOR(y0 * 100.0 + 0.5) AS BIGINT) AS pred_cents
  FROM {final}
),
tiled AS (
  SELECT *, CAST(NTILE(10) OVER (
    ORDER BY pred_cents DESC, l_orderkey, l_linenumber
  ) AS INTEGER) AS decile
  FROM scored
),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(pred_cents) AS BIGINT) AS sp,
    CAST(SUM(actual_cents) AS BIGINT) AS sa
  FROM tiled GROUP BY decile
),
cum AS (
  SELECT *,
    CAST(SUM(sa) OVER (ORDER BY decile
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
    CAST(SUM(sa) OVER () AS BIGINT) AS ta
  FROM per
)
SELECT decile, n,
  {CAL_AVG_PRED} AS avg_pred_cents,
  {CAL_AVG_ACTUAL} AS avg_actual_cents,
  {CAL_BIAS} AS bias_cents,
  {CAL_GAIN} AS cum_revenue_share
FROM cum
ORDER BY decile
"""


MLP_CALIBRATION_ORACLE = _sql_calibration()
