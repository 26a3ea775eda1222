"""In-engine distributed training of the reference's FCFF net.

The reference's central artifact is a pair of *trained* Keras FCFF
price regressors (/root/reference/brute_force_grid_search_model/ and
bayesian_optimization_model/ — the training notebook itself is the
repo's missing large blob, .MISSING_LARGE_BLOBS:1).  Rounds 4–9 served
those nets bit-exactly (ml/mlp.py) but trained them OFFLINE in
single-node numpy (scripts/train_mlp.py).  This module closes the last
reference-capability gap (round-9 verdict ask #1): the net is trained
IN-ENGINE, data-parallel, with the proven sufficient-statistic shape of
``ml_logistic_irls`` (operators/ml_queries.py) — per step the
executors reduce the batch gradient as ONE map-side pass; the driver
applies the update to a tiny weight vector and broadcasts it into the
next step.  The driver never sees rows — only the ~P+2 sufficient
statistics per step.

ONE trainer loop (:func:`_descend`): every epoch runs the
content-addressed batches 0..NB-1 in fixed order, one optimizer step
per non-empty batch, then one trailing full-batch evaluation.  Batch
membership is ``h % NB`` where ``h`` is the first 32 md5 bits of the
row's exact integer tuple — a pure function of the data, no RNG, no
partitioning dependence.  Full-batch GD/Adam is ``num_batches=1``;
mini-batch SGD reads every row once per epoch across its NB
reductions but applies NB updates instead of 1.  The distributed
trainer and its serial numpy twin differ only in the reduction they
hand the loop.

Plan shape per step: persisted integer feature frame -> (batch
filter) -> mapInPandas (numpy forward+backward per Arrow batch,
per-row gradient contributions QUANTIZED then summed per batch) ->
posexplode -> groupBy(pos).sum — one tiny shuffle of #batches × (P+2)
doubles -> P+2 scalars to the driver.  At 100 TB this is the standard
data-parallel step: narrow scan + a reduction whose width is the
PARAMETER count, not the row count; parallelism = input splits; the
weights broadcast (~KB).

DETERMINISM BY CONSTRUCTION (the property the certificate oracle and
the serial-parity test pin):

1.  Per-row math is batch-size independent.  The forward/backward pass
    uses ONLY elementwise numpy ops plus :func:`_matmul_det`, an
    explicit fixed-k-order accumulation — never BLAS ``@`` — so a row
    produces bit-identical contributions whether it sits in a 10k-row
    Arrow batch or alone.  (BLAS gemm may change blocking, and hence
    rounding, with the batch row count.)
2.  Cross-partition sums are EXACT.  Each row's gradient/loss
    contribution is clipped to ±2^10 and floored onto a dyadic
    2^-qg grid; ``qg`` is chosen from the row count n so that
    n · 2^10 · 2^qg < 2^52, hence every partial sum of the quantized
    values is exactly representable in float64 and addition order —
    batching, partitioning, shuffle arrival order — is irrelevant.
3.  Standardization moments are exact integers.  The features and the
    integer-dollar target are summed as int64/decimal(38,0) (never
    floats), so mu/sd/ym/ys are identical on every engine.
4.  Weight init is md5-derived (:func:`_md5_unit`) — no RNG library
    stream dependency — and weights live on the 2^-16 grid.

Together: the full weight trajectory is a pure function of (rows,
hyperparameters), reproducible across partitionings, schedulers and
engines.  tests/test_train_distributed.py holds the distributed fit
bit-equal to the serial numpy twin on the same rows, and the
registered entries pin the final quantized-weight md5 checksums in
their DuckDB oracles as literals (scripts/pin_arch_search.py prints
them).
"""

from __future__ import annotations

import hashlib
import inspect
import math

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_model_spark.memo import memo
from backend_model_spark.ml.mlp import FEATURES, charge_e4, lineitem_features, score
from backend_model_spark.sources.tables import load_table

WG = float(1 << 16)   # weight grid (16 fractional bits); exact int->float
CLIP = float(1 << 10)  # per-row contribution clip (rarely active; bounds sums)

# registered-entry architecture + schedule (the "grid" net's little
# sibling: big enough to be a real 2-hidden-layer fit, small enough
# that 16 epochs × one pass each stays a sub-minute driver entry)
TRAIN_H1 = 8
TRAIN_H2 = 4
TRAIN_LEAKY = 0.25
TRAIN_LR = 0.15  # monotone-decrease margin measured: mono up to ≥0.2, diverges by 0.3
TRAIN_EPOCHS = 16

# mini-batch schedule (round 11): same scan I/O per epoch as full GD,
# 8 updates per epoch instead of 1
MB_NUM_BATCHES = 8
MB_EPOCHS = 8
MB_LR = 0.15  # same stable step as full GD; 8x8=64 updates vs GD's 8


def _md5_unit(tag: str) -> float:
    """Deterministic pseudo-uniform in [-1, 1): 48 md5 bits scaled.
    Engine- and library-version-independent (md5 is spec-fixed),
    unlike an RNG stream."""
    h = int(hashlib.md5(tag.encode()).hexdigest()[:12], 16)
    return h / float(1 << 47) - 1.0


def _init_weights(h1: int, h2: int, tag: str) -> list[np.ndarray]:
    """He-scaled md5 init on the 2^-16 weight grid; zero biases.
    Returns [W1, b1, W2, b2, W3, b3]."""
    out: list[np.ndarray] = []
    for li, (a, b) in enumerate([(4, h1), (h1, h2), (h2, 1)], start=1):
        scale = math.sqrt(2.0 / a)
        w = np.array(
            [
                [_md5_unit(f"{tag}:W{li}:{i}:{j}") * scale for j in range(b)]
                for i in range(a)
            ],
            dtype=np.float64,
        )
        out.append(np.floor(w * WG + 0.5) / WG)
        out.append(np.zeros(b, dtype=np.float64))
    return out


def _matmul_det(a: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Batch-size-independent matmul: explicit fixed-k-order
    accumulation with elementwise ops only (see module docstring #1).
    Cost is h_in × h_out vector ops — fine for these tiny nets."""
    n = a.shape[0]
    out = np.empty((n, w.shape[1]), dtype=np.float64)
    for j in range(w.shape[1]):
        acc = np.zeros(n, dtype=np.float64)
        for i in range(w.shape[0]):
            acc = acc + a[:, i] * w[i, j]
        out[:, j] = acc
    return out


def _quant(v: np.ndarray, qg: float) -> np.ndarray:
    """Clip + floor onto the dyadic 1/qg grid — after this, sums are
    exact in any order (module docstring #2)."""
    return np.floor(np.clip(v, -CLIP, CLIP) * qg) / qg


def _forward(xs: np.ndarray, wts: list[np.ndarray], leaky: float) -> tuple:
    """The net on standardized features: (z1, a1, z2, a2, pred), pred
    on the normalized target scale. Shared by training and serving."""
    w1, b1, w2, b2, w3, b3 = wts
    z1 = _matmul_det(xs, w1) + b1
    a1 = np.where(z1 >= 0.0, z1, leaky * z1)
    z2 = _matmul_det(a1, w2) + b2
    a2 = np.where(z2 >= 0.0, z2, leaky * z2)
    return z1, a1, z2, a2, (_matmul_det(a2, w3) + b3).ravel()


def _epoch_sums(
    xs: np.ndarray, yn: np.ndarray, wts: list[np.ndarray], leaky: float, qg: float
) -> np.ndarray:
    """One batch's sufficient statistics: the QUANTIZED per-row
    gradient contributions summed, plus the quantized per-row squared
    errors summed and the row count.  Returns a flat float64 vector
    [grad_W1.., grad_b1.., grad_W2.., grad_b2.., grad_W3.., grad_b3..,
    loss_sum, n] — exactly addable across batches/partitions.
    The 2/n loss scaling is applied driver-side."""
    w2, w3 = wts[2], wts[4]
    z1, a1, z2, a2, pred = _forward(xs, wts, leaky)
    err = pred - yn

    g = err[:, None]                                   # n×1   dL/dpred (unscaled)
    g2 = (g * w3.ravel()[None, :]) * np.where(z2 >= 0.0, 1.0, leaky)   # n×h2
    g1 = _matmul_det(g2, w2.T) * np.where(z1 >= 0.0, 1.0, leaky)       # n×h1

    parts = [
        (xs[:, :, None] * g1[:, None, :]).reshape(len(err), -1),  # gW1
        g1,                                                       # gb1
        (a1[:, :, None] * g2[:, None, :]).reshape(len(err), -1),  # gW2
        g2,                                                       # gb2
        (a2[:, :, None] * g[:, None, :]).reshape(len(err), -1),   # gW3
        g,                                                        # gb3
    ]
    flat = np.concatenate(parts, axis=1)
    sums = _quant(flat, qg).sum(axis=0)
    loss = _quant(err * err, qg).sum()
    return np.concatenate([sums, [loss, float(len(err))]])


def _unflatten(flat: np.ndarray, h1: int, h2: int) -> list[np.ndarray]:
    shapes = [(4, h1), (h1,), (h1, h2), (h2,), (h2, 1), (1,)]
    out, off = [], 0
    for s in shapes:
        k = int(np.prod(s))
        out.append(flat[off : off + k].reshape(s))
        off += k
    return out


ADAM_B1 = 0.9
ADAM_B2 = 0.999
ADAM_EPS = 1e-8
ADAM_LR = 0.1  # measured: beats GD 0.029-vs-0.071 (sf0.01) and 0.032-vs-0.070 (sf0.001)


class _Optimizer:
    """Driver-side update rule on the EXACT summed gradients. ANY rule
    preserves the determinism guarantee, because it consumes only the
    order-independent dyadic sums and runs as a fixed sequence of
    float64 ops on the driver. ``gd`` reproduces the original
    full-batch descent bit-for-bit (same arithmetic order as the
    round-10 pinned checksums); ``adam`` is Kingma–Ba Adam with bias
    correction — the reference's own optimizer (both SavedModels'
    keras_metadata record ``Adam(lr=1e-3)``). Bias-correction powers
    are kept as running products (b1t, b2t), not pow()."""

    def __init__(self, opt: str, lr: float):
        if opt not in ("gd", "adam"):
            raise ValueError(f"unknown optimizer {opt!r}")
        self.opt, self.lr = opt, lr
        self.m: np.ndarray | None = None
        self.v: np.ndarray | None = None
        self.b1t = 1.0
        self.b2t = 1.0

    def step(
        self, wts: list[np.ndarray], sums: np.ndarray, n: float, h1: int, h2: int
    ) -> list[np.ndarray]:
        if self.opt == "gd":
            # EXACT legacy arithmetic: (lr·2/n) · ΣG, elementwise
            upd = (self.lr * 2.0 / n) * sums
        else:
            g = sums * (2.0 / n)
            if self.m is None:
                self.m = np.zeros_like(g)
                self.v = np.zeros_like(g)
            self.m = ADAM_B1 * self.m + (1.0 - ADAM_B1) * g
            self.v = ADAM_B2 * self.v + (1.0 - ADAM_B2) * (g * g)
            self.b1t *= ADAM_B1
            self.b2t *= ADAM_B2
            mh = self.m / (1.0 - self.b1t)
            vh = self.v / (1.0 - self.b2t)
            upd = self.lr * mh / (np.sqrt(vh) + ADAM_EPS)
        flat = np.concatenate([np.ravel(w) for w in wts]) - upd
        return [
            np.floor(w * WG + 0.5) / WG for w in _unflatten(flat, h1, h2)
        ]


def _qg_bits(n: int) -> int:
    """Grid resolution: the largest qg with n · CLIP · qg < 2^52
    (so cross-partition sums stay exact), capped at 2^20. Beyond
    n = 2^34 rows no grid ≥ 2^8 satisfies the bound — the trainer
    REFUSES rather than silently losing the order-independence
    guarantee (shrink CLIP or shard the epoch to go bigger)."""
    bits = min(20, 52 - 10 - int(math.ceil(math.log2(max(n, 2)))))
    if bits < 8:
        raise ValueError(
            f"n={n} exceeds the exact-summation budget "
            "(n · 2^10 · 2^8 ≥ 2^52): shrink CLIP or shard the epoch"
        )
    return bits


def _descend(
    reduce, h1: int, h2: int, init_tag: str, opt: str, lr: float,
    epochs: int, num_batches: int,
) -> tuple[list[np.ndarray], list[float]]:
    """THE trainer loop. ``reduce(wts, b)`` returns the exact summed
    statistics (see :func:`_epoch_sums`) of batch ``b``, or of every
    row when ``b`` is None. Per epoch, batches 0..NB-1 in fixed order,
    each one optimizer step scaled by that batch's row count; an empty
    batch is skipped.

    Returns (final weights, losses): per epoch the STREAMED loss (every
    row scored once, each at the weights current when its batch ran),
    then one trailing full-batch loss at the final weights. With one
    batch the streamed loss is the full-batch loss before the step."""
    wts = _init_weights(h1, h2, init_tag)
    optimizer = _Optimizer(opt, lr)
    losses: list[float] = []
    for _ in range(epochs):
        loss_sum, seen = 0.0, 0.0
        for b in range(num_batches):
            vec = reduce(wts, None if num_batches == 1 else b)
            if vec[-1] == 0:
                continue
            loss_sum += vec[-2]
            seen += vec[-1]
            wts = optimizer.step(wts, vec[:-2], vec[-1], h1, h2)
        losses.append(float(loss_sum / seen))
    vec = reduce(wts, None)
    losses.append(float(vec[-2] / vec[-1]))
    return wts, losses


def _mu_sd(n: int, s: int, q: int) -> tuple[float, float]:
    """Population mean and sd from the exact integer sum and sum of
    squares (module docstring #3)."""
    mu = s / n
    var = q / n - mu * mu
    return mu, math.sqrt(var) if var > 0 else 1.0


def _standardize_x(x: np.ndarray, m: dict) -> np.ndarray:
    """Features standardized under moments ``m``."""
    mus = np.array([m[c][0] for c in FEATURES])
    sds = np.array([m[c][1] for c in FEATURES])
    return (x - mus) / sds


def _standardize(x: np.ndarray, y: np.ndarray, m: dict) -> tuple:
    """(standardized features, normalized target) under moments ``m``."""
    ym, ys = m["y"]
    return _standardize_x(x, m), (y - ym) / ys


# ---------------------------------------------------------------------------
# Distributed trainer
# ---------------------------------------------------------------------------


def _feature_frame(
    spark: SparkSession, sf_dir: str, row_filter: str | None = None
) -> DataFrame:
    """Integer features + integer-dollar target, all exact: the serving
    net's 4 features (ml/mlp.py ``lineitem_features``) and the Q1-style
    invoice charge (ml/mlp.py ``charge_e4``; see the weights' header
    there for why the literal predict-price task is unlearnable on
    this data),
    plus the row's content hash ``h``: the first 32 md5 bits of the
    comma-joined exact integers, so batch ``b`` of NB is ``h % NB == b``
    in Spark SQL and in the serial twin alike.

    ``row_filter`` (round 11): an optional SQL predicate over raw
    lineitem columns, applied BEFORE projection — the hook the
    content-addressed tuning subsample rides (arch_search
    TUNE_SUB_FILTER). Deterministic filters only: the trainer's
    bit-reproducibility contract is a pure function of the filtered
    row set."""
    li = load_table(spark, "lineitem", sf_dir)
    if row_filter is not None:
        li = li.filter(F.expr(row_filter))
    feats = li.select(
        *lineitem_features(),
        F.floor(charge_e4() / F.lit(1e6) + F.lit(0.5)).cast("long").alias("y"),
    )
    tup = F.concat_ws(",", *[F.col(c).cast("string") for c in FEATURES + ["y"]])
    return feats.withColumn(
        "h", F.conv(F.substring(F.md5(tup), 1, 8), 16, 10).cast("long")
    )


def _exact_moments(feats: DataFrame) -> dict:
    """n, per-column mu/sd from EXACT integer sums (int64 / decimal —
    module docstring #3).  decimal(38,0) keeps Σy² exact out to
    ~1e28, i.e. well past 100 TB row counts."""
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in FEATURES + ["y"]:
        aggs.append(F.sum(F.col(c)).cast(dec).alias(f"s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast(dec)).alias(f"q_{c}"))
    row = feats.agg(*aggs).collect()[0]
    n = int(row["n"])
    out = {"n": n}
    for c in FEATURES + ["y"]:
        out[c] = _mu_sd(n, int(row[f"s_{c}"]), int(row[f"q_{c}"]))
    return out


def _feats_and_moments(
    spark: SparkSession, sf_dir: str, row_filter: str | None = None
):
    """(persisted feature frame, exact moments), memoized per
    (application, sf_dir, row_filter): one ~MB-scale cached frame per
    corpus, shared by every fit — full-batch, mini-batch and every
    architecture-search trial — and by train-then-serve's scoring."""

    def build():
        # balance the cached partitions ONCE before the many epoch
        # scans: a single skewed input split (measured at sf1 — one
        # 28-task stage ran 27 fast + 1 long straggler EVERY epoch)
        # otherwise serializes each epoch on one python worker. One
        # narrow shuffle at persist time; the trajectory is
        # partition-independent by construction, so this is purely a
        # wall-clock fix.
        feats = (
            _feature_frame(spark, sf_dir, row_filter)
            .repartition(spark.sparkContext.defaultParallelism)
            .persist()
        )
        return feats, _exact_moments(feats)

    return memo(spark, ("mlp.feats", sf_dir, row_filter), build)


def _reduce_sums(
    df: DataFrame, wts: list[np.ndarray], leaky: float, qg: float, m: dict
) -> np.ndarray:
    """One exact reduction over ``df``: broadcast weights, mapInPandas
    per-batch quantized sufficient statistics over the projected
    features and target, posexplode + groupBy(pos).sum (reduction
    width = parameter count, never rows)."""
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast([w.tolist() for w in wts])

    def part(batches):
        wl = [np.asarray(w, dtype=np.float64) for w in bc.value]
        for pdf in batches:
            xs, yn = _standardize(
                pdf[FEATURES].to_numpy(dtype=np.float64),
                pdf["y"].to_numpy(dtype=np.float64),
                m,
            )
            yield pd.DataFrame({"s": [_epoch_sums(xs, yn, wl, leaky, qg).tolist()]})

    red = (
        df.select(*FEATURES, "y")
        .mapInPandas(part, "s array<double>")
        .select(F.posexplode("s"))
        .groupBy("pos")
        .agg(F.sum("col").alias("v"))
        .collect()
    )
    bc.destroy()
    # an EMPTY df (a content-addressed batch that matched no rows on
    # some corpus) yields zero reduction rows — return all-zero sums
    # of the full width so the loop's empty-batch skip fires
    vec = np.zeros(sum(w.size for w in wts) + 2)
    for r in red:
        vec[r["pos"]] = r["v"]
    return vec


def train_distributed(
    spark: SparkSession,
    sf_dir: str,
    h1: int = TRAIN_H1,
    h2: int = TRAIN_H2,
    leaky: float = TRAIN_LEAKY,
    lr: float = TRAIN_LR,
    epochs: int = TRAIN_EPOCHS,
    init_tag: str = "fcff-v1",
    opt: str = "gd",
    row_filter: str | None = None,
    num_batches: int = 1,
) -> tuple[list[np.ndarray], list[float], dict]:
    """Data-parallel training on the standardized regression — update
    rule ``opt`` ('gd' or 'adam', see :class:`_Optimizer`) over
    ``num_batches`` content-addressed batches per epoch (1 = full
    batch); ``row_filter`` restricts the scans to a deterministic
    SQL-predicate subset (see :func:`_feature_frame`).

    Returns (final weights on the 2^-16 grid, normalized-MSE losses as
    :func:`_descend` defines them — len epochs+1, exact-moment dict).
    Deterministic: see module docstring."""
    feats, m = _feats_and_moments(spark, sf_dir, row_filter)
    qg = float(1 << _qg_bits(m["n"]))

    def reduce(wts, b):
        rows = feats if b is None else feats.filter(F.col("h") % num_batches == b)
        return _reduce_sums(rows, wts, leaky, qg, m)

    wts, losses = _descend(reduce, h1, h2, init_tag, opt, lr, epochs, num_batches)
    return wts, losses, m


def fit(spark: SparkSession, sf_dir: str, **hp):
    """(wts, losses, moments) of ``train_distributed(spark, sf_dir,
    **hp)``: ONE fit per application and hyperparameter set, keyed
    with the defaults bound so every spelling of the same fit shares
    it — the registered trainers, train-then-serve and every tuning
    trial (the fit is deterministic; the registry plan sweep
    constructs entries repeatedly)."""
    args = inspect.signature(train_distributed).bind(spark, sf_dir, **hp)
    args.apply_defaults()
    key = tuple(args.arguments.items())[1:]  # all but the session
    return memo(spark, ("mlp.fit", *key), lambda: train_distributed(spark, sf_dir, **hp))


# ---------------------------------------------------------------------------
# Serial numpy twin — the parity witness (reads the parquet directly,
# no Spark): must produce BIT-IDENTICAL weights and losses.
# ---------------------------------------------------------------------------


def load_xy_serial(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """The same exact integer features/target as :func:`_feature_frame`,
    via pyarrow + numpy (identical IEEE ops)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_quantity", "l_discount", "l_tax", "l_extendedprice"],
    )
    price = t["l_extendedprice"].to_numpy().astype(np.float64)
    disc = t["l_discount"].to_numpy().astype(np.float64)
    tax = t["l_tax"].to_numpy().astype(np.float64)
    qty = t["l_quantity"].to_numpy().astype(np.float64)
    pc = np.floor(price * 100 + 0.5).astype(np.int64)
    dp = np.floor(disc * 100 + 0.5).astype(np.int64)
    tp = np.floor(tax * 100 + 0.5).astype(np.int64)
    charge_e4 = pc * (100 - dp) * (100 + tp)
    x = np.stack(
        [
            np.floor(price / 1000.0),
            dp.astype(np.float64),
            tp.astype(np.float64),
            np.floor(qty + 0.5),
        ],
        axis=1,
    )
    y = np.floor(charge_e4.astype(np.float64) / 1e6 + 0.5)
    return x, y


def train_serial(
    sf_dir: str,
    h1: int = TRAIN_H1,
    h2: int = TRAIN_H2,
    leaky: float = TRAIN_LEAKY,
    lr: float = TRAIN_LR,
    epochs: int = TRAIN_EPOCHS,
    init_tag: str = "fcff-v1",
    opt: str = "gd",
    num_batches: int = 1,
) -> tuple[list[np.ndarray], list[float]]:
    """Single-process twin of :func:`train_distributed` on the same
    rows — the same loop over in-memory arrays, so identical IF (and
    only if) the distributed sums really are order-independent; the
    parity test holds the two bit-equal."""
    x, y = load_xy_serial(sf_dir)
    n = len(y)
    xy = np.concatenate([x, y[:, None]], axis=1).astype(np.int64)
    m = {"n": n}
    for c, v in zip(FEATURES + ["y"], xy.T):
        m[c] = _mu_sd(n, int(v.sum()), int((v * v).sum()))
    qg = float(1 << _qg_bits(n))
    xs, yn = _standardize(x, y, m)
    # the frame's h column, row by row; only batching reads it
    h = None if num_batches == 1 else np.array(
        [
            int(hashlib.md5(",".join(map(str, r)).encode()).hexdigest()[:8], 16)
            for r in xy.tolist()
        ]
    )

    def reduce(wts, b):
        sel = slice(None) if b is None else h % num_batches == b
        return _epoch_sums(xs[sel], yn[sel], wts, leaky, qg)

    return _descend(reduce, h1, h2, init_tag, opt, lr, epochs, num_batches)


def weight_checksum(wts: list[np.ndarray]) -> int:
    """md5 of the comma-joined integer numerators (weights × 2^16) —
    the pinned-literal certificate of the exact final weights."""
    nums = ",".join(
        str(int(round(v * WG))) for w in wts for v in np.ravel(w)
    )
    return int(hashlib.md5(nums.encode()).hexdigest()[:12], 16)


# ---------------------------------------------------------------------------
# Registered entries
# ---------------------------------------------------------------------------


def mlp_train_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED face of :func:`train_distributed` — the reference's
    model-FITTING step (its SavedModels are trained artifacts;
    training notebook = .MISSING_LARGE_BLOBS:1) as an in-engine Spark
    capability, closing round-9 verdict ask #1.

    Hashed row (full DuckDB oracle, every value either recomputed by
    SQL or deterministic-by-construction and pinned as a literal):

    - ``n``: row count — the oracle recomputes COUNT(*) FROM lineitem.
    - ``epochs``: the fixed schedule.
    - ``loss_monotone``: full-batch loss STRICTLY decreased on every
      one of the 16 epochs (measured margin: monotone holds to lr≥0.2,
      diverges by 0.3 — the schedule sits at 0.15).
    - ``beats_mean``: final normalized MSE < 1.0, i.e. the trained net
      beats the predict-the-mean baseline (exactly 1.0 under the
      population standardization).
    - ``loss_first_q``/``loss_final_q``: the 1e-6-quantized first and
      final losses, pinned literals — the first certifies the exact
      integer-moment standardization + md5 init, the final the whole
      16-epoch trajectory.
    - ``weight_checksum``: md5 of the final quantized weight integers,
      pinned literal — bit-level certificate that the distributed
      training (any partitioning, any batch boundaries) reproduces
      the exact serial trajectory; tests/test_train_distributed.py
      additionally holds the full weight arrays bit-equal to the
      serial numpy twin.

    Scale: per epoch ONE narrow scan (persisted frame) + a shuffle of
    #batches × (P+2) doubles reduced to P+2 scalars — reduction width
    is the parameter count, never the row count; weights broadcast
    per epoch (~KB). The exactness budget (n·2^10·qg < 2^52) is
    auto-adapted to n by :func:`_qg_bits`, so the order-independence
    guarantee survives any corpus size.
    """
    wts, losses, m = fit(spark, sf_dir)
    mono = all(losses[i + 1] < losses[i] for i in range(len(losses) - 1))
    row = (
        int(m["n"]),
        TRAIN_EPOCHS,
        bool(mono),
        bool(losses[-1] < 1.0),
        int(math.floor(losses[0] * 1e6 + 0.5)),
        int(math.floor(losses[-1] * 1e6 + 0.5)),
        int(weight_checksum(wts)),
    )
    return spark.createDataFrame(
        [row],
        "n bigint, epochs int, loss_monotone boolean, beats_mean boolean, "
        "loss_first_q bigint, loss_final_q bigint, weight_checksum bigint",
    )


# pinned literals from the serial twin for BOTH checked scales (the
# driver compares at sf0.01, tests/test_oracle_parity.py at sf0.001);
# any other corpus yields NULL and fails loudly rather than
# false-greening. Every trainer literal in this module is printed by
# scripts/pin_arch_search.py.
MLP_TRAIN_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(16 AS INTEGER) AS epochs,
  TRUE AS loss_monotone,
  TRUE AS beats_mean,
  CAST(CASE COUNT(*) WHEN 60000 THEN 883312 WHEN 6000 THEN 886538 END
    AS BIGINT) AS loss_first_q,
  CAST(CASE COUNT(*) WHEN 60000 THEN 70937 WHEN 6000 THEN 69824 END
    AS BIGINT) AS loss_final_q,
  CAST(CASE COUNT(*) WHEN 60000 THEN 21230988351047
    WHEN 6000 THEN 170915100097607 END AS BIGINT) AS weight_checksum
FROM lineitem
"""


def mlp_train_then_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full model LIFECYCLE in one engine job: the
    in-engine-trained weights (:func:`train_distributed`, one cached
    fit per application) deployed through ml/mlp.py's one scorer — a
    zero-shuffle mapInPandas pass with the weights in its closure —
    and evaluated with exact integer error sums.

    Per row: the deterministic forward pass (the training
    :func:`_forward`, same no-BLAS math) on standardized features,
    de-normalized to dollars, edge-rounded to integer cents; the
    actual is the integer-dollar target × 100, computed in the JVM.
    Errors are int64 cents, SSE accumulates in decimal(38,0), so the
    rollup is exact and the RMSE/MAE/bias literals pin the trained
    model's deployed accuracy. ``serve_matches_train``: the
    serving-side MSE (cents, re-normalized) reproduces the trainer's
    final full-batch loss to within the cent-rounding tolerance — the
    train→serve contract a model registry would enforce before
    promotion.

    Scale: one narrow scan + mapInPandas + a map-side-combinable
    1-row aggregate; the fit itself is the cached trainer (see
    :func:`mlp_train_distributed`)."""
    wts, losses, m = fit(spark, sf_dir)
    ym, ys = m["y"]

    def predict(x):
        pred = _forward(_standardize_x(x, m), wts, TRAIN_LEAKY)[-1] * ys + ym
        return np.floor(pred * 100.0 + 0.5).astype(np.int64)

    scored = score(
        _feats_and_moments(spark, sf_dir)[0], ["y"], {"pred_cents": predict}
    )
    d = (F.col("pred_cents") - F.col("y") * 100).cast("decimal(38,0)")
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d * d).alias("sse"),
        F.sum(F.abs(d)).alias("sae"),
        F.sum(d).alias("sd"),
    ).collect()[0]
    n = int(agg["n"])
    mse_cents2 = int(agg["sse"]) / n
    rmse_c = int(math.floor(math.sqrt(mse_cents2) + 0.5))
    mae_c = int(math.floor(int(agg["sae"]) / n + 0.5))
    bias_c = int(math.floor(int(agg["sd"]) / n + 0.5))
    # serving MSE back on the trainer's normalized scale; the trainer
    # quantizes per-row err^2 to 2^-qg and serving rounds to cents, so
    # agreement is to tolerance, not bit-exact — that's the contract
    serve_loss = mse_cents2 / ((100.0 * ys) * (100.0 * ys))
    row = (
        n,
        rmse_c,
        mae_c,
        bias_c,
        bool(mae_c <= rmse_c),
        bool(abs(serve_loss - losses[-1]) <= 1e-3),
    )
    return spark.createDataFrame(
        [row],
        "n bigint, rmse_cents bigint, mae_cents bigint, bias_cents bigint, "
        "mae_le_rmse boolean, serve_matches_train boolean",
    )


MLP_TRAIN_SERVE_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(CASE COUNT(*) WHEN 60000 THEN 793837 WHEN 6000 THEN 788607 END
    AS BIGINT) AS rmse_cents,
  CAST(CASE COUNT(*) WHEN 60000 THEN 637234 WHEN 6000 THEN 631538 END
    AS BIGINT) AS mae_cents,
  CAST(CASE COUNT(*) WHEN 60000 THEN 50598 WHEN 6000 THEN 48641 END
    AS BIGINT) AS bias_cents,
  TRUE AS mae_le_rmse,
  TRUE AS serve_matches_train
FROM lineitem
"""


def mlp_train_adam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL optimizer in-engine: both SavedModels'
    keras_metadata record ``Adam(lr=1e-3)`` — this entry trains the
    same net as :func:`mlp_train_distributed` with Kingma–Ba Adam
    (driver-side moments over the exact order-independent gradient
    sums; see :class:`_Optimizer` — adaptivity costs nothing in
    determinism because the moments consume only the dyadic sums).

    Certificates: ``loss_decreased`` replaces plain GD's strict
    monotonicity (adaptive steps legitimately overshoot early — the
    measured trajectories are non-monotone at every stable lr), and
    ``adam_beats_gd`` pins the head-to-head at equal epoch budget
    against the cached GD fit (measured 0.029 vs 0.071 normalized MSE
    at sf0.01 — the reason the reference chose Adam). Final loss and
    quantized-weight checksum pinned at both checked scales.

    Scale: identical plan to the GD trainer — the optimizer is pure
    driver arithmetic on P scalars."""
    wts, losses, m = fit(spark, sf_dir, lr=ADAM_LR, opt="adam")
    _, losses_gd, _ = fit(spark, sf_dir)
    row = (
        int(m["n"]),
        TRAIN_EPOCHS,
        bool(losses[-1] < losses[0]),
        bool(losses[-1] < 1.0),
        bool(losses[-1] < losses_gd[-1]),
        int(math.floor(losses[-1] * 1e6 + 0.5)),
        int(weight_checksum(wts)),
    )
    return spark.createDataFrame(
        [row],
        "n bigint, epochs int, loss_decreased boolean, beats_mean boolean, "
        "adam_beats_gd boolean, loss_final_q bigint, weight_checksum bigint",
    )


MLP_TRAIN_ADAM_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(16 AS INTEGER) AS epochs,
  TRUE AS loss_decreased,
  TRUE AS beats_mean,
  TRUE AS adam_beats_gd,
  CAST(CASE COUNT(*) WHEN 60000 THEN 29065 WHEN 6000 THEN 31741 END
    AS BIGINT) AS loss_final_q,
  CAST(CASE COUNT(*) WHEN 60000 THEN 52509372518644
    WHEN 6000 THEN 148131431960992 END AS BIGINT) AS weight_checksum
FROM lineitem
"""


def mlp_train_minibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED face of :func:`train_distributed` with
    ``MB_NUM_BATCHES`` batches per epoch — the documented scale answer
    to "full-batch GD costs one full corpus scan per epoch".

    Certificates in the hashed row:

    - ``loss_decreased``: final full-batch loss < the first epoch's
      streamed loss (SGD is not strictly monotone; direction is).
    - ``beats_mean``: final normalized MSE < 1.0.
    - ``beats_gd_equal_passes``: the 100-TB claim, pinned exactly.
      The minibatch fit costs epochs+1 full reduction passes over the
      corpus (each epoch's batch jobs sweep disjoint subsets = one
      pass; streamed losses are free; + 1 trailing full evaluation);
      the cached GD trajectory provides ``losses_gd[epochs+1]``,
      which cost GD epochs+2 reduction passes — ONE MORE than
      minibatch (both also share the one moments pass), so the
      certificate is conservative: minibatch must converge further on
      a strictly smaller scan budget.
    - ``loss_final_q`` / ``weight_checksum``: pinned literals — the
      bit-level certificate of the full 64-update trajectory under
      any partitioning (parity with the serial twin is separately
      held bit-equal by tests/test_train_distributed.py).
    """
    wts, losses, m = fit(
        spark, sf_dir, lr=MB_LR, epochs=MB_EPOCHS, num_batches=MB_NUM_BATCHES
    )
    _, losses_gd, _ = fit(spark, sf_dir)
    final_loss = losses[-1]
    row = (
        int(m["n"]),
        MB_EPOCHS,
        MB_NUM_BATCHES,
        MB_EPOCHS * MB_NUM_BATCHES,
        bool(final_loss < losses[0]),
        bool(final_loss < 1.0),
        bool(final_loss < losses_gd[MB_EPOCHS + 1]),
        int(math.floor(final_loss * 1e6 + 0.5)),
        int(weight_checksum(wts)),
    )
    return spark.createDataFrame(
        [row],
        "n bigint, epochs int, num_batches int, steps int, "
        "loss_decreased boolean, beats_mean boolean, "
        "beats_gd_equal_passes boolean, loss_final_q bigint, "
        "weight_checksum bigint",
    )


MLP_TRAIN_MINIBATCH_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(8 AS INTEGER) AS epochs,
  CAST(8 AS INTEGER) AS num_batches,
  CAST(64 AS INTEGER) AS steps,
  TRUE AS loss_decreased,
  TRUE AS beats_mean,
  TRUE AS beats_gd_equal_passes,
  CAST(CASE COUNT(*) WHEN 60000 THEN 7933 WHEN 6000 THEN 8025 END
    AS BIGINT) AS loss_final_q,
  CAST(CASE COUNT(*) WHEN 60000 THEN 219742335911878
    WHEN 6000 THEN 180703316634420 END AS BIGINT) AS weight_checksum
FROM lineitem
"""
