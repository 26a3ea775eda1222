"""Geospatial operators — grid-bucketed neighbor search over listing
coordinates.

The reference corpus is airbnb listings with real ``latitude`` /
``longitude`` columns (``EDA Notebook.ipynb`` cell 52 maps them with
``px.scatter_mapbox`` before cell 54 drops them for modeling). The
canonical *query* those columns power in a pricing engine is
nearest-comparables: "the k closest listings to this one" (comp-based
pricing) and "listing density around a point" (the neighbourhood-
pressure feature). The driver's synthetic tables carry no
coordinates, so each operator derives a DETERMINISTIC synthetic
position per customer from the md5 of its key (the repo-wide
content-addressed discipline, see ``operators/sampling.py``) inside a
2°x2° bounding box — identical on both engines, so the oracle checks
the full geometry pipeline, not the coordinate synthesis.

Scale design: the naive kNN is an all-pairs cross join — O(n²) and
dead at 100 TB. Both operators here bucket the plane into fixed grid
cells (the degenerate-but-honest geohash: cell = floor(lat/s),
floor(lon/s)) so candidate generation is an EQUI-join on cell keys:

* ``knn_comps`` explodes each query point to its 3x3 neighbor-cell
  ring (a bounded x9 fan-out on the *small* query side only) and
  equi-joins against the cell-keyed listings — Spark plans a plain
  shuffle/broadcast hash join on (cx, cy), never a theta-join nested
  loop. Per-candidate work (haversine) is codegen'd column math.
  This makes the result bounded-radius kNN (neighbors beyond one
  cell ring are invisible) — the standard grid-kNN contract, applied
  identically in the oracle.
* ``cell_density`` is a single groupBy on the cell key — map-side
  combinable, no join at all.

Skew: a hot cell (downtown) concentrates one join key. The same
remedies as every equi-join apply (AQE skew split is ON in
session.py); sub-cell salting composes exactly like
``dedup.py``'s band sub-bucketing if a cell outgrows a task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from backend_model_spark.sources.tables import load_table

# Deterministic uniform [0, 1) from the md5 of a salted key — engine-
# portable (identical text on DuckDB); 8 hex chars = 32 bits of
# precision, exactly representable in a double.
_U = (
    "conv(substring(md5(concat('{salt}:', cast(c_custkey as string))), 1, 8),"
    " 16, 10) % 100000000 / 100000000.0"
)
_U_SQL = (
    "CAST('0x' || substr(md5('{salt}:' || CAST(c_custkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) % 100000000 / 100000000.0"
)

# NYC-ish bounding box: lat 40..42, lon -75..-73; cell size 0.1 deg
# (~11 km lat) -> 20x20 = 400 cells over the box.
CELL_DEG = 0.1
EARTH_KM = 6371.0088

# kNN adaptive grid calibration: at N_REF points the 0.1-deg grid's
# 3x3 ring holds the measured-comfortable candidate population; every
# 4x growth beyond it HALVES the cell side (area /4), holding ring
# population inside [1x, 4x] of the calibration level — candidate
# work then scales linearly with the corpus instead of quadratically
# with density. The ladder is integer-threshold quantized (never
# log/ceil on floats, whose ulp could flip a level cross-engine) and
# mirrored verbatim in the oracle SQL. Contract: the comp radius
# SHRINKS as density grows — exactly what "nearest comparables" means
# in a denser market; N_REF is the knob.
KNN_GRID_N_REF = 20_000
KNN_GRID_MAX_HALVINGS = 8


# 2^k for the largest k ≤ MAX with n ≥ N_REF·4^k, as a descending
# integer-threshold CASE over a count column ``n``; both engines
# evaluate this same text
_HALVINGS_SQL = "CASE " + " ".join(
    f"WHEN n >= {KNN_GRID_N_REF * 4 ** k} THEN {2 ** k}"
    for k in range(KNN_GRID_MAX_HALVINGS, 0, -1)
) + " ELSE 1 END"


def _coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    lat = F.lit(40.0) + F.expr(_U.format(salt="lat")) * 2.0
    lon = F.lit(-75.0) + F.expr(_U.format(salt="lon")) * 2.0
    return cust.select(
        F.col("c_custkey").alias("key"),
        lat.alias("lat"),
        lon.alias("lon"),
        F.floor(lat / CELL_DEG).cast("int").alias("cx"),
        F.floor(lon / CELL_DEG).cast("int").alias("cy"),
        F.col("c_acctbal").alias("bal"),
    )


_COORDS_SQL = f"""
  SELECT
    c_custkey AS key,
    40.0 + ({_U_SQL.format(salt='lat')}) * 2.0 AS lat,
    -75.0 + ({_U_SQL.format(salt='lon')}) * 2.0 AS lon,
    CAST(FLOOR((40.0 + ({_U_SQL.format(salt='lat')}) * 2.0) / {CELL_DEG}) AS INTEGER) AS cx,
    CAST(FLOOR((-75.0 + ({_U_SQL.format(salt='lon')}) * 2.0) / {CELL_DEG}) AS INTEGER) AS cy,
    c_acctbal AS bal
  FROM customer
"""


def _haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km; explicit products (never POW —
    DuckDB's is exp/log-based and not correctly rounded)."""
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon) * F.sin(dlon)
    )
    return 2.0 * EARTH_KM * F.asin(F.sqrt(a))


def knn_comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 nearest comparable listings per query point (every 50th
    customer), candidates restricted to the 3x3 ring of an
    ADAPTIVE grid (round 4): cell side halves every 4x growth past
    ``KNN_GRID_N_REF`` points, so ring population — and with it
    per-query candidate work — stays within a constant factor of the
    calibration level at any density (the round-3 fixed grid grew
    candidates O(density): measured 8x at 10x). The level is a scalar
    subquery over the row count inside the plan, so building the
    frame runs no job; the level ladder is integer-quantized and the
    oracle evaluates the same CASE text, so both engines always agree
    on the grid.

    Plan shape: query side (n/50 rows) explodes x9 to neighbor cells,
    equi-joins the cell-keyed full table on (cx, cy), haversine is
    codegen'd arithmetic, and top-3 is a window over the *candidate*
    set (bounded per query point), partitioned by query key —
    never a global sort. Ranking compares integer micro-km (repo
    integer-micro discipline) with the neighbor key as tiebreak.
    """
    base = _coords(spark, sf_dir)
    step = (
        base.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(CELL_DEG) / F.expr(_HALVINGS_SQL))
        .scalar()
    )
    cell = lambda c: F.floor(c / step).cast("int")
    pts = base.select(
        "key", "lat", "lon", cell(F.col("lat")).alias("cx"), cell(F.col("lon")).alias("cy")
    )
    queries = pts.filter(F.col("key") % 50 == 0).select(
        F.col("key").alias("qkey"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
        F.col("cx"),
        F.col("cy"),
    )
    queries = queries.select(
        "qkey",
        "qlat",
        "qlon",
        (F.col("cx") + F.col("dx")).alias("cx"),
        F.explode(
            F.array(*[(F.col("cy") + d).cast("int") for d in (-1, 0, 1)])
        ).alias("cy"),
    ).withColumn("cx", F.col("cx").cast("int"))
    cand = queries.join(pts, ["cx", "cy"]).filter(F.col("qkey") != F.col("key"))
    dist = _haversine_km(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon"))
    cand = cand.select(
        "qkey",
        F.col("key").alias("nkey"),
        F.floor(dist * 1e6 + F.lit(0.5)).cast("long").alias("dist_micro_km"),
    )
    w = W.partitionBy("qkey").orderBy("dist_micro_km", "nkey")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "qkey",
            F.col("rk").cast("int").alias("rk"),
            "nkey",
            (F.col("dist_micro_km") / 1e6).alias("dist_km"),
        )
        .orderBy("qkey", "rk")
    )


KNN_COMPS_ORACLE = f"""
WITH pts0 AS ({_COORDS_SQL}),
grid AS (
  SELECT {CELL_DEG} / CAST({_HALVINGS_SQL} AS DOUBLE) AS step
  FROM (SELECT COUNT(*) AS n FROM customer)
),
pts AS (
  SELECT key, lat, lon,
    CAST(FLOOR(lat / step) AS INTEGER) AS cx,
    CAST(FLOOR(lon / step) AS INTEGER) AS cy
  FROM pts0, grid
),
q AS (
  SELECT key AS qkey, lat AS qlat, lon AS qlon, cx, cy
  FROM pts WHERE key % 50 = 0
),
cand AS (
  SELECT
    q.qkey, p.key AS nkey,
    CAST(FLOOR(
      2.0 * {EARTH_KM} * asin(sqrt(
        sin(radians(p.lat - q.qlat) / 2.0) * sin(radians(p.lat - q.qlat) / 2.0)
        + cos(radians(q.qlat)) * cos(radians(p.lat))
          * sin(radians(p.lon - q.qlon) / 2.0) * sin(radians(p.lon - q.qlon) / 2.0)
      )) * 1e6 + 0.5) AS BIGINT) AS dist_micro_km
  FROM q JOIN pts p
    ON p.cx BETWEEN q.cx - 1 AND q.cx + 1
   AND p.cy BETWEEN q.cy - 1 AND q.cy + 1
  WHERE p.key <> q.qkey
),
ranked AS (
  SELECT qkey, nkey, dist_micro_km,
    ROW_NUMBER() OVER (PARTITION BY qkey ORDER BY dist_micro_km, nkey) AS rk
  FROM cand
)
SELECT qkey, CAST(rk AS INTEGER) AS rk, nkey, dist_micro_km / 1e6 AS dist_km
FROM ranked WHERE rk <= 3
ORDER BY qkey, rk
"""


def cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Listing density per grid cell — the neighbourhood-pressure
    aggregate: count + mean balance per 0.1-degree cell, top-20
    densest cells. One map-side-combinable groupBy on the cell key;
    top-20 is TakeOrderedAndProject, never a full sort."""
    pts = _coords(spark, sf_dir)
    return (
        pts.groupBy("cx", "cy")
        .agg(
            F.count(F.lit(1)).alias("n_listings"),
            F.floor(F.sum("bal") * 100 + F.lit(0.5)).cast("long").alias("bal_cents"),
        )
        .orderBy(F.desc("n_listings"), "cx", "cy")
        .limit(20)
    )


CELL_DENSITY_ORACLE = f"""
WITH pts AS ({_COORDS_SQL})
SELECT cx, cy, COUNT(*) AS n_listings,
  CAST(FLOOR(SUM(bal) * 100 + 0.5) AS BIGINT) AS bal_cents
FROM pts
GROUP BY cx, cy
ORDER BY n_listings DESC, cx, cy
LIMIT 20
"""
