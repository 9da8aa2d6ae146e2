"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

The correctness trick: the tile catalog used here is the reference's own
*gradient* benchmark pattern (``htg/benches/elevation.rs:10-24``,
elev = (row+col) % 4000) with an analytic void rule
(VOID where (row*1201 + col) % 97 == 0), so the expected output of the full
binary-decode -> tile-join -> kernel pipeline is a closed form that plain
SQL can compute. The Spark side does the real work (HGT blobs, broadcast
join, Arrow kernels); the DuckDB oracle recomputes every elevation
analytically. Bit-identical IEEE doubles on both sides (same op order).

Points derive from the driver's `events` table via a fixed closed form on
(event_id, user_id) that produces in-tile, hot-cluster (skew), missing-tile
and out-of-coverage rows — mirroring the reference's batch semantics tests
(htg/src/service.rs:1044-1095).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog as cat_mod
from . import cells, fixtures, hgt
from .engine import ElevationEngine

SAMPLES = 1201
NM1 = 1200
VOID_MOD = 97

# catalog tiles — (36,139) deliberately missing (missing-tile semantics)
CATALOG_KEYS = [(35, 138), (35, 139), (36, 138)]


def gradient_void_grid(samples: int = SAMPLES) -> np.ndarray:
    """elev = (row+col) % 4000, VOID where (row*samples+col) % 97 == 0."""
    r = np.arange(samples, dtype=np.int64)
    g = ((r[:, None] + r[None, :]) % 4000).astype(np.int16)
    flat_idx = r[:, None] * samples + r[None, :]
    g[(flat_idx % VOID_MOD) == 0] = hgt.VOID_VALUE
    return g


# engine caches keyed by applicationId — NOT id(spark), which Python
# recycles after GC (a new session allocated at a dead session's address
# would receive an engine bound to the stopped SparkContext)
_ENGINES: dict[tuple[str, int], ElevationEngine] = {}


def get_engine(spark: SparkSession, cache_size: int = 64) -> ElevationEngine:
    """The in-memory gradient catalog. ``cache_size=2``, below its tile
    count, gives the engine whose cogroup joins take the salted layout."""
    key = (spark.sparkContext.applicationId, cache_size)
    if key not in _ENGINES:
        g = gradient_void_grid()
        _ENGINES[key] = ElevationEngine(
            spark, grids={k: g for k in CATALOG_KEYS}, cache_size=cache_size
        )
    return _ENGINES[key]


_PATH_ENGINES: dict[str, ElevationEngine] = {}


def get_path_engine(spark: SparkSession) -> ElevationEngine:
    """Same gradient catalog, but scanned from real .hgt files on disk —
    the path-bearing catalog of a ``tile_dir`` engine."""
    key = spark.sparkContext.applicationId
    if key not in _PATH_ENGINES:
        import atexit
        import os
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="htg_tiles_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        g = gradient_void_grid()
        data = hgt.encode_tile(g)
        for tl, tn in CATALOG_KEYS:
            with open(os.path.join(d, hgt.coords_to_filename(tl, tn)), "wb") as f:
                f.write(data)
        _PATH_ENGINES[key] = ElevationEngine(spark, tile_dir=d)
    return _PATH_ENGINES[key]


# --- point derivation (Spark side) — MUST mirror _SQL_PTS below -----------------


def derive_points(events: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    e = F.col("event_id")
    u = F.col("user_id")
    lat = (
        F.when(e % 37 == 0, F.lit(75.0) + (e % 1000).cast("double") / F.lit(1000.0))
        .when(e % 11 == 0, F.lit(50.0) + (e % 900).cast("double") / F.lit(1000.0))
        .when(e % 3 == 0, F.lit(35.42) + (e % 100).cast("double") / F.lit(10000.0))
        .otherwise(F.lit(35.0) + (e % 2000).cast("double") / F.lit(1000.0))
    )
    lon = (
        F.when(e % 37 == 0, F.lit(10.0) + (u % 1000).cast("double") / F.lit(1000.0))
        .when(e % 11 == 0, F.lit(50.0) + (u % 900).cast("double") / F.lit(1000.0))
        .when(e % 3 == 0, F.lit(138.77) + (u % 100).cast("double") / F.lit(10000.0))
        .otherwise(
            F.lit(138.0) + ((e * 7 + u) % 2000).cast("double") / F.lit(1000.0)
        )
    )
    return events.select(
        "event_id", *extra_cols, lat.alias("lat"), lon.alias("lon")
    )


# shared SQL CTE prefix (DuckDB) — the mirror of derive_points + key math
_SQL_PTS = """
WITH pts AS (
  SELECT event_id,
    CASE WHEN event_id % 37 = 0 THEN 75.0 + CAST(event_id % 1000 AS DOUBLE) / 1000.0
         WHEN event_id % 11 = 0 THEN 50.0 + CAST(event_id % 900 AS DOUBLE) / 1000.0
         WHEN event_id % 3 = 0 THEN 35.42 + CAST(event_id % 100 AS DOUBLE) / 10000.0
         ELSE 35.0 + CAST(event_id % 2000 AS DOUBLE) / 1000.0 END AS lat,
    CASE WHEN event_id % 37 = 0 THEN 10.0 + CAST(user_id % 1000 AS DOUBLE) / 1000.0
         WHEN event_id % 11 = 0 THEN 50.0 + CAST(user_id % 900 AS DOUBLE) / 1000.0
         WHEN event_id % 3 = 0 THEN 138.77 + CAST(user_id % 100 AS DOUBLE) / 10000.0
         ELSE 138.0 + CAST((event_id * 7 + user_id) % 2000 AS DOUBLE) / 1000.0 END AS lon
  FROM events
),
keyed AS (
  SELECT *,
    CAST(floor(lat) AS INTEGER) AS tile_lat,
    CAST(floor(lon) AS INTEGER) AS tile_lon,
    (lat >= -60.0 AND lat <= 60.0 AND lon >= -180.0 AND lon <= 180.0) AS in_coverage,
    ((CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 138)
     OR (CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 139)
     OR (CAST(floor(lat) AS INTEGER) = 36 AND CAST(floor(lon) AS INTEGER) = 138)) AS has_tile
  FROM pts
),
pos AS (
  SELECT *,
    (1.0 - (lat - floor(lat))) * 1200.0 AS rp,
    (lon - floor(lon)) * 1200.0 AS cp
  FROM keyed
)
"""

_SQL_ROUND_RC = """
rc AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c
  FROM pos
)
"""

_SQL_FLOOR_RC = """
rc AS (
  SELECT *, CAST(floor(rp) AS BIGINT) AS r, CAST(floor(cp) AS BIGINT) AS c FROM pos
)
"""

_SQL_NEAREST_ELEV = """
  CASE WHEN in_coverage AND has_tile AND ((r * 1201 + c) % 97 <> 0)
       THEN CAST((r + c) % 4000 AS INTEGER) ELSE NULL END
"""

# bilinear closed form — the ONE copy of the bit-parity-critical corner CTE
# and interpolation expression (tile.rs:277-281 float-op order, any-void ->
# NULL); shared by the elevation_bilinear oracle here and the csv_interp
# oracle in enrich_queries so the two can never desynchronize.
_SQL_BILINEAR_RC = """
rc AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) AS r0, CAST(floor(cp) AS BIGINT) AS c0,
    LEAST(CAST(floor(rp) AS BIGINT) + 1, 1200) AS r1,
    LEAST(CAST(floor(cp) AS BIGINT) + 1, 1200) AS c1,
    rp - floor(rp) AS rw, cp - floor(cp) AS cw
  FROM pos
)
"""

_SQL_BILINEAR_ELEV = """
  CASE WHEN in_coverage AND has_tile
        AND ((r0 * 1201 + c0) % 97 <> 0) AND ((r0 * 1201 + c1) % 97 <> 0)
        AND ((r1 * 1201 + c0) % 97 <> 0) AND ((r1 * 1201 + c1) % 97 <> 0)
  THEN (CAST((r0 + c0) % 4000 AS DOUBLE)
          + (CAST((r0 + c1) % 4000 AS DOUBLE) - CAST((r0 + c0) % 4000 AS DOUBLE)) * cw)
       + ((CAST((r1 + c0) % 4000 AS DOUBLE)
          + (CAST((r1 + c1) % 4000 AS DOUBLE) - CAST((r1 + c0) % 4000 AS DOUBLE)) * cw)
         - (CAST((r0 + c0) % 4000 AS DOUBLE)
          + (CAST((r0 + c1) % 4000 AS DOUBLE) - CAST((r0 + c0) % 4000 AS DOUBLE)) * cw)) * rw
  ELSE NULL END
"""


def images_pts_cte() -> str:
    """The img+ipts CTE opener (phash encode -> bit-extraction geotags) —
    the ONE SQL mirror of derive_image_phash + cells.lat/lon_from_phash,
    shared by the images_geotag_join / images_elevation_join oracles here
    and the images_in_polygon oracle in polygon_queries."""
    p = _PW
    return f"""
WITH img AS (
  SELECT event_id,
    CASE WHEN event_id % 37 = 0 THEN {p['U75']} + (event_id * 7) % {p['KU1']}
         WHEN event_id % 11 = 0 THEN {p['U50']} + (event_id * 13) % {p['KU09']}
         ELSE {p['U35']} + (event_id * 7919) % {p['KU2']} END AS u,
    CASE WHEN event_id % 37 = 0 THEN {p['V138']} + (event_id * 3) % {p['KV2']}
         WHEN event_id % 11 = 0 THEN {p['V50']} + (event_id * 17) % {p['KV09']}
         ELSE {p['V138']} + (event_id * 104729) % {p['KV2']} END AS v
  FROM events
),
ipts AS (
  SELECT 'img_' || CAST(event_id AS VARCHAR) AS image_id,
    u + v * 4294967296 AS phash,
    -90.0 + (CAST(u AS DOUBLE) / 4294967296.0) * 180.0 AS lat,
    -180.0 + (CAST(v AS DOUBLE) / 2147483648.0) * 360.0 AS lon
  FROM img
)"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# --- elevation queries -----------------------------------------------------------


def q_elevation_nearest(spark, sf_dir):
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(pts, mode="nearest", strategy="broadcast", id_col="event_id")
    return out.select("event_id", F.col("elevation").cast("int").alias("elevation"))


def q_elevation_floor(spark, sf_dir):
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(pts, mode="floor", strategy="broadcast", id_col="event_id")
    return out.select("event_id", F.col("elevation").cast("int").alias("elevation"))


def q_elevation_bilinear(spark, sf_dir):
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(pts, mode="bilinear", strategy="broadcast", id_col="event_id")
    return out.select("event_id", F.col("elevation").cast("double").alias("elevation"))


WARP_ZOOM = 10  # mercator warp: 1024x1024 slippy grid (~0.35 deg/tile)
WARP_TILE_PX = 32  # 32x32 sample pixels per output tile
_DEG_PER_RAD = 57.29577951308232  # double(180/pi), inlined VERBATIM in SQL


def _warp_tile_ranges() -> tuple[int, int, int, int]:
    """Inclusive (zx_lo, zx_hi, zy_lo, zy_hi) of the zoom-10 mercator tiles
    intersecting the catalog bbox lat [35, 37) x lon [138, 140]. Computed
    ONCE in Python and inlined as integer literals on both engines, so the
    range itself carries no cross-engine float surface."""
    import math

    n = 1 << WARP_ZOOM
    zx_lo = int(math.floor((138.0 + 180.0) / 360.0 * n))
    zx_hi = int(math.floor((140.0 + 180.0) / 360.0 * n))

    def merc(lat):
        s = math.sin(lat * math.pi / 180.0)
        return 0.5 - math.log((1.0 + s) / (1.0 - s)) / (4.0 * math.pi)

    zy_lo = int(math.floor(merc(37.0) * n))  # north edge -> smallest row
    zy_hi = int(math.floor(merc(35.0) * n))
    return zx_lo, zx_hi, zy_lo, zy_hi


def warp_pixel_grid(spark) -> DataFrame:
    """The mercator-warp sample grid: one row per output pixel with its
    tile key (zx, zy) and the pixel center's (lat, lon) via the inverse
    mercator lat = atan(sinh(pi*(1-2*merc))) written with exp only —
    sinh(a) = (exp(a) - exp(0.0 - a)) / 2.0 — in an op order the SQL
    oracle mirrors token-for-token."""
    zx_lo, zx_hi, zy_lo, zy_hi = _warp_tile_ranges()
    tp = WARP_TILE_PX
    ncols = zx_hi - zx_lo + 1
    nrows = zy_hi - zy_lo + 1
    total = ncols * nrows * tp * tp
    per_tile = tp * tp
    base = spark.range(total).select(
        F.col("id").alias("pixel_id"),
        (F.lit(zx_lo) + F.expr(f"id div {per_tile}") % F.lit(ncols)).alias("zx"),
        (F.lit(zy_lo) + F.expr(f"(id div {per_tile}) div {ncols}")).alias("zy"),
        (F.col("id") % per_tile % tp).alias("i"),
        F.expr(f"(id % {per_tile}) div {tp}").alias("j"),
    )
    n_f = float(1 << WARP_ZOOM)
    lon = (
        (F.col("zx").cast("double") + (F.col("i").cast("double") + F.lit(0.5)) / F.lit(float(tp)))
        / F.lit(n_f)
    ) * F.lit(360.0) - F.lit(180.0)
    my = (
        F.col("zy").cast("double") + (F.col("j").cast("double") + F.lit(0.5)) / F.lit(float(tp))
    ) / F.lit(n_f)
    g2 = base.select("pixel_id", "zx", "zy", lon.alias("lon"), my.alias("my"))
    aa = F.lit(3.141592653589793) * (F.lit(1.0) - F.lit(2.0) * F.col("my"))
    g3 = g2.select("pixel_id", "zx", "zy", "lon", aa.alias("aa"))
    lat = F.atan((F.exp(F.col("aa")) - F.exp(F.lit(0.0) - F.col("aa"))) / F.lit(2.0)) * F.lit(
        _DEG_PER_RAD
    )
    return g3.select("pixel_id", "zx", "zy", "lon", lat.alias("lat"))


def q_mercator_warp(spark, sf_dir):
    """Raster reprojection: warp the SRTM catalog onto the web-mercator
    z/x/y grid (the tile-server product every slippy map consumes) —
    sample each zoom-10 output tile at 32x32 pixel centers, inverse-
    project to (lat, lon), nearest-lookup the REAL decoded HGT grids
    through the broadcast engine, and roll up exact per-tile integer
    stats. Pixels outside catalog coverage count as invalid (the mosaic
    edge). The sample grid is a pure projection (spark.range, no source
    scan); the elevation join is the zero-Exchange broadcast map; the
    rollup is ONE hash aggregation on the output tile key."""
    eng = get_engine(spark)
    pixels = warp_pixel_grid(spark)
    out = eng.elevation_join(
        pixels, mode="nearest", strategy="broadcast", id_col="pixel_id"
    )
    e = F.col("elevation").cast("int")
    return out.groupBy("zx", "zy").agg(
        F.count(F.lit(1)).alias("n_px"),
        F.count("elevation").alias("n_valid"),
        F.sum(e.cast("long")).alias("sum_elev"),
        F.min(e).alias("min_elev"),
        F.max(e).alias("max_elev"),
    )


def _mercator_warp_sql() -> str:
    """Closed-form oracle: the same pixel grid rebuilt with generate_series
    + integer div/mod, the same inverse-mercator op order, then the shared
    keyed/pos/rc/nearest closed-form elevation fragments."""
    zx_lo, zx_hi, zy_lo, zy_hi = _warp_tile_ranges()
    tp = WARP_TILE_PX
    ncols = zx_hi - zx_lo + 1
    nrows = zy_hi - zy_lo + 1
    total = ncols * nrows * tp * tp
    per_tile = tp * tp
    n_f = float(1 << WARP_ZOOM)
    return f"""
WITH grid AS (
  SELECT id AS pixel_id,
    {zx_lo} + (id // {per_tile}) % {ncols} AS zx,
    {zy_lo} + (id // {per_tile}) // {ncols} AS zy,
    id % {per_tile} % {tp} AS i,
    (id % {per_tile}) // {tp} AS j
  FROM (SELECT unnest(generate_series(0, {total - 1})) AS id)
),
g2 AS (
  SELECT pixel_id, zx, zy,
    ((CAST(zx AS DOUBLE) + (CAST(i AS DOUBLE) + 0.5) / {float(tp)!r}) / {n_f!r}) * 360.0 - 180.0 AS lon,
    (CAST(zy AS DOUBLE) + (CAST(j AS DOUBLE) + 0.5) / {float(tp)!r}) / {n_f!r} AS my
  FROM grid
),
g3 AS (
  SELECT pixel_id, zx, zy, lon,
    3.141592653589793 * (1.0 - 2.0 * my) AS aa
  FROM g2
),
pts AS (
  SELECT pixel_id, zx, zy, lon,
    atan((exp(aa) - exp(0.0 - aa)) / 2.0) * {_DEG_PER_RAD!r} AS lat
  FROM g3
),
keyed AS (
  SELECT *,
    CAST(floor(lat) AS INTEGER) AS tile_lat,
    CAST(floor(lon) AS INTEGER) AS tile_lon,
    (lat >= -60.0 AND lat <= 60.0 AND lon >= -180.0 AND lon <= 180.0) AS in_coverage,
    ((CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 138)
     OR (CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 139)
     OR (CAST(floor(lat) AS INTEGER) = 36 AND CAST(floor(lon) AS INTEGER) = 138)) AS has_tile
  FROM pts
),
pos AS (
  SELECT *,
    (1.0 - (lat - floor(lat))) * 1200.0 AS rp,
    (lon - floor(lon)) * 1200.0 AS cp
  FROM keyed
),
{_SQL_ROUND_RC.strip().rstrip()},
ev AS (
  SELECT zx, zy, {_SQL_NEAREST_ELEV.strip()} AS elevation FROM rc
)
SELECT zx, zy,
  count(*) AS n_px,
  count(elevation) AS n_valid,
  CAST(sum(CAST(elevation AS BIGINT)) AS BIGINT) AS sum_elev,
  min(elevation) AS min_elev,
  max(elevation) AS max_elev
FROM ev GROUP BY zx, zy
"""


def q_elevation_default_fill(spark, sf_dir):
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(
        pts, mode="nearest", strategy="broadcast", id_col="event_id", default=-1
    )
    return out.select("event_id", F.col("elevation").cast("int").alias("elevation"))


def q_elevation_cogroup(spark, sf_dir):
    """Same join through the salted scale layout (J5): the in-memory engine
    with a grid cache smaller than its catalog, so the rows are salted by
    tile and shuffled once while each task reads the spilled tiles by
    path — proves the shuffle variant returns identical rows."""
    eng = get_engine(spark, cache_size=2)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(
        pts, mode="nearest", strategy="cogroup", id_col="event_id", n_salts=4
    )
    return out.select("event_id", F.col("elevation").cast("int").alias("elevation"))


def q_elevation_cogroup_path(spark, sf_dir):
    """The join over a path-bearing catalog: each task reads its tiles
    from (shared) storage by path. At 100 TB of rasters the blobs must
    never ride a shuffle — this query proves that plan returns the
    identical rows. Its 3-tile catalog fits the grid cache, so the join
    runs map-side; the plan audit also gates the over-cache (salted)
    shape."""
    eng = get_path_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(
        pts, mode="nearest", strategy="cogroup", id_col="event_id", n_salts=4
    )
    return out.select("event_id", F.col("elevation").cast("int").alias("elevation"))


def q_tile_assignment(spark, sf_dir):
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(pts, mode="nearest", strategy="broadcast", id_col="event_id")
    return out.select(
        "event_id",
        "tile_lat",
        "tile_lon",
        cells.tile_filename(F.col("tile_lat"), F.col("tile_lon")).alias("filename"),
        "in_coverage",
        "tile_found",
    )


def q_coverage_counts(spark, sf_dir):
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(pts, mode="nearest", strategy="broadcast", id_col="event_id")
    return (
        out.groupBy("in_coverage", "tile_found")
        .agg(F.count("*").alias("n"))
        .orderBy("in_coverage", "tile_found")
    )


def q_cell_ids(spark, sf_dir):
    pts = derive_points(_events(spark, sf_dir))
    lat, lon = F.col("lat"), F.col("lon")
    return pts.select(
        "event_id",
        cells.cell_id(cells.tile_lat(lat), cells.tile_lon(lon)).alias("cell0"),
        cells.cell_id_at_level(lat, lon, 4).alias("cell4"),
    )


def q_filename_roundtrip(spark, sf_dir):
    pts = derive_points(_events(spark, sf_dir))
    df = pts.select(
        "event_id",
        cells.tile_filename(
            cells.tile_lat(F.col("lat")), cells.tile_lon(F.col("lon"))
        ).alias("filename"),
    )
    t_lat, t_lon = cells.filename_to_key(F.col("filename"))
    return df.select("event_id", "filename", t_lat.alias("parsed_lat"), t_lon.alias("parsed_lon"))


def q_knn_fallback(spark, sf_dir):
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(
        pts, mode="nearest", strategy="broadcast", id_col="event_id", knn_fallback=True
    )
    return out.where(F.col("knn_used")).select(
        "event_id",
        "tile_lat",
        "tile_lon",
        F.col("elevation").cast("int").alias("elevation"),
    )


def q_elevation_cogroup_knn(spark, sf_dir):
    """J6 through the salted scale layout: the same kNN-fallback rows as
    q_knn_fallback, produced on the in-memory engine with a grid cache
    smaller than its catalog (rows salted by tile and shuffled once; the
    kernel falls back to the nearest catalog tile in the same pass).
    Shares the broadcast-path `knn` oracle."""
    eng = get_engine(spark, cache_size=2)
    pts = derive_points(_events(spark, sf_dir))
    out = eng.elevation_join(
        pts, mode="nearest", strategy="cogroup", id_col="event_id",
        knn_fallback=True, n_salts=4,
    )
    return out.where(F.col("knn_used")).select(
        "event_id",
        "tile_lat",
        "tile_lon",
        F.col("elevation").cast("int").alias("elevation"),
    )


def q_continent_route(spark, sf_dir):
    """S5 continent router over the derived points (download.rs:553-581)."""
    from .operators.geo_misc import continent_col

    pts = derive_points(_events(spark, sf_dir))
    return pts.select(
        "event_id", continent_col(F.col("lat"), F.col("lon")).alias("continent")
    )


def q_accuracy_stats(spark, sf_dir):
    """A5-style accuracy aggregate between nearest and floor kernels
    (scripts/compare_elevations.py:136-157) — exact int arithmetic."""
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    a = eng.elevation_join(pts, mode="nearest", strategy="broadcast", id_col="event_id").select(
        "event_id", F.col("elevation").alias("e_n")
    )
    b = eng.elevation_join(pts, mode="floor", strategy="broadcast", id_col="event_id").select(
        "event_id", F.col("elevation").alias("e_f")
    )
    j = a.join(b, "event_id").where(F.col("e_n").isNotNull() & F.col("e_f").isNotNull())
    d = F.abs(F.col("e_n").cast("long") - F.col("e_f").cast("long"))
    return j.agg(
        F.count("*").alias("n"),
        (F.sum(d).cast("double") / F.count("*")).alias("mae"),
        F.max(d).cast("int").alias("max_abs"),
        F.sum(F.when(d <= 1, 1).otherwise(0)).cast("long").alias("within_1m"),
    )


# phash windows for q_images_geotag_join: integer offsets/spans in phash
# u/v units (u: 2^32/180 per degree of lat; v: 2^31/360 per degree of lon),
# chosen so decoded coords land in the gradient-catalog window [35,37)x
# [138,140) with deterministic out-of-coverage (lat 75.x) and missing-tile
# (lat 50.x / lon 50.x) stripes — all derivable with exact BIGINT math in SQL
_PW = {
    "U35": 2982616178, "KU2": 47721858,   # lat [35, ~37)
    "U75": 3937053355, "KU1": 23860929,   # lat [75, ~76)
    "U50": 3340530120, "KU09": 21474836,  # lat [50, ~50.9)
    "V138": 1896943890, "KV2": 11930464,  # lon [138, ~140)
    "V50": 1371992331, "KV09": 5368709,   # lon [50, ~50.9)
}


def derive_image_phash(events: DataFrame) -> DataFrame:
    """(image_id, phash) in the exact input_hint geotag encoding, from
    event_id alone — the SQL-mirrorable twin of fixtures.make_images_pdf's
    RNG table (same phash layout: u = low 32 bits, v = next 31)."""
    e = F.col("event_id")
    p = _PW
    u = (
        F.when(e % 37 == 0, F.lit(p["U75"]) + (e * 7) % p["KU1"])
        .when(e % 11 == 0, F.lit(p["U50"]) + (e * 13) % p["KU09"])
        .otherwise(F.lit(p["U35"]) + (e * 7919) % p["KU2"])
    ).cast("long")
    v = (
        F.when(e % 37 == 0, F.lit(p["V138"]) + (e * 3) % p["KV2"])
        .when(e % 11 == 0, F.lit(p["V50"]) + (e * 17) % p["KV09"])
        .otherwise(F.lit(p["V138"]) + (e * 104729) % p["KV2"])
    ).cast("long")
    return events.select(
        F.concat(F.lit("img_"), e.cast("string")).alias("image_id"),
        (u + v * F.lit(4294967296).cast("long")).alias("phash"),
    )


def q_images_geotag_join(spark, sf_dir):
    """The north-rule input path with a FULL oracle: input_hint-shaped
    (image_id, phash) rows -> JVM-side phash bit-extraction geotags
    (cells.lat_from_phash) -> broadcast elevation join with kNN fallback.
    Everything except the binary payload is SQL-computable, so this closes
    the oracle gap that images_elevation_join (rows-only, payload included)
    cannot: found-tile gradient lookups, the void rule, out-of-coverage
    NULLs, and the kNN clamped-fraction path are all value-checked."""
    eng = get_engine(spark)
    imgs = derive_image_phash(_events(spark, sf_dir))
    out = eng.elevation_join(
        imgs, mode="nearest", strategy="broadcast", id_col="image_id",
        knn_fallback=True,
    )
    return out.select(
        "image_id", "phash", "lat", "lon", "tile_lat", "tile_lon",
        "in_coverage", "tile_found", "knn_used",
        F.col("elevation").cast("int").alias("elevation"),
    )


def q_cell_heatmap(spark, sf_dir):
    """Multi-resolution spatial density rollup (the tile/heatmap service
    query): image counts per cell at levels 0, 2, 4 of the H3/S2-style
    scheme (cells.cell_id_at_level), all levels in ONE scan + ONE shuffle.
    Scale shape: each point explodes into 3 (level, cell) keys, then a
    single hash aggregation — map-side partial combine bounds the shuffle
    by DISTINCT cell count (<= 64800 * 4^level), not by corpus rows, so
    the exchange stays tiny even at 10^12 images."""
    imgs = derive_image_phash(_events(spark, sf_dir))
    pts = imgs.select(
        cells.lat_from_phash(F.col("phash")).alias("lat"),
        cells.lon_from_phash(F.col("phash")).alias("lon"),
    )
    lc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lvl).cast("int").alias("level"),
                    cells.cell_id_at_level(F.col("lat"), F.col("lon"), lvl).alias(
                        "cell"
                    ),
                )
                for lvl in (0, 2, 4)
            ]
        )
    ).alias("lc")
    return (
        pts.select(lc)
        .groupBy(F.col("lc.level").alias("level"), F.col("lc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


# the shared POI reference grid for the kNN points join: 25 points, 5x5,
# closed-form (exactly-representable doubles), interpolated verbatim into
# the DuckDB VALUES list so both engines see identical literals
KNN_POIS = [
    (i, -60.0 + 24.0 * (i // 5) + 7.5, -150.0 + 60.0 * (i % 5) + 12.5)
    for i in range(25)
]


def q_knn_poi_join(spark, sf_dir):
    """Top-3 nearest POIs per image geotag (J11): the 2-D spatial analog
    of ANN top-k — POI set broadcast as an inline literal, ONE zero-shuffle
    codegen projection (array of (d2, poi_id) structs -> array_sort ->
    slice 3 -> posexplode). Exact double parity via fixed op order; ties
    break by poi_id."""
    from .operators.geo_misc import knn_points_join

    imgs = derive_image_phash(_events(spark, sf_dir))
    pts = imgs.select(
        "image_id",
        cells.lat_from_phash(F.col("phash")).alias("lat"),
        cells.lon_from_phash(F.col("phash")).alias("lon"),
    )
    return knn_points_join(pts, KNN_POIS, k=3)


def derive_images_table(events: DataFrame, spread: bool = True) -> DataFrame:
    """Full input_hint-shaped image table derived deterministically from
    event_id — every non-binary consequence is a closed form DuckDB can
    mirror, while the payloads are REAL encoded images (raw / P6 PPM /
    zlib) that the Spark side must actually decode:

    - w = 4 + e%13, h = 4 + e%11, fmt = [raw, ppm, rawz][e%3]
    - pixel k (row-major over h x w x 3): (e*31 + 7k) % 256 — channel
      means are exact-integer sums / (w*h), bit-identical across engines
    - caption = 'caption {e%7} of image {e}' (md5-checkable in SQL)
    - phash: the same coverage-window formulas as derive_image_phash
    """
    import pandas as pd

    from . import fixtures as fx

    p = _PW

    def gen(batches):
        import zlib

        for pdf in batches:
            e = pdf["event_id"].to_numpy(dtype=np.int64)
            w = (4 + e % 13).astype(np.int32)
            h = (4 + e % 11).astype(np.int32)
            fmts = np.array(["raw", "ppm", "rawz"])[e % 3]
            u = np.where(
                e % 37 == 0, p["U75"] + (e * 7) % p["KU1"],
                np.where(e % 11 == 0, p["U50"] + (e * 13) % p["KU09"],
                         p["U35"] + (e * 7919) % p["KU2"]),
            )
            v = np.where(
                e % 37 == 0, p["V138"] + (e * 3) % p["KV2"],
                np.where(e % 11 == 0, p["V50"] + (e * 17) % p["KV09"],
                         p["V138"] + (e * 104729) % p["KV2"]),
            )
            phash = u + v * 4294967296
            # one vectorized (rows x max_n) pixel matrix instead of a
            # per-image arange/modulo (pixel k of image e is
            # (e*31 + 7k) % 256, row-major; extra columns past each
            # image's own n are sliced off below) — the per-image Python
            # loop was the dominant CPU of every query that derives this
            # table inline (measured ~170us/image; vectorized ~3x less)
            n_arr = (h.astype(np.int64) * w.astype(np.int64) * 3)
            max_n = int(n_arr.max()) if len(n_arr) else 0
            k = np.arange(max_n, dtype=np.int64)
            px_mat = ((e[:, None] * 31 + 7 * k[None, :]) % 256).astype(np.uint8)
            payloads, caps = [], []
            for i in range(len(e)):
                raw = px_mat[i, : n_arr[i]].tobytes()
                f = fmts[i]
                if f == "raw":
                    payloads.append(raw)
                elif f == "ppm":
                    payloads.append(
                        b"P6\n%d %d\n255\n" % (int(w[i]), int(h[i])) + raw
                    )
                else:
                    payloads.append(zlib.compress(raw, level=1))
                caps.append(f"caption {int(e[i]) % 7} of image {int(e[i])}")
            yield pd.DataFrame(
                {
                    "image_id": [f"img_{int(x)}" for x in e],
                    "bytes": payloads,
                    "w": w,
                    "h": h,
                    "fmt": fmts,
                    "caption": caps,
                    "phash": phash,
                }
            )

    from .partitioning import spread_scan

    # spread_scan (opt-out): the per-image payload encode here — and every
    # decode kernel consuming this table — runs in the events scan's
    # partitioning; a single-row-group scan would pin all of it to one
    # core. Callers deriving a SMALL inline corpus (the near-dup chains)
    # pass spread=False: there the shuffle + wide stages cost more than
    # the single-core compute (interleaved A/B: 1.49s vs 2.46s).
    ids = events.select("event_id")
    if spread:
        ids = spread_scan(ids)
    return ids.mapInPandas(
        gen,
        schema=(
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long"
        ),
    )


def q_images_elevation_join(spark, sf_dir):
    """The north-rule input path end-to-end with a FULL value oracle:
    input_hint-shaped image rows (REAL raw/ppm/rawz payloads) ->
    phash-derived geotags -> broadcast elevation join with kNN fallback ->
    vectorized payload decode (multimodal.image_stats). The binary column
    itself is projected out of the result, but everything it determines —
    per-channel means from the actual decode, caption md5, fmt — is
    value-checked against closed forms; pixel-exact round-trip/PSNR checks
    live in tests/test_engine_spark.py::test_payload_passthrough and
    tests/test_multimodal.py."""
    from .operators import multimodal

    imgs = derive_images_table(_events(spark, sf_dir))
    eng = get_engine(spark)
    out = eng.elevation_join(
        imgs, mode="nearest", strategy="broadcast", id_col="image_id",
        knn_fallback=True,
    )
    stats = multimodal.image_stats(out.select("image_id", "bytes", "w", "h", "fmt"))
    return out.select(
        "image_id", "phash", "lat", "lon", "tile_lat", "tile_lon",
        "in_coverage", "tile_found", "knn_used",
        F.col("elevation").cast("int").alias("elevation"),
        F.md5(F.encode(F.col("caption"), "UTF-8")).alias("caption_md5"),
        "fmt",
    ).join(stats.select("image_id", "mean_r", "mean_g", "mean_b"), "image_id")


def q_image_chips(spark, sf_dir):
    """Fixed-size training-patch extraction (multimodal.chip_images):
    every input_hint image split into non-overlapping 4x4 chips (partial
    edges dropped), REAL payloads decoded on the Spark side. The oracle
    recomputes every chip's exact per-channel sums from the pixel closed
    form ((e*31 + 7k) % 256 at k = (r*w + c)*3 + ch), so the crop bounds,
    the chip indexing, and the channel split are all value-checked;
    chip BYTES vs an independent NumPy split are pytest-checked
    (tests/test_multimodal.py)."""
    from .operators import multimodal

    imgs = derive_images_table(_events(spark, sf_dir))
    out = multimodal.chip_images(imgs, chip=4)
    return out.select(
        "image_id", "chip_row", "chip_col", "w", "h",
        "sum_r", "sum_g", "sum_b",
    )


def q_image_quality(spark, sf_dir):
    """Exact-integer blur/exposure curation metrics over REAL decoded
    payloads (multimodal.image_quality): Laplacian focus sum-of-squares,
    edge count, channel clipping counts, gray dynamic range. The oracle
    recomputes every interior pixel's 4-neighbor Laplacian directly from
    the pixel closed form (neighbors of flat index p are p±1 and p±w), so
    the decode, the gray reduction, and the interior bounds are all
    value-checked without the oracle ever seeing a byte."""
    from .operators import multimodal

    imgs = derive_images_table(_events(spark, sf_dir))
    return multimodal.image_quality(imgs, edge_thresh=64)


def q_image_histogram(spark, sf_dir):
    """Per-channel 8-bin color histograms over REAL decoded payloads
    (multimodal.image_histogram), long form with empty bins materialized —
    one row per (image, channel, bin). All-integer bin math
    (bin = pixel >> 5), so the oracle recounts every bin from the pixel
    closed form and left-joins a dense (image x channel x bin) grid to
    pin the zero bins too."""
    from .operators import multimodal

    imgs = derive_images_table(_events(spark, sf_dir))
    return multimodal.image_histogram(imgs, bins=8)


def derive_audio_table(events: DataFrame, spread: bool = True) -> DataFrame:
    """Deterministic audio-clip table (the audio leg of the input_hint
    shape): every non-binary consequence is a closed form DuckDB can
    mirror, while the payloads are REAL encoded clips the Spark side must
    decode:

    - sr = 8000 * (1 + e%3), n_samples = 256 + e%200
    - sample k: ((e*17 + 5k) % 65536) - 32768 — full int16 range
    - fmt = pcm16 when e even else pcm16z (zlib)
    """
    import zlib

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            e = pdf["event_id"].to_numpy(dtype=np.int64)
            sr = (8000 * (1 + e % 3)).astype(np.int32)
            ns = (256 + e % 200).astype(np.int32)
            # vectorized (rows x max_ns) sample matrix; per-row slice only
            # (see derive_images_table — same per-row-loop elimination)
            max_ns = int(ns.max()) if len(ns) else 0
            k = np.arange(max_ns, dtype=np.int64)
            s_mat = (((e[:, None] * 17 + 5 * k[None, :]) % 65536) - 32768).astype("<i2")
            even = (e % 2 == 0)
            payloads, fmts = [], []
            for i in range(len(e)):
                raw = s_mat[i, : int(ns[i])].tobytes()
                if even[i]:
                    payloads.append(raw)
                    fmts.append("pcm16")
                else:
                    payloads.append(zlib.compress(raw, level=1))
                    fmts.append("pcm16z")
            yield pd.DataFrame(
                {
                    "audio_id": [f"aud_{int(x)}" for x in e],
                    "bytes": payloads,
                    "sr": sr,
                    "n_samples": ns,
                    "fmt": fmts,
                }
            )

    from .partitioning import spread_scan

    ids = events.select("event_id")
    if spread:
        ids = spread_scan(ids)
    return ids.mapInPandas(
        gen,
        schema="audio_id string, bytes binary, sr int, n_samples int, fmt string",
    )


def derive_video_table(events: DataFrame, spread: bool = True) -> DataFrame:
    """Deterministic video-clip table ('rawv' = n_frames raw RGB frames
    concatenated): w = 4 + e%5, h = 4 + e%4, n_frames = 6 + e%10, frame f
    pixel k: (e*31 + 11f + 7k) % 256."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            e = pdf["event_id"].to_numpy(dtype=np.int64)
            w = (4 + e % 5).astype(np.int32)
            h = (4 + e % 4).astype(np.int32)
            nf = (6 + e % 10).astype(np.int32)
            payloads = []
            for i in range(len(e)):
                fn = int(h[i]) * int(w[i]) * 3
                f = np.arange(int(nf[i]), dtype=np.int64)[:, None]
                k = np.arange(fn, dtype=np.int64)[None, :]
                px = ((int(e[i]) * 31 + 11 * f + 7 * k) % 256).astype(np.uint8)
                payloads.append(px.tobytes())
            yield pd.DataFrame(
                {
                    "video_id": [f"vid_{int(x)}" for x in e],
                    "bytes": payloads,
                    "w": w,
                    "h": h,
                    "n_frames": nf,
                    "fmt": ["rawv"] * len(e),
                }
            )

    from .partitioning import spread_scan

    ids = events.select("event_id")
    if spread:
        ids = spread_scan(ids)
    return ids.mapInPandas(
        gen,
        schema=(
            "video_id string, bytes binary, w int, h int, n_frames int, "
            "fmt string"
        ),
    )


def q_audio_features(spark, sf_dir):
    """Audio feature extraction end-to-end (multimodal.audio_features):
    REAL pcm16/pcm16z payloads decoded vectorized; every feature exact
    integer except rms, which is one documented divide + sqrt. The oracle
    recomputes all of them from the sample closed form."""
    from .operators import multimodal

    aud = derive_audio_table(_events(spark, sf_dir))
    return multimodal.audio_features(aud)


def q_video_frames(spark, sf_dir):
    """Video frame sampling end-to-end (multimodal.video_frame_sample):
    every 3rd frame of each REAL 'rawv' clip emitted as an image row with
    exact per-channel sums; the oracle recomputes the sampled frame set
    and sums from the pixel closed form. Frame BYTES vs independent NumPy
    slices are pytest-checked (tests/test_multimodal.py)."""
    from .operators import multimodal

    vid = derive_video_table(_events(spark, sf_dir))
    out = multimodal.video_frame_sample(vid, every_n=3)
    return out.select(
        "image_id", "frame_idx", "w", "h", "sum_r", "sum_g", "sum_b"
    )


def q_image_augment(spark, sf_dir):
    """Deterministic augmentation stage (multimodal.augment_images):
    saturating brightness shift + horizontal flip with per-image
    parameters derived in closed form from the id (delta = e%96 - 48,
    flip = e even), REAL payloads decoded/re-encoded on the Spark side.
    The oracle recomputes the exact per-channel sums of the augmented
    pixels (LEAST/GREATEST saturation over the pixel closed form); flip
    permutes pixels within rows so sums are flip-invariant — the flipped
    BYTES are pytest-checked against a direct NumPy reverse
    (tests/test_multimodal.py)."""
    from .operators import multimodal

    imgs = derive_images_table(_events(spark, sf_dir))
    e = F.split(F.col("image_id"), "_").getItem(1).cast("long")
    out = multimodal.augment_images(
        imgs.withColumn("aug_delta", ((e % 96) - 48).cast("int")).withColumn(
            "aug_flip", (e % 2) == 0
        )
    )
    return out.select(
        "image_id", "w", "h", "aug_delta", "aug_flip", "sum_r", "sum_g", "sum_b"
    )


def q_tile_info(spark, sf_dir):
    eng = get_engine(spark)
    info = cat_mod.tile_info(eng.catalog)
    return info.select(
        "tile_lat", "tile_lon", "min_elev", "max_elev",
        F.col("void_count").cast("long").alias("void_count"),
        "void_pct",
    )


def q_tile_inventory(spark, sf_dir):
    eng = get_engine(spark)
    return cat_mod.tile_inventory(eng.catalog)


def q_bbox_preload(spark, sf_dir):
    """P4 preload bbox filter: tiles overlapping each box (strict-inequality
    half-open overlap, service.rs:102-110)."""
    eng = get_engine(spark)
    boxes = [
        (0, 35.2, 138.2, 35.8, 138.8),
        (1, 35.0, 138.0, 37.0, 140.0),
        (2, 36.0, 139.0, 36.5, 139.5),
        (3, -10.0, -10.0, 0.0, 0.0),
        (4, 35.999, 138.999, 36.001, 139.001),
    ]
    bx = spark.createDataFrame(boxes, "box_id int, min_lat double, min_lon double, max_lat double, max_lon double")
    t = eng.catalog.select("tile_lat", "tile_lon")
    j = bx.crossJoin(t).where(
        (F.col("min_lat") < (F.col("tile_lat") + 1).cast("double"))
        & (F.col("max_lat") > F.col("tile_lat").cast("double"))
        & (F.col("min_lon") < (F.col("tile_lon") + 1).cast("double"))
        & (F.col("max_lon") > F.col("tile_lon").cast("double"))
    )
    return (
        bx.join(j.groupBy("box_id").agg(F.count("*").alias("matched")), "box_id", "left")
        .select("box_id", F.coalesce("matched", F.lit(0)).alias("matched"))
        .orderBy("box_id")
    )


# --- oracle SQL -------------------------------------------------------------------

_TILES_VALUES = "(VALUES (35, 138), (35, 139), (36, 138)) AS tiles(tile_lat, tile_lon)"


def oracle_sql() -> dict[str, str]:
    nearest = (
        _SQL_PTS
        + ", "
        + _SQL_ROUND_RC
        + f"SELECT event_id, {_SQL_NEAREST_ELEV} AS elevation FROM rc"
    )
    floor_q = (
        _SQL_PTS
        + ", "
        + _SQL_FLOOR_RC
        + f"SELECT event_id, {_SQL_NEAREST_ELEV} AS elevation FROM rc"
    )
    default_fill = (
        _SQL_PTS
        + ", "
        + _SQL_ROUND_RC
        + f"SELECT event_id, COALESCE({_SQL_NEAREST_ELEV}, -1) AS elevation FROM rc"
    )
    bilinear = (
        _SQL_PTS
        + ", "
        + _SQL_BILINEAR_RC
        + f"SELECT event_id, {_SQL_BILINEAR_ELEV} AS elevation FROM rc"
    )
    tile_assignment = (
        _SQL_PTS
        + """
SELECT event_id, tile_lat, tile_lon,
  printf('%s%02d%s%03d.hgt',
         CASE WHEN tile_lat >= 0 THEN 'N' ELSE 'S' END, abs(tile_lat),
         CASE WHEN tile_lon >= 0 THEN 'E' ELSE 'W' END, abs(tile_lon)) AS filename,
  in_coverage, (in_coverage AND has_tile) AS tile_found
FROM keyed
"""
    )
    coverage_counts = (
        _SQL_PTS
        + """
SELECT in_coverage, (in_coverage AND has_tile) AS tile_found, count(*) AS n
FROM keyed GROUP BY 1, 2 ORDER BY 1, 2
"""
    )
    cell_ids = (
        _SQL_PTS
        + """
SELECT event_id,
  (CAST(tile_lat AS BIGINT) + 90) * 360 + (CAST(tile_lon AS BIGINT) + 180) AS cell0,
  ((CAST(tile_lat AS BIGINT) + 90) * 360 + (CAST(tile_lon AS BIGINT) + 180)) * 256
    + CAST(floor((lat - floor(lat)) * 16) AS BIGINT) * 16
    + CAST(floor((lon - floor(lon)) * 16) AS BIGINT) AS cell4
FROM keyed
"""
    )
    filename_roundtrip = (
        _SQL_PTS
        + """
SELECT event_id,
  printf('%s%02d%s%03d.hgt',
         CASE WHEN tile_lat >= 0 THEN 'N' ELSE 'S' END, abs(tile_lat),
         CASE WHEN tile_lon >= 0 THEN 'E' ELSE 'W' END, abs(tile_lon)) AS filename,
  tile_lat AS parsed_lat, tile_lon AS parsed_lon
FROM keyed
"""
    )
    knn = (
        _SQL_PTS
        + """,
cand AS (
  SELECT k.event_id, k.lat, k.lon, tiles.tile_lat AS tla, tiles.tile_lon AS tlo,
    (k.lat - (tiles.tile_lat + 0.5)) * (k.lat - (tiles.tile_lat + 0.5))
      + (k.lon - (tiles.tile_lon + 0.5)) * (k.lon - (tiles.tile_lon + 0.5)) AS d
  FROM keyed k CROSS JOIN """
        + _TILES_VALUES
        + """
  WHERE k.in_coverage AND NOT k.has_tile
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d, tla, tlo) AS rn FROM cand
),
clamped AS (
  SELECT event_id, tla, tlo,
    (1.0 - LEAST(GREATEST(lat - CAST(tla AS DOUBLE), 0.0), 1.0)) * 1200.0 AS rp,
    LEAST(GREATEST(lon - CAST(tlo AS DOUBLE), 0.0), 1.0) * 1200.0 AS cp
  FROM best WHERE rn = 1
),
rc AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c
  FROM clamped
)
SELECT event_id, tla AS tile_lat, tlo AS tile_lon,
  CASE WHEN (r * 1201 + c) % 97 <> 0 THEN CAST((r + c) % 4000 AS INTEGER) ELSE NULL END AS elevation
FROM rc
"""
    )
    accuracy = (
        _SQL_PTS
        + """,
rcn AS (
  SELECT event_id, in_coverage, has_tile,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c,
    CAST(floor(rp) AS BIGINT) AS rf, CAST(floor(cp) AS BIGINT) AS cf
  FROM pos
),
both_e AS (
  SELECT event_id,
    CASE WHEN in_coverage AND has_tile AND ((r * 1201 + c) % 97 <> 0)
         THEN (r + c) % 4000 ELSE NULL END AS e_n,
    CASE WHEN in_coverage AND has_tile AND ((rf * 1201 + cf) % 97 <> 0)
         THEN (rf + cf) % 4000 ELSE NULL END AS e_f
  FROM rcn
)
SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(abs(e_n - e_f)) AS DOUBLE) / count(*) AS mae,
  CAST(max(abs(e_n - e_f)) AS INTEGER) AS max_abs,
  CAST(sum(CASE WHEN abs(e_n - e_f) <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS within_1m
FROM both_e WHERE e_n IS NOT NULL AND e_f IS NOT NULL
"""
    )
    # shared CTE body (geotag decode -> keyed -> found/ooc/knn branches);
    # used by BOTH images_geotag_join and images_elevation_join oracles
    images_cte = images_pts_cte() + f""",
ikeyed AS (
  SELECT *,
    CAST(floor(lat) AS INTEGER) AS tl, CAST(floor(lon) AS INTEGER) AS tn,
    (lat >= -60.0 AND lat <= 60.0 AND lon >= -180.0 AND lon <= 180.0) AS in_cov,
    ((CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 138)
     OR (CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 139)
     OR (CAST(floor(lat) AS INTEGER) = 36 AND CAST(floor(lon) AS INTEGER) = 138)) AS has_tile
  FROM ipts
),
frc AS (
  SELECT *,
    (1.0 - (lat - floor(lat))) * 1200.0 AS rp, (lon - floor(lon)) * 1200.0 AS cp
  FROM ikeyed WHERE in_cov AND has_tile
),
frc2 AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c
  FROM frc
),
found_out AS (
  SELECT image_id, phash, lat, lon, tl AS tile_lat, tn AS tile_lon,
    TRUE AS in_coverage, TRUE AS tile_found, FALSE AS knn_used,
    CASE WHEN (r * 1201 + c) % 97 <> 0 THEN CAST((r + c) % 4000 AS INTEGER)
         ELSE NULL END AS elevation
  FROM frc2
),
ooc_out AS (
  SELECT image_id, phash, lat, lon, tl AS tile_lat, tn AS tile_lon,
    FALSE AS in_coverage, FALSE AS tile_found, FALSE AS knn_used,
    CAST(NULL AS INTEGER) AS elevation
  FROM ikeyed WHERE NOT in_cov
),
icand AS (
  SELECT k.image_id, k.phash, k.lat, k.lon, tiles.tile_lat AS tla, tiles.tile_lon AS tlo,
    (k.lat - (tiles.tile_lat + 0.5)) * (k.lat - (tiles.tile_lat + 0.5))
      + (k.lon - (tiles.tile_lon + 0.5)) * (k.lon - (tiles.tile_lon + 0.5)) AS d
  FROM ikeyed k CROSS JOIN {_TILES_VALUES}
  WHERE k.in_cov AND NOT k.has_tile
),
ibest AS (
  SELECT *, row_number() OVER (PARTITION BY image_id ORDER BY d, tla, tlo) AS rn FROM icand
),
iclamped AS (
  SELECT image_id, phash, lat, lon, tla, tlo,
    (1.0 - LEAST(GREATEST(lat - CAST(tla AS DOUBLE), 0.0), 1.0)) * 1200.0 AS rp,
    LEAST(GREATEST(lon - CAST(tlo AS DOUBLE), 0.0), 1.0) * 1200.0 AS cp
  FROM ibest WHERE rn = 1
),
irc AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c
  FROM iclamped
),
knn_out AS (
  SELECT image_id, phash, lat, lon, tla AS tile_lat, tlo AS tile_lon,
    TRUE AS in_coverage, TRUE AS tile_found, TRUE AS knn_used,
    CASE WHEN (r * 1201 + c) % 97 <> 0 THEN CAST((r + c) % 4000 AS INTEGER)
         ELSE NULL END AS elevation
  FROM irc
)"""
    images_geotag = (
        images_cte
        + """
SELECT * FROM found_out
UNION ALL SELECT * FROM ooc_out
UNION ALL SELECT * FROM knn_out
"""
    )
    # images_elevation_join: the geotag/elevation branches above, joined to
    # closed-form payload consequences — decoded channel means (exact int
    # pixel sums / (w*h)), caption md5, fmt — of the deterministic table
    # derive_images_table builds (real binary payloads on the Spark side)
    images_elev = (
        images_cte
        + """,
pxk AS (
  SELECT event_id,
    unnest(generate_series(0, (4 + event_id % 13) * (4 + event_id % 11) * 3 - 1)) AS k
  FROM events
),
chan AS (
  SELECT event_id,
    CAST(sum(CASE WHEN k % 3 = 0 THEN (event_id * 31 + 7 * k) % 256 END) AS DOUBLE) AS sr,
    CAST(sum(CASE WHEN k % 3 = 1 THEN (event_id * 31 + 7 * k) % 256 END) AS DOUBLE) AS sg,
    CAST(sum(CASE WHEN k % 3 = 2 THEN (event_id * 31 + 7 * k) % 256 END) AS DOUBLE) AS sb
  FROM pxk GROUP BY event_id
),
istats AS (
  SELECT 'img_' || CAST(e.event_id AS VARCHAR) AS image_id,
    md5('caption ' || CAST(e.event_id % 7 AS VARCHAR)
        || ' of image ' || CAST(e.event_id AS VARCHAR)) AS caption_md5,
    CASE e.event_id % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'ppm' ELSE 'rawz' END AS fmt,
    c.sr / CAST((4 + e.event_id % 13) * (4 + e.event_id % 11) AS DOUBLE) AS mean_r,
    c.sg / CAST((4 + e.event_id % 13) * (4 + e.event_id % 11) AS DOUBLE) AS mean_g,
    c.sb / CAST((4 + e.event_id % 13) * (4 + e.event_id % 11) AS DOUBLE) AS mean_b
  FROM events e JOIN chan c ON c.event_id = e.event_id
),
uo AS (
  SELECT * FROM found_out
  UNION ALL SELECT * FROM ooc_out
  UNION ALL SELECT * FROM knn_out
)
SELECT uo.image_id, uo.phash, uo.lat, uo.lon, uo.tile_lat, uo.tile_lon,
  uo.in_coverage, uo.tile_found, uo.knn_used, uo.elevation,
  s.caption_md5, s.fmt, s.mean_r, s.mean_g, s.mean_b
FROM uo JOIN istats s ON s.image_id = uo.image_id
"""
    )
    # image_chips: every full 4x4 patch's exact per-channel sums from the
    # pixel closed form; the crop drops partial edges (r < (h//4)*4,
    # c < (w//4)*4) exactly like the reshape split. w = 4 + e%13 (width),
    # h = 4 + e%11 (height); pixel k = (r*w + c)*3 + ch.
    image_chips_sql = """
WITH pxk AS (
  SELECT event_id,
    unnest(generate_series(0, (4 + event_id % 13) * (4 + event_id % 11) * 3 - 1)) AS k
  FROM events
),
px AS (
  SELECT event_id,
    (k // 3) // (4 + event_id % 13) AS r,
    (k // 3) % (4 + event_id % 13) AS c,
    k % 3 AS ch,
    (event_id * 31 + 7 * k) % 256 AS val
  FROM pxk
)
SELECT 'img_' || CAST(event_id AS VARCHAR) AS image_id,
  CAST(r // 4 AS INTEGER) AS chip_row,
  CAST(c // 4 AS INTEGER) AS chip_col,
  CAST(4 AS INTEGER) AS w, CAST(4 AS INTEGER) AS h,
  CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_r,
  CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_g,
  CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_b
FROM px
WHERE r < ((4 + event_id % 11) // 4) * 4
  AND c < ((4 + event_id % 13) // 4) * 4
GROUP BY event_id, r // 4, c // 4
"""

    # image_quality: interior Laplacians straight from the pixel closed
    # form — the 4-neighbors of flat pixel p are p±1 (same row) and p±w
    def _g(q: str) -> str:
        return (
            f"((e * 31 + 7 * (3 * ({q}))) % 256"
            f" + (e * 31 + 7 * (3 * ({q}) + 1)) % 256"
            f" + (e * 31 + 7 * (3 * ({q}) + 2)) % 256)"
        )

    image_quality_sql = f"""
WITH dims AS (
  SELECT event_id AS e, 4 + event_id % 13 AS w, 4 + event_id % 11 AS h FROM events
),
pxk AS (
  SELECT e, unnest(generate_series(0, w * h * 3 - 1)) AS k FROM dims
),
clip AS (
  SELECT e,
    sum(CASE WHEN (e * 31 + 7 * k) % 256 = 0 THEN 1 ELSE 0 END) AS n_clip_lo,
    sum(CASE WHEN (e * 31 + 7 * k) % 256 = 255 THEN 1 ELSE 0 END) AS n_clip_hi
  FROM pxk GROUP BY e
),
gp AS (
  SELECT e, w, h, unnest(generate_series(0, w * h - 1)) AS p FROM dims
),
gray AS (SELECT e, w, h, p, {_g("p")} AS g FROM gp),
rng AS (SELECT e, max(g) - min(g) AS dyn_range FROM gray GROUP BY e),
lap AS (
  SELECT e,
    4 * g - {_g("p - w")} - {_g("p + w")} - {_g("p - 1")} - {_g("p + 1")} AS L
  FROM gray
  WHERE p // w >= 1 AND p // w < h - 1 AND p % w >= 1 AND p % w < w - 1
),
foc AS (
  SELECT e, sum(L * L) AS lap_ss,
    sum(CASE WHEN abs(L) >= 64 THEN 1 ELSE 0 END) AS edge_count
  FROM lap GROUP BY e
)
SELECT 'img_' || CAST(d.e AS VARCHAR) AS image_id,
  CAST(COALESCE(f.lap_ss, 0) AS BIGINT) AS lap_ss,
  CAST(COALESCE(f.edge_count, 0) AS BIGINT) AS edge_count,
  CAST(c.n_clip_lo AS BIGINT) AS n_clip_lo,
  CAST(c.n_clip_hi AS BIGINT) AS n_clip_hi,
  CAST(r.dyn_range AS BIGINT) AS dyn_range
FROM dims d
JOIN clip c ON c.e = d.e
JOIN rng r ON r.e = d.e
LEFT JOIN foc f ON f.e = d.e
"""
    # vision_pipeline_e2e: the WHOLE composed chain recomputed closed-form —
    # quality gate (clip counts + gray dynamic range, the image_quality
    # fragments), aHash over gate survivors (the frame_near_dup lattice
    # machinery with the base-image pixel formula), exact-hash collapse to
    # lexicographic-min canonicals with group sizes, then the chip rollup
    # as sums over the crop-to-multiple-of-4 pixel region. All exact
    # integers end to end.
    vision_e2e_sql = f"""
WITH dims AS (
  SELECT event_id AS e, 4 + event_id % 13 AS w, 4 + event_id % 11 AS h FROM events
),
pxk AS (SELECT e, unnest(generate_series(0, w * h * 3 - 1)) AS k FROM dims),
clip AS (
  SELECT e,
    sum(CASE WHEN (e * 31 + 7 * k) % 256 = 0 THEN 1 ELSE 0 END) AS lo,
    sum(CASE WHEN (e * 31 + 7 * k) % 256 = 255 THEN 1 ELSE 0 END) AS hi
  FROM pxk GROUP BY e
),
gp AS (SELECT e, w, h, unnest(generate_series(0, w * h - 1)) AS p FROM dims),
grayp AS (SELECT e, w, h, p, {_g("p")} AS gr FROM gp),
rng AS (SELECT e, max(gr) - min(gr) AS dyn FROM grayp GROUP BY e),
gate AS (
  SELECT d.e, d.w, d.h FROM dims d
  JOIN clip c ON c.e = d.e JOIN rng r ON r.e = d.e
  WHERE r.dyn >= 200 AND c.lo + c.hi <= 2
),
cells AS (
  SELECT v.e, gi.range AS i, gj.range AS j,
    (((gi.range * v.h) // 8) * v.w + ((gj.range * v.w) // 8)) * 3 AS k0
  FROM gate v, range(0, 8) gi, range(0, 8) gj
),
cg AS (
  SELECT e, i * 8 + j AS idx,
      (e * 31 + 7 * k0) % 256 + (e * 31 + 7 * (k0 + 1)) % 256
    + (e * 31 + 7 * (k0 + 2)) % 256 AS gr
  FROM cells
),
tot AS (SELECT e, sum(gr) AS total FROM cg GROUP BY e),
hs AS (
  SELECT cg.e, CAST(sum(CASE WHEN idx < 63 AND cg.gr * 64 >= t.total
      THEN (1::BIGINT << CAST(idx AS INT)) ELSE 0::BIGINT END) AS BIGINT) AS ahash
  FROM cg JOIN tot t USING (e) GROUP BY cg.e
),
reps AS (
  SELECT e, 'img_' || CAST(e AS VARCHAR) AS image_id, ahash,
    count(*) OVER (PARTITION BY ahash) AS grp_size,
    min('img_' || CAST(e AS VARCHAR)) OVER (PARTITION BY ahash) AS canon
  FROM hs QUALIFY image_id = canon
),
repd AS (
  SELECT r.e, r.image_id, d.w, d.h
  FROM reps r JOIN dims d ON d.e = r.e
),
cp AS (
  SELECT e, image_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
  FROM repd
),
roll AS (
  SELECT image_id,
    CAST((w // 4) * (h // 4) AS BIGINT) AS n_chips,
    CAST(sum((e * 31 + 7 * (3 * p)) % 256) AS BIGINT) AS tot_r,
    CAST(sum((e * 31 + 7 * (3 * p + 1)) % 256) AS BIGINT) AS tot_g,
    CAST(sum((e * 31 + 7 * (3 * p + 2)) % 256) AS BIGINT) AS tot_b
  FROM cp
  WHERE (p // w) < (h // 4) * 4 AND (p % w) < (w // 4) * 4
  GROUP BY image_id, e, w, h
)
SELECT r.image_id, r.ahash, CAST(r.grp_size AS BIGINT) AS grp_size,
  l.n_chips, l.tot_r, l.tot_g, l.tot_b
FROM reps r JOIN roll l ON l.image_id = r.image_id
"""
    # image_histogram: recount every (channel, bin) from the pixel closed
    # form (channel = k % 3 since the last axis of the row-major (h, w, 3)
    # block is the channel; bin = value // 32 for 8 bins), then left-join a
    # dense image x channel x bin grid so empty bins pin as zero
    image_histogram_sql = """
WITH dims AS (
  SELECT event_id AS e, 4 + event_id % 13 AS w, 4 + event_id % 11 AS h FROM events
),
pxk AS (SELECT e, unnest(generate_series(0, w * h * 3 - 1)) AS k FROM dims),
cnts AS (
  SELECT e, k % 3 AS channel, ((e * 31 + 7 * k) % 256) // 32 AS bin,
    count(*) AS c
  FROM pxk GROUP BY e, k % 3, ((e * 31 + 7 * k) % 256) // 32
),
grid AS (
  SELECT e, ch.range AS channel, b.range AS bin
  FROM dims, range(0, 3) ch, range(0, 8) b
)
SELECT 'img_' || CAST(g.e AS VARCHAR) AS image_id,
  CAST(g.channel AS INT) AS channel, CAST(g.bin AS INT) AS bin,
  CAST(coalesce(c.c, 0) AS BIGINT) AS cnt
FROM grid g
LEFT JOIN cnts c ON c.e = g.e AND c.channel = g.channel AND c.bin = g.bin
"""
    # audio_features: every feature from the sample closed form
    # ((e*17 + 5k) % 65536) - 32768; integer except rms = sqrt(sum_sq / n)
    # in the kernel's documented op order
    audio_features_sql = """
WITH sk AS (
  SELECT event_id,
    unnest(generate_series(0, 256 + event_id % 200 - 1)) AS k
  FROM events
),
s AS (
  SELECT event_id, k,
    ((event_id * 17 + 5 * k) % 65536) - 32768 AS v
  FROM sk
),
agg AS (
  SELECT event_id,
    count(*) AS n,
    CAST(max(abs(v)) AS BIGINT) AS peak,
    CAST(sum(v * v) AS BIGINT) AS sum_sq,
    CAST(sum(CASE WHEN k >= 1
      AND (((event_id * 17 + 5 * (k - 1)) % 65536) - 32768) * v < 0
      THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM s GROUP BY event_id
)
SELECT 'aud_' || CAST(event_id AS VARCHAR) AS audio_id,
  CAST(n AS BIGINT) AS n_samples,
  CAST(n * 1000000 // (8000 * (1 + event_id % 3)) AS BIGINT) AS duration_us,
  peak, sum_sq, zero_crossings,
  sqrt(CAST(sum_sq AS DOUBLE) / CAST(n AS DOUBLE)) AS rms
FROM agg
"""
    # video_frames: sampled-frame channel sums from the pixel closed form
    # (e*31 + 11f + 7k) % 256, every 3rd frame
    video_frames_sql = """
WITH fs AS (
  SELECT event_id,
    unnest(generate_series(0, 6 + event_id % 10 - 1)) AS f
  FROM events
),
sel AS (SELECT event_id, f FROM fs WHERE f % 3 = 0),
pk AS (
  SELECT event_id, f,
    unnest(generate_series(0, (4 + event_id % 5) * (4 + event_id % 4) * 3 - 1)) AS k
  FROM sel
),
px AS (
  SELECT event_id, f, k % 3 AS ch,
    (event_id * 31 + 11 * f + 7 * k) % 256 AS val
  FROM pk
)
SELECT 'vid_' || CAST(event_id AS VARCHAR) || '_f' || CAST(f AS VARCHAR)
    AS image_id,
  CAST(f AS INTEGER) AS frame_idx,
  CAST(4 + event_id % 5 AS INTEGER) AS w,
  CAST(4 + event_id % 4 AS INTEGER) AS h,
  CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_r,
  CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_g,
  CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_b
FROM px GROUP BY event_id, f
"""
    # image_augment: per-channel sums of the saturated brightness shift
    # over the pixel closed form; the horizontal flip permutes pixels
    # within (row, channel) so the sums are flip-invariant by construction
    image_augment_sql = """
WITH pxk AS (
  SELECT event_id,
    unnest(generate_series(0, (4 + event_id % 13) * (4 + event_id % 11) * 3 - 1)) AS k
  FROM events
),
ax AS (
  SELECT event_id, k % 3 AS ch,
    LEAST(255, GREATEST(0,
      (event_id * 31 + 7 * k) % 256 + ((event_id % 96) - 48))) AS val
  FROM pxk
)
SELECT 'img_' || CAST(event_id AS VARCHAR) AS image_id,
  CAST(4 + event_id % 13 AS INTEGER) AS w,
  CAST(4 + event_id % 11 AS INTEGER) AS h,
  CAST((event_id % 96) - 48 AS INTEGER) AS aug_delta,
  (event_id % 2 = 0) AS aug_flip,
  CAST(sum(CASE WHEN ch = 0 THEN val END) AS BIGINT) AS sum_r,
  CAST(sum(CASE WHEN ch = 1 THEN val END) AS BIGINT) AS sum_g,
  CAST(sum(CASE WHEN ch = 2 THEN val END) AS BIGINT) AS sum_b
FROM ax GROUP BY event_id
"""
    tile_info_sql = """
WITH g AS (SELECT r.range AS row, c.range AS col FROM range(0, 1201) r, range(0, 1201) c),
cells_t AS (
  SELECT tiles.tile_lat, tiles.tile_lon,
    ((row * 1201 + col) % 97 = 0) AS is_void,
    CAST((row + col) % 4000 AS INTEGER) AS elev
  FROM """ + _TILES_VALUES + """ CROSS JOIN g
)
SELECT tile_lat, tile_lon,
  MIN(CASE WHEN NOT is_void THEN elev END) AS min_elev,
  MAX(CASE WHEN NOT is_void THEN elev END) AS max_elev,
  CAST(SUM(CASE WHEN is_void THEN 1 ELSE 0 END) AS BIGINT) AS void_count,
  CAST(SUM(CASE WHEN is_void THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 100.0 AS void_pct
FROM cells_t GROUP BY 1, 2
"""
    inventory = """
SELECT 'SRTM3' AS resolution, CAST(3 AS BIGINT) AS tile_count,
       CAST(3 AS BIGINT) * 2884802 AS total_bytes
"""
    bbox = """
WITH boxes(box_id, min_lat, min_lon, max_lat, max_lon) AS (VALUES
  (0, 35.2, 138.2, 35.8, 138.8),
  (1, 35.0, 138.0, 37.0, 140.0),
  (2, 36.0, 139.0, 36.5, 139.5),
  (3, -10.0, -10.0, 0.0, 0.0),
  (4, 35.999, 138.999, 36.001, 139.001)
),
m AS (
  SELECT b.box_id, count(*) AS matched
  FROM boxes b JOIN """ + _TILES_VALUES + """
    ON b.min_lat < CAST(tiles.tile_lat + 1 AS DOUBLE)
   AND b.max_lat > CAST(tiles.tile_lat AS DOUBLE)
   AND b.min_lon < CAST(tiles.tile_lon + 1 AS DOUBLE)
   AND b.max_lon > CAST(tiles.tile_lon AS DOUBLE)
  GROUP BY 1
)
SELECT b.box_id, COALESCE(m.matched, 0) AS matched
FROM boxes b LEFT JOIN m ON b.box_id = m.box_id ORDER BY b.box_id
"""
    continent = (
        _SQL_PTS
        + """
SELECT event_id,
  CASE
    WHEN lat >= 15.0 AND lat <= 60.0 AND lon >= -170.0 AND lon <= -50.0 THEN 'North_America'
    WHEN lat >= -60.0 AND lat <= 15.0 AND lon >= -90.0 AND lon <= -30.0 THEN 'South_America'
    WHEN lat >= -50.0 AND lat <= -10.0 AND lon >= 110.0 AND lon <= 180.0 THEN 'Australia'
    WHEN lat >= -35.0 AND lat <= 35.0 AND lon >= -20.0 AND lon <= 55.0 THEN 'Africa'
    WHEN lat >= 0.0 AND lat <= 60.0 AND lon >= -15.0 AND lon <= 180.0 THEN 'Eurasia'
    ELSE NULL END AS continent
FROM keyed
"""
    )
    # the per-level closed forms below are the SQL mirror of
    # cells.cell_id_at_level (level = 0/2/4 -> 4^level subcells/degree):
    # identical IEEE double ops (same lat/lon derivation the other image
    # oracles pin), so the floor() cell assignments agree bit-for-bit
    cell_heatmap = (
        images_pts_cte()
        + """,
h AS (
  SELECT 0 AS level,
    (CAST(floor(lat) AS BIGINT) + 90) * 360 + CAST(floor(lon) AS BIGINT) + 180 AS cell
  FROM ipts
  UNION ALL
  SELECT 2,
    ((CAST(floor(lat) AS BIGINT) + 90) * 360 + CAST(floor(lon) AS BIGINT) + 180) * 16
      + CAST(floor((lat - floor(lat)) * 4) AS BIGINT) * 4
      + CAST(floor((lon - floor(lon)) * 4) AS BIGINT)
  FROM ipts
  UNION ALL
  SELECT 4,
    ((CAST(floor(lat) AS BIGINT) + 90) * 360 + CAST(floor(lon) AS BIGINT) + 180) * 256
      + CAST(floor((lat - floor(lat)) * 16) AS BIGINT) * 16
      + CAST(floor((lon - floor(lon)) * 16) AS BIGINT)
  FROM ipts
)
SELECT CAST(level AS INT) AS level, cell, count(*) AS n_images
FROM h GROUP BY level, cell
"""
    )
    # kNN POI oracle: the honest quadratic (25 POIs x points, window rank)
    # — shares NO argmin logic with the array_sort projection; the VALUES
    # literals come from the same KNN_POIS constants the Spark side inlines
    poi_values = ",\n    ".join(
        f"({pid}, {plat!r}, {plon!r})" for pid, plat, plon in KNN_POIS
    )
    knn_poi = (
        images_pts_cte()
        + f""",
poi(poi_id, plat, plon) AS (VALUES
    {poi_values}),
d AS (
  SELECT image_id, lat, lon, poi_id,
    (lat - plat) * (lat - plat) + (lon - plon) * (lon - plon) AS d2
  FROM ipts CROSS JOIN poi
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY image_id ORDER BY d2 ASC, poi_id ASC) AS rank
  FROM d
)
SELECT image_id, lat, lon, CAST(rank AS INT) AS rank,
  CAST(poi_id AS INT) AS poi_id, d2
FROM r WHERE rank <= 3
"""
    )
    return {
        "continent_route": continent,
        "elevation_nearest": nearest,
        "mercator_warp": _mercator_warp_sql(),
        "elevation_floor": floor_q,
        "elevation_bilinear": bilinear,
        "elevation_default_fill": default_fill,
        "elevation_cogroup": nearest,
        "elevation_cogroup_path": nearest,
        "tile_assignment": tile_assignment,
        "coverage_counts": coverage_counts,
        "cell_ids": cell_ids,
        "cell_heatmap": cell_heatmap,
        "knn_poi_join": knn_poi,
        "filename_roundtrip": filename_roundtrip,
        "knn_fallback": knn,
        "elevation_cogroup_knn": knn,
        "images_geotag_join": images_geotag,
        "images_elevation_join": images_elev,
        "image_chips": image_chips_sql,
        "image_quality": image_quality_sql,
        "image_histogram": image_histogram_sql,
        "vision_pipeline_e2e": vision_e2e_sql,
        "image_augment": image_augment_sql,
        "audio_features": audio_features_sql,
        "video_frames": video_frames_sql,
        "accuracy_stats": accuracy,
        "tile_info": tile_info_sql,
        "tile_inventory": inventory,
        "bbox_preload": bbox,
    }


def q_vision_pipeline_e2e(spark, sf_dir):
    """Composed vision curation pipeline over the input_hint image table —
    the image-axis counterpart of pipeline_e2e, proving the multimodal
    operators COMPOSE rather than pass in isolation:

      decode -> exact-integer quality gate (dyn_range >= 200, total
      clipped pixels <= 2) -> content aHash -> exact-hash dedup collapse
      (lowest-id canonical per signature, group size carried) -> ViT chip
      extraction rolled up per canonical survivor.

    Plan sharing: the generated image table is lazily checkpointed ONCE and
    feeds all three decode stages (quality, aHash, chips) from materialized
    blocks — the generator never re-runs (no-cross-branch-reuse rule); the
    gated survivor table is checkpointed for the same reason (aHash +
    chips). Every stage's arithmetic is exact integers, so the oracle
    recomputes the whole chain closed-form: at sf0.01 the gate keeps
    6,884 of 10,000 images and the collapse leaves 4,544 canonicals.

    Output: (image_id, ahash, grp_size, n_chips, tot_r, tot_g, tot_b)."""
    from pyspark.sql.window import Window

    from .operators import multimodal

    imgs = derive_images_table(
        _events(spark, sf_dir).select("event_id")
    ).localCheckpoint(eager=False)
    q = multimodal.image_quality(imgs, edge_thresh=64)
    keep = q.where(
        (F.col("dyn_range") >= 200)
        & ((F.col("n_clip_lo") + F.col("n_clip_hi")) <= 2)
    ).select("image_id")
    kept = imgs.join(keep, "image_id").localCheckpoint(eager=False)
    sigs = multimodal.image_ahash(kept)
    w = Window.partitionBy("ahash")
    reps = (
        sigs.withColumn("grp_size", F.count(F.lit(1)).over(w))
        .withColumn("_canon", F.min("image_id").over(w))
        .where(F.col("image_id") == F.col("_canon"))
        .select("image_id", "ahash", "grp_size")
    )
    chips = multimodal.chip_images(
        kept.join(reps.select("image_id"), "image_id"), chip=4
    )
    roll = chips.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_chips"),
        F.sum("sum_r").alias("tot_r"),
        F.sum("sum_g").alias("tot_g"),
        F.sum("sum_b").alias("tot_b"),
    )
    return reps.join(roll, "image_id")


def queries():
    return {
        "continent_route": q_continent_route,
        "elevation_nearest": q_elevation_nearest,
        "mercator_warp": q_mercator_warp,
        "elevation_floor": q_elevation_floor,
        "elevation_bilinear": q_elevation_bilinear,
        "elevation_default_fill": q_elevation_default_fill,
        "elevation_cogroup": q_elevation_cogroup,
        "elevation_cogroup_path": q_elevation_cogroup_path,
        "tile_assignment": q_tile_assignment,
        "coverage_counts": q_coverage_counts,
        "cell_ids": q_cell_ids,
        "cell_heatmap": q_cell_heatmap,
        "knn_poi_join": q_knn_poi_join,
        "filename_roundtrip": q_filename_roundtrip,
        "knn_fallback": q_knn_fallback,
        "elevation_cogroup_knn": q_elevation_cogroup_knn,
        "accuracy_stats": q_accuracy_stats,
        "images_geotag_join": q_images_geotag_join,
        "images_elevation_join": q_images_elevation_join,
        "image_chips": q_image_chips,
        "image_quality": q_image_quality,
        "image_histogram": q_image_histogram,
        "vision_pipeline_e2e": q_vision_pipeline_e2e,
        "image_augment": q_image_augment,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
        "tile_info": q_tile_info,
        "tile_inventory": q_tile_inventory,
        "bbox_preload": q_bbox_preload,
    }
