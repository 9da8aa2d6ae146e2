"""Driver-contract queries for the terrain layer: Horn slope/aspect/
hillshade, path elevation profiles, and line-of-sight — with closed-form
DuckDB oracles over the analytic gradient catalog (see driver_queries).

Parity model (same as every elevation oracle here):

- The Spark side does the REAL raster work — decodes HGT binaries, gathers
  the 3x3 Horn stencil / per-sample lookups inside the map-only broadcast
  plan — while the oracle recomputes each stencil sample from the gradient
  closed form z(r, c) = (r + c) % 4000 with the analytic void rule.
- Everything integer stays integer (stencil sums, elevations, gains) so
  order never matters; every float is built from correctly-rounded IEEE
  ops (* / + - sqrt) in ONE documented evaluation order shared verbatim
  between the Spark expressions and the SQL, so value hashes match
  bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .driver_queries import (
    _SQL_PTS,
    _SQL_ROUND_RC,
    _TILES_VALUES,
    _events,
    derive_points,
    get_engine,
)
from .operators import pyramid, terrain

# path endpoint for the profile/LOS queries: inside present tile (36, 138).
# Paths from the derived-point clusters cross tile boundaries, the missing
# (36, 139) tile, voids, and (for the lat-75 stripe) out-of-coverage air —
# every validity branch of the per-sample kernel shows up in the result.
PATH_END_LAT = 36.2
PATH_END_LON = 138.2
N_STEPS = 8  # 9 samples; t = step/8.0 is an EXACT double (power-of-two denom)
OBSERVER_HEIGHT = 10.0  # meters above the start sample for line-of-sight


def q_terrain_horn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn terrain products at every derived point: the raster gather is
    the map-side layout's zero-shuffle ArrowEvalPython kernel UDF over
    (lat, lon), emitting exact int64 stencil sums; all float products are
    JVM codegen expressions (terrain.terrain_cols)."""
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    out = terrain.terrain_join(eng, pts)
    d = terrain.terrain_cols(F.col("gxs"), F.col("gys"))
    return out.select(
        "event_id",
        "tile_lat",
        "tile_lon",
        "in_coverage",
        "tile_found",
        "terrain_ok",
        "gxs",
        "gys",
        d["gx"].alias("gx"),
        d["gy"].alias("gy"),
        d["slope"].alias("slope"),
        d["hillshade"].alias("hillshade"),
        d["aspect_octant"].alias("aspect_octant"),
    )


def q_terrain_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same Horn products through the salted SCALE layout (the plan
    for a catalog past the grid cache): the in-memory engine with
    cache_size 2, so the rows are salted by tile and shuffled once and the
    kernel UDF reads the spilled tiles by path — shares the terrain_horn
    oracle, proving the shuffle variant returns identical rows."""
    eng = get_engine(spark, cache_size=2)
    pts = derive_points(_events(spark, sf_dir))
    out = terrain.terrain_join(
        eng, pts, strategy="cogroup", id_col="event_id", n_salts=4
    )
    d = terrain.terrain_cols(F.col("gxs"), F.col("gys"))
    return out.select(
        "event_id",
        "tile_lat",
        "tile_lon",
        "in_coverage",
        "tile_found",
        "terrain_ok",
        "gxs",
        "gys",
        d["gx"].alias("gx"),
        d["gy"].alias("gy"),
        d["slope"].alias("slope"),
        d["hillshade"].alias("hillshade"),
        d["aspect_octant"].alias("aspect_octant"),
    )


def q_tile_hillshade_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raster-WIDE terrain product: render every catalog tile's Horn
    hillshade as a real grayscale image (terrain.render_hillshade — one
    map-only pass over the tile blobs) and report the exact per-tile
    aggregate stats of the rendered bytes. The pixels themselves are
    pytest-checked against NumPy (tests/test_terrain.py); here the oracle
    recomputes n_valid / sum_byte / min / max / mean from the gradient
    closed form over the full 1199x1199 interior, so the whole render
    arithmetic — stencil, hillshade dot product, round-half-away byte
    quantization — is value-checked without shipping 1.4 MB blobs through
    the compare."""
    eng = get_engine(spark)
    out = terrain.render_hillshade(eng.catalog)
    return out.select(
        "image_id",
        "tile_lat",
        "tile_lon",
        "w",
        "h",
        "n_valid",
        "sum_byte",
        "min_byte",
        "max_byte",
        (F.col("sum_byte").cast("double") / F.col("n_valid").cast("double")).alias(
            "mean_byte"
        ),
    )


def q_tile_pyramid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview-pyramid render (operators/pyramid.tile_pyramid): every
    catalog tile downsampled to levels 1..3 by nodata-excluded 2^L-block
    average pooling (round-half-away integer mean), one map-only pass,
    real gray16be payloads. The pixels are pytest-checked against a scalar
    reference (tests/test_pyramid.py); the oracle recomputes the exact
    per-level stats from the gradient closed form so the whole pooling
    arithmetic is value-checked without shipping payloads."""
    eng = get_engine(spark)
    out = pyramid.tile_pyramid(eng.catalog, levels=3)
    return out.select(
        "image_id",
        "tile_lat",
        "tile_lon",
        "level",
        "w",
        "h",
        "n_valid",
        "n_void",
        "sum_val",
        "min_val",
        "max_val",
        F.when(
            F.col("n_valid") > 0,
            F.col("sum_val").cast("double") / F.col("n_valid").cast("double"),
        ).alias("mean_val"),
    )


def q_pyramid_hillshade_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution hillshade (the webmap zoom stack): Horn shading
    rendered AT every pyramid level (pyramid.pyramid_hillshade — pooling,
    stencil, and byte quantization composed in one map-only pass). The
    oracle recomputes the whole chain in closed form: grouped pooling per
    level, a 9-neighbor self-join stencil over the pooled cells, then the
    identical float order + round-half-away quantization — so the
    COMPOSITION of the kernels is value-checked, not just each alone."""
    eng = get_engine(spark)
    out = pyramid.pyramid_hillshade(eng.catalog, levels=3)
    return out.select(
        "image_id",
        "tile_lat",
        "tile_lon",
        "level",
        "w",
        "h",
        "n_valid",
        "sum_byte",
        "min_byte",
        "max_byte",
        F.when(
            F.col("n_valid") > 0,
            F.col("sum_byte").cast("double") / F.col("n_valid").cast("double"),
        ).alias("mean_byte"),
    )


def q_terrain_rgb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain-RGB encode (terrain.terrain_rgb): every catalog tile packed
    into the standard webmap elevation-tile format, v = (elev+10000)*10
    split big-endian across (R, G, B). The payload round-trip is
    pytest-checked bit-exact (tests/test_terrain.py); here the oracle
    recomputes the per-channel sums, the packed-value extrema, and the
    decoded mean elevation from the gradient closed form — value-checking
    the full encode arithmetic without shipping the 4 MB payloads."""
    eng = get_engine(spark)
    out = terrain.terrain_rgb(eng.catalog)
    return out.select(
        "image_id",
        "tile_lat",
        "tile_lon",
        "w",
        "h",
        "n_valid",
        "sum_r",
        "sum_g",
        "sum_b",
        "sum_v",
        "min_v",
        "max_v",
        F.when(
            F.col("n_valid") > 0,
            F.col("sum_v").cast("double")
            / (F.lit(10.0) * F.col("n_valid").cast("double"))
            - F.lit(10000.0),
        ).alias("mean_elev"),
    )


def q_d8_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow-direction histogram per catalog tile (terrain.d8_histogram):
    the standard hydrology steepest-descent raster, reduced in-map to 9
    counts per tile (8 ESRI direction codes + 0 for flat/pit), counting
    interior cells whose full 3x3 neighborhood is valid. The per-cell code
    raster itself is pytest-checked against a scalar reference on random
    void-planted grids (tests/test_terrain.py); the oracle recomputes the
    exact-integer steepest-descent comparison (2*d^2 straight vs d^2
    diagonal, first-clockwise-from-East tie-break) from the gradient
    closed form."""
    eng = get_engine(spark)
    return terrain.d8_histogram(eng.catalog)


def q_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow-accumulation drainage summary per catalog tile
    (terrain.flow_accumulation_stats): upstream-cell counts computed by a
    descending-elevation topological sweep in-map, reduced to exact
    integer stats (ok cells, total/max accumulation, channel cells at
    accumulation >= 16). The per-cell raster is pytest-checked against a
    path-walking scalar reference on random void-planted grids; the
    oracle recomputes the accumulation in closed form — on the gradient
    fixture every valid cell's steepest descent is NW (the D8 histogram
    oracle independently proves exactly that), so accumulation equals the
    consecutive-ok run length along each cell's upstream diagonal, a
    gaps-and-islands window query."""
    eng = get_engine(spark)
    return terrain.flow_accumulation_stats(eng.catalog)


def q_contour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares contour summary per (tile, level)
    (terrain.contour_stats): valid cells, total contour segments, saddle
    cells over the full cell lattice at 6 fixed elevation levels, one
    decode per tile serving every level in a map-only pass. The oracle
    recomputes the 4-bit corner case and the standard segment table
    generically (not fixture-specific) from the gradient closed form; the
    per-cell case raster is pytest-checked against a scalar reference on
    random void-planted grids, where saddle cases actually occur."""
    eng = get_engine(spark)
    return terrain.contour_stats(eng.catalog)


def q_elevation_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-tile elevation quantiles (terrain.elevation_quantiles):
    order statistics at pure-integer indices ((n-1)*num)//den — no
    interpolation, so NumPy's np.partition, the oracle's window
    row_number selection, and any engine's sort agree exactly."""
    eng = get_engine(spark)
    return terrain.elevation_quantiles(eng.catalog)


def q_mosaic_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-correct mosaic hillshade via cross-tile halo exchange
    (terrain.mosaic_horn_stats): 2,402-byte edge strips — 0.08% of each
    blob — are extracted map-only, shuffled by RECEIVER tile key, and
    broadcast-joined back, so edge cells whose stencil reaches a PRESENT
    neighbor become valid while blobs never cross an Exchange. The
    fixture's L-shaped 3-tile mosaic exercises every asymmetry: each tile
    has a different subset of the 8 neighbors, and no tile has a diagonal
    neighbor, so all four corner cells stay invalid everywhere. The
    oracle rebuilds the padded grid from the gradient closed form with
    per-tile neighbor-presence flags derived from the same tile list."""
    eng = get_engine(spark)
    return terrain.mosaic_horn_stats(eng.catalog)


def path_samples(pts: DataFrame) -> DataFrame:
    """9 samples along the segment from each point to the fixed endpoint:
    lat_t = lat + (END - lat) * (step / 8.0). One stateless explode — the
    sample table is 9x the points, still map-only before the join."""
    t = F.col("step").cast("double") / F.lit(8.0)
    s = pts.select(
        "event_id",
        "lat",
        "lon",
        F.explode(F.sequence(F.lit(0), F.lit(N_STEPS))).alias("step"),
    )
    return s.select(
        "event_id",
        "step",
        (F.col("lat") + (F.lit(PATH_END_LAT) - F.col("lat")) * t).alias("lat"),
        (F.col("lon") + (F.lit(PATH_END_LON) - F.col("lon")) * t).alias("lon"),
    )


def q_path_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elevation profile + line-of-sight along each point's path to the
    fixed endpoint. Per (event_id, step): the sampled coordinate, its
    nearest-kernel elevation, the running positive elevation gain, the
    elevation angle from the (observer-height-raised) start, and whether
    the sample is visible from the start (its angle strictly exceeds the
    running max of all earlier angles; void/missing samples are
    transparent — they neither block nor see).

    Plan shape: explode (map) -> broadcast elevation join (map) -> ONE
    hash Exchange on event_id serving every window (lag, first, running
    sum, running max all share the same partitioning + ordering)."""
    eng = get_engine(spark)
    from .partitioning import spread_scan

    # spread_scan BEFORE the 9x sample explode: the broadcast elevation
    # kernel runs map-only in the scan's partitioning, so a single-row-
    # group events scan would push all 900k samples through one core
    pts = spread_scan(derive_points(_events(spark, sf_dir)))
    samples = path_samples(pts)
    out = eng.elevation_join(
        samples, mode="nearest", strategy="broadcast", id_col="event_id"
    )

    w = Window.partitionBy("event_id").orderBy("step")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)

    # window functions cannot nest in one projection — stage them. Every
    # stage shares the same (partition, order), so Catalyst serves all four
    # (lag, first, running sum, running max) from ONE Exchange + Sort.
    e_l = F.col("elevation").cast("long")
    staged = out.select(
        "event_id",
        F.col("step").cast("int").alias("step"),
        F.col("lat").alias("lat_s"),
        F.col("lon").alias("lon_s"),
        "elevation",
        (e_l - F.lag(e_l).over(w)).alias("delta"),
        F.first("elevation").over(w).alias("z0"),
    )
    z0 = F.col("z0")
    base = staged.select(
        "event_id",
        "step",
        "lat_s",
        "lon_s",
        "elevation",
        F.sum(F.when(F.col("delta") > 0, F.col("delta"))).over(w).alias("cum_gain"),
        F.when(
            (F.col("step") >= 1) & F.col("elevation").isNotNull() & z0.isNotNull(),
            (
                F.col("elevation").cast("double")
                - (z0.cast("double") + F.lit(OBSERVER_HEIGHT))
            )
            / (F.col("step").cast("double") / F.lit(float(N_STEPS))),
        ).alias("tan_angle"),
    )
    prev_max = F.max("tan_angle").over(wprev)
    return base.select(
        "event_id",
        "step",
        "lat_s",
        "lon_s",
        "elevation",
        "cum_gain",
        "tan_angle",
        F.when(F.col("tan_angle").isNull(), F.lit(None).cast("boolean"))
        .when(prev_max.isNull(), F.lit(True))
        .otherwise(F.col("tan_angle") > prev_max)
        .alias("visible"),
    )


# --- oracle SQL -------------------------------------------------------------------

# the 9 stencil samples as (dr, dc) offsets; shared by the ok-predicate and
# sum generators so the oracle can never disagree with itself
_OFFS = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]


def _z(dr: int, dc: int) -> str:
    r = "r" if dr == 0 else f"(r{dr:+d})"
    c = "c" if dc == 0 else f"(c{dc:+d})"
    return f"(({r}+{c}) % 4000)"


def _nonvoid(dr: int, dc: int) -> str:
    r = "r" if dr == 0 else f"(r{dr:+d})"
    c = "c" if dc == 0 else f"(c{dc:+d})"
    return f"(({r}*1201 + {c}) % 97 <> 0)"


_ASPECT_CASE = """
  CASE WHEN gxs IS NULL OR gys IS NULL THEN NULL
       WHEN gxs = 0 AND gys = 0 THEN NULL
       WHEN gys >= 0 AND gxs > 0 AND gxs > gys THEN 0
       WHEN gxs > 0 AND gys > 0 AND gys >= gxs THEN 1
       WHEN gys > 0 AND gxs <= 0 AND gys > -gxs THEN 2
       WHEN gys >= 0 AND gxs < 0 AND -gxs >= gys THEN 3
       WHEN gys < 0 AND gxs < 0 AND -gxs > -gys THEN 4
       WHEN gxs < 0 AND gys < 0 AND -gys >= -gxs THEN 5
       WHEN gys < 0 AND gxs >= 0 AND -gys > gxs THEN 6
       ELSE 7 END
"""


def _terrain_sql() -> str:
    ok = " AND ".join(_nonvoid(dr, dc) for dr, dc in _OFFS)
    east = " + ".join(
        (f"2 * {_z(dr, 1)}" if dr == 0 else _z(dr, 1)) for dr in (-1, 0, 1)
    )
    west = " + ".join(
        (f"2 * {_z(dr, -1)}" if dr == 0 else _z(dr, -1)) for dr in (-1, 0, 1)
    )
    north = " + ".join(
        (f"2 * {_z(-1, dc)}" if dc == 0 else _z(-1, dc)) for dc in (-1, 0, 1)
    )
    south = " + ".join(
        (f"2 * {_z(1, dc)}" if dc == 0 else _z(1, dc)) for dc in (-1, 0, 1)
    )
    return (
        _SQL_PTS
        + ", "
        + _SQL_ROUND_RC
        + f""",
nb AS (
  SELECT event_id, tile_lat, tile_lon, in_coverage, has_tile, r, c,
    (in_coverage AND has_tile
     AND r >= 1 AND r <= 1199 AND c >= 1 AND c <= 1199
     AND {ok}) AS ok
  FROM rc
),
st AS (
  SELECT *,
    CASE WHEN ok THEN ({east}) - ({west}) END AS gxs,
    CASE WHEN ok THEN ({north}) - ({south}) END AS gys
  FROM nb
),
d AS (
  SELECT *, CAST(gxs AS DOUBLE) / 8.0 AS gx, CAST(gys AS DOUBLE) / 8.0 AS gy
  FROM st
)
SELECT event_id, tile_lat, tile_lon, in_coverage,
  (in_coverage AND has_tile) AS tile_found,
  ok AS terrain_ok, gxs, gys, gx, gy,
  sqrt(gx*gx + gy*gy) AS slope,
  CASE WHEN gxs IS NULL OR gys IS NULL THEN NULL
       ELSE GREATEST(0.0, ((0.7071067811865476 - gx * (-0.5)) - gy * 0.5)
                          / sqrt((1.0 + gx*gx) + gy*gy)) END AS hillshade,
  CAST({_ASPECT_CASE} AS INTEGER) AS aspect_octant
FROM d
"""
    )


def _hillshade_stats_sql() -> str:
    """Per-tile render stats from the gradient closed form over the full
    interior grid. The grid content is tile-independent (z = (r+c) % 4000,
    void = (r*1201+c) % 97 == 0 — no tile term), so ONE 1199x1199 aggregate
    cross-joined to the tile list mirrors the per-tile render exactly."""
    ok = " AND ".join(_nonvoid(dr, dc) for dr, dc in _OFFS)
    east = " + ".join(
        (f"2 * {_z(dr, 1)}" if dr == 0 else _z(dr, 1)) for dr in (-1, 0, 1)
    )
    west = " + ".join(
        (f"2 * {_z(dr, -1)}" if dr == 0 else _z(dr, -1)) for dr in (-1, 0, 1)
    )
    north = " + ".join(
        (f"2 * {_z(-1, dc)}" if dc == 0 else _z(-1, dc)) for dc in (-1, 0, 1)
    )
    south = " + ".join(
        (f"2 * {_z(1, dc)}" if dc == 0 else _z(1, dc)) for dc in (-1, 0, 1)
    )
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(1, 1200) r, range(1, 1200) c
),
st AS (
  SELECT r, c, ({ok}) AS ok,
    ({east}) - ({west}) AS gxs,
    ({north}) - ({south}) AS gys
  FROM g
),
d AS (
  SELECT *, CAST(gxs AS DOUBLE) / 8.0 AS gx, CAST(gys AS DOUBLE) / 8.0 AS gy
  FROM st
),
hz AS (
  SELECT ok,
    GREATEST(0.0, ((0.7071067811865476 - gx * (-0.5)) - gy * 0.5)
                  / sqrt((1.0 + gx*gx) + gy*gy)) * 255.0 AS x
  FROM d
),
b AS (
  SELECT ok,
    CAST(floor(x) AS BIGINT)
      + (CASE WHEN x - floor(x) >= 0.5 THEN 1 ELSE 0 END) AS byte
  FROM hz
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
    CAST(sum(CASE WHEN ok THEN byte END) AS BIGINT) AS sum_byte,
    CAST(min(CASE WHEN ok THEN byte END) AS INTEGER) AS min_byte,
    CAST(max(CASE WHEN ok THEN byte END) AS INTEGER) AS max_byte
  FROM b
)
SELECT
  'hillshade_' || printf('%s%02d%s%03d',
      CASE WHEN tiles.tile_lat >= 0 THEN 'N' ELSE 'S' END, abs(tiles.tile_lat),
      CASE WHEN tiles.tile_lon >= 0 THEN 'E' ELSE 'W' END, abs(tiles.tile_lon))
    AS image_id,
  tiles.tile_lat, tiles.tile_lon,
  1199 AS w, 1199 AS h,
  agg.n_valid, agg.sum_byte, agg.min_byte, agg.max_byte,
  CAST(agg.sum_byte AS DOUBLE) / CAST(agg.n_valid AS DOUBLE) AS mean_byte
FROM {_TILES_VALUES} CROSS JOIN agg
"""


def _pyramid_stats_sql() -> str:
    """Per-(tile, level) pooled stats from the gradient closed form. The
    pooled base is the 1200x1200 core (r, c in [0, 1200)); grid content is
    tile-independent, so one grouped aggregation per level cross-joined to
    the tile list mirrors the per-tile render exactly. The pooled value is
    the round-half-away-from-zero integer mean written with non-negative
    `//` operands only (DuckDB truncates, NumPy floors — they agree there;
    see operators/pyramid.py)."""
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(0, 1200) r, range(0, 1200) c
),
v AS (
  SELECT r, c, ((r*1201 + c) % 97 <> 0) AS valid, ((r + c) % 4000) AS z FROM g
),
lv AS (
  SELECT lvl, r // (1 << lvl) AS br, c // (1 << lvl) AS bc,
    CAST(sum(CASE WHEN valid THEN z ELSE 0 END) AS BIGINT) AS s,
    CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS cnt
  FROM v CROSS JOIN (SELECT unnest([1, 2, 3]) AS lvl) levels
  GROUP BY lvl, br, bc
),
q AS (
  SELECT lvl, cnt,
    CASE WHEN cnt > 0 THEN
      (CASE WHEN s < 0 THEN -1 ELSE 1 END) * ((2 * abs(s) + cnt) // (2 * cnt))
    END AS q
  FROM lv
),
agg AS (
  SELECT lvl,
    CAST(sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
    CAST(sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_void,
    CAST(sum(q) AS BIGINT) AS sum_val,
    CAST(min(q) AS INTEGER) AS min_val,
    CAST(max(q) AS INTEGER) AS max_val
  FROM q GROUP BY lvl
)
SELECT
  'pyr_' || printf('%s%02d%s%03d_L%d',
      CASE WHEN tiles.tile_lat >= 0 THEN 'N' ELSE 'S' END, abs(tiles.tile_lat),
      CASE WHEN tiles.tile_lon >= 0 THEN 'E' ELSE 'W' END, abs(tiles.tile_lon),
      lvl) AS image_id,
  tiles.tile_lat, tiles.tile_lon,
  CAST(lvl AS INTEGER) AS level,
  CAST(1200 // (1 << lvl) AS INTEGER) AS w,
  CAST(1200 // (1 << lvl) AS INTEGER) AS h,
  n_valid, n_void, sum_val, min_val, max_val,
  CASE WHEN n_valid > 0
       THEN CAST(sum_val AS DOUBLE) / CAST(n_valid AS DOUBLE) END AS mean_val
FROM {_TILES_VALUES} CROSS JOIN agg
"""


def _pyramid_hillshade_sql() -> str:
    """Zoom-stack hillshade stats in closed form. Stage 1 reuses the
    pyramid pooling CTEs; stage 2 evaluates the Horn stencil over pooled
    cells with ONE weighted 9-neighbor self-join (weight_x = dc * (2 -
    |dr|), weight_y = -dr * (2 - |dc|) reproduce the 1-2-1 Horn sums;
    validity = every neighbor block non-void, interior cells only); stage
    3 is the identical hillshade float order + round-half-away byte
    quantization as the base render oracle.

    The self-join is an equi-join: ``nb`` crosses each interior cell with
    the nine (dr, dc) offsets and names the neighbour's (nr, nc). DuckDB
    1.0 runs a BETWEEN range join here for minutes, and with ``r + dr``
    written into the join condition it hash-joins on lvl alone; the
    equi-join takes under a second."""
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(0, 1200) r, range(0, 1200) c
),
v AS (
  SELECT r, c, ((r*1201 + c) % 97 <> 0) AS valid, ((r + c) % 4000) AS z FROM g
),
lv AS (
  SELECT lvl, r // (1 << lvl) AS br, c // (1 << lvl) AS bc,
    CAST(sum(CASE WHEN valid THEN z ELSE 0 END) AS BIGINT) AS s,
    CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS cnt
  FROM v CROSS JOIN (SELECT unnest([1, 2, 3]) AS lvl) levels
  GROUP BY lvl, br, bc
),
p AS (
  SELECT lvl, br AS r, bc AS c, cnt,
    CASE WHEN cnt > 0 THEN
      (CASE WHEN s < 0 THEN -1 ELSE 1 END) * ((2 * abs(s) + cnt) // (2 * cnt))
    END AS q
  FROM lv
),
nb AS (
  SELECT a.lvl, a.r, a.c, o.dr, o.dc, a.r + o.dr AS nr, a.c + o.dc AS nc
  FROM p a
  CROSS JOIN (SELECT dr.range AS dr, dc.range AS dc FROM range(-1, 2) dr, range(-1, 2) dc) o
  WHERE a.r >= 1 AND a.r <= (1200 // (1 << a.lvl)) - 2
    AND a.c >= 1 AND a.c <= (1200 // (1 << a.lvl)) - 2
),
st AS (
  SELECT n.lvl, n.r, n.c,
    bool_and(b.cnt > 0) AS ok,
    CAST(sum(b.q * n.dc * (2 - abs(n.dr))) AS BIGINT) AS gxs,
    CAST(sum(b.q * (-n.dr) * (2 - abs(n.dc))) AS BIGINT) AS gys
  FROM nb n JOIN p b ON b.lvl = n.lvl AND b.r = n.nr AND b.c = n.nc
  GROUP BY n.lvl, n.r, n.c
),
d AS (
  SELECT lvl, ok,
    CAST(gxs AS DOUBLE) / 8.0 AS gx, CAST(gys AS DOUBLE) / 8.0 AS gy
  FROM st
),
hz AS (
  SELECT lvl, ok,
    GREATEST(0.0, ((0.7071067811865476 - gx * (-0.5)) - gy * 0.5)
                  / sqrt((1.0 + gx*gx) + gy*gy)) * 255.0 AS x
  FROM d
),
b2 AS (
  SELECT lvl, ok,
    CAST(floor(x) AS BIGINT)
      + (CASE WHEN x - floor(x) >= 0.5 THEN 1 ELSE 0 END) AS byte
  FROM hz
),
agg AS (
  SELECT lvl,
    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
    CAST(sum(CASE WHEN ok THEN byte END) AS BIGINT) AS sum_byte,
    CAST(min(CASE WHEN ok THEN byte END) AS INTEGER) AS min_byte,
    CAST(max(CASE WHEN ok THEN byte END) AS INTEGER) AS max_byte
  FROM b2 GROUP BY lvl
)
SELECT
  'hillshade_' || printf('%s%02d%s%03d_L%d',
      CASE WHEN tiles.tile_lat >= 0 THEN 'N' ELSE 'S' END, abs(tiles.tile_lat),
      CASE WHEN tiles.tile_lon >= 0 THEN 'E' ELSE 'W' END, abs(tiles.tile_lon),
      lvl) AS image_id,
  tiles.tile_lat, tiles.tile_lon,
  CAST(lvl AS INTEGER) AS level,
  CAST((1200 // (1 << lvl)) - 2 AS INTEGER) AS w,
  CAST((1200 // (1 << lvl)) - 2 AS INTEGER) AS h,
  n_valid, sum_byte, min_byte, max_byte,
  CASE WHEN n_valid > 0
       THEN CAST(sum_byte AS DOUBLE) / CAST(n_valid AS DOUBLE) END AS mean_byte
FROM {_TILES_VALUES} CROSS JOIN agg
"""


def _terrain_rgb_sql() -> str:
    """Terrain-RGB stats in closed form over the FULL 1201x1201 gradient
    grid (the encode covers every sample, not just the core or interior):
    v = (z + 10000) * 10 is non-negative, so channel extraction is plain
    truncating arithmetic (v // 65536, (v // 256) % 256, v % 256) on both
    engines; mean_elev uses the documented float op order (sum / (10 * n)
    - 10000) so the double matches Spark bit-for-bit."""
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(0, 1201) r, range(0, 1201) c
),
e AS (
  SELECT (((r + c) % 4000) + 10000) * 10 AS v
  FROM g WHERE (r*1201 + c) % 97 <> 0
),
agg AS (
  SELECT
    count(*) AS n_valid,
    CAST(sum(v // 65536) AS BIGINT) AS sum_r,
    CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
    CAST(sum(v % 256) AS BIGINT) AS sum_b,
    CAST(sum(v) AS BIGINT) AS sum_v,
    CAST(min(v) AS BIGINT) AS min_v,
    CAST(max(v) AS BIGINT) AS max_v
  FROM e
)
SELECT
  'rgb_' || printf('%s%02d%s%03d',
      CASE WHEN tiles.tile_lat >= 0 THEN 'N' ELSE 'S' END, abs(tiles.tile_lat),
      CASE WHEN tiles.tile_lon >= 0 THEN 'E' ELSE 'W' END, abs(tiles.tile_lon)
  ) AS image_id,
  tiles.tile_lat, tiles.tile_lon,
  CAST(1201 AS INTEGER) AS w, CAST(1201 AS INTEGER) AS h,
  n_valid, sum_r, sum_g, sum_b, sum_v, min_v, max_v,
  CASE WHEN n_valid > 0
       THEN CAST(sum_v AS DOUBLE) / (10.0 * CAST(n_valid AS DOUBLE)) - 10000.0
  END AS mean_elev
FROM {_TILES_VALUES} CROSS JOIN agg
"""


def _d8_histogram_sql() -> str:
    """D8 flow-direction histogram in closed form. Everything is exact
    integer arithmetic: per interior cell with an all-valid 3x3
    neighborhood, the drop to each of the 8 neighbors scores 2*d^2
    (straight) or d^2 (diagonal) when d > 0 — the monotone no-float
    encoding of d_straight > d_diag/sqrt(2) — and the code is the FIRST
    direction in clockwise-from-East order reaching the maximum score
    (greatest + first-match CASE == the kernel's strict-greater update).
    Grid content is tile-independent, so one histogram cross-joined to the
    tile list mirrors the per-tile map-side reduction; every tile emits
    all 9 code rows, zero counts included."""
    ok = " AND ".join(_nonvoid(dr, dc) for dr, dc in _OFFS)
    z0 = _z(0, 0)
    d_cols = ", ".join(
        f"({z0}) - ({_z(dr, dc)}) AS d{i}"
        for i, (dr, dc, _) in enumerate(terrain._D8_DIRS)
    )
    s_cols = ", ".join(
        f"CASE WHEN d{i} > 0 THEN d{i} * d{i} * {1 if (dr and dc) else 2} "
        f"ELSE 0 END AS s{i}"
        for i, (dr, dc, _) in enumerate(terrain._D8_DIRS)
    )
    best = "greatest(" + ", ".join(f"s{i}" for i in range(8)) + ")"
    code_case = "CASE WHEN b = 0 THEN 0 " + " ".join(
        f"WHEN s{i} = b THEN {code}"
        for i, (_, _, code) in enumerate(terrain._D8_DIRS)
    ) + " END"
    all_codes = "[0, " + ", ".join(str(c) for _, _, c in terrain._D8_DIRS) + "]"
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(1, 1200) r, range(1, 1200) c
),
okc AS (
  SELECT r, c FROM g WHERE {ok}
),
dd AS (
  SELECT {d_cols} FROM okc
),
sc AS (
  SELECT {s_cols} FROM dd
),
coded AS (
  SELECT {code_case} AS code FROM (SELECT *, {best} AS b FROM sc)
),
hist AS (
  SELECT code, count(*) AS n FROM coded GROUP BY code
),
codes AS (SELECT unnest({all_codes}) AS code)
SELECT tiles.tile_lat, tiles.tile_lon,
  CAST(codes.code AS INTEGER) AS code,
  CAST(coalesce(hist.n, 0) AS BIGINT) AS n_cells
FROM {_TILES_VALUES}
CROSS JOIN codes
LEFT JOIN hist ON hist.code = codes.code
"""


def _flow_accumulation_sql() -> str:
    """Flow-accumulation stats in closed form. On the gradient grid
    z = r + c (no modulo wrap below r + c = 4000) the steepest descent of
    every valid cell is NW — drop 2 scores 4, beating the straight drops'
    2*1^2 = 2 with no tie — which the d8_flow_histogram oracle derives
    independently from the generic scoring rule. So each cell's upstream
    is exactly its SE neighbor (in-degree <= 1, chains along c - r
    diagonals) and accumulation = the consecutive-all-9-valid run length
    from the cell toward increasing r: a gaps-and-islands window pair
    (island id = r - row_number asc; accumulation = row_number desc
    within the island). Channel threshold shared with the kernel
    constant."""
    ok = " AND ".join(_nonvoid(dr, dc) for dr, dc in _OFFS)
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(1, 1200) r, range(1, 1200) c
),
okc AS (
  SELECT r, c FROM g WHERE {ok}
),
runs AS (
  SELECT r, c,
    r - row_number() OVER (PARTITION BY c - r ORDER BY r) AS grp
  FROM okc
),
acc AS (
  SELECT row_number() OVER (PARTITION BY c - r, grp ORDER BY r DESC) AS a
  FROM runs
),
agg AS (
  SELECT
    count(*) AS n_cells,
    CAST(sum(a) AS BIGINT) AS sum_acc,
    CAST(max(a) AS BIGINT) AS max_acc,
    CAST(sum(CASE WHEN a >= {terrain.CHANNEL_THRESHOLD} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_channel
  FROM acc
)
SELECT tiles.tile_lat, tiles.tile_lon,
  n_cells, sum_acc, max_acc, n_channel
FROM {_TILES_VALUES} CROSS JOIN agg
"""


def _contour_stats_sql() -> str:
    """Contour stats in closed form, mirroring the marching-squares case
    logic generically: corner 'above' iff z >= level, idx = NW*8 + NE*4 +
    SE*2 + SW, segments = 0 for empty/full, 2 for the saddles (5, 10),
    else 1; a cell is valid iff all 4 corners are non-void. Grid content
    is tile-independent, so one grouped aggregate per level cross-joined
    to the tile list mirrors the per-tile reduction."""
    corners = [(0, 0, 8), (0, 1, 4), (1, 1, 2), (1, 0, 1)]
    valid = " AND ".join(_nonvoid(dr, dc) for dr, dc, _ in corners)
    idx = " + ".join(
        f"CASE WHEN ({_z(dr, dc)}) >= level THEN {w} ELSE 0 END"
        for dr, dc, w in corners
    )
    lvls = "[" + ", ".join(str(v) for v in terrain.CONTOUR_LEVELS) + "]"
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(0, 1200) r, range(0, 1200) c
),
lv AS (SELECT unnest({lvls}) AS level),
cells AS (
  SELECT level, ({valid}) AS valid, ({idx}) AS idx
  FROM g CROSS JOIN lv
),
agg AS (
  SELECT level,
    CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_cells,
    CAST(sum(CASE WHEN valid THEN
      CASE WHEN idx IN (0, 15) THEN 0
           WHEN idx IN (5, 10) THEN 2 ELSE 1 END
      ELSE 0 END) AS BIGINT) AS n_segments,
    CAST(sum(CASE WHEN valid AND idx IN (5, 10) THEN 1 ELSE 0 END)
         AS BIGINT) AS n_saddles
  FROM cells GROUP BY level
)
SELECT tiles.tile_lat, tiles.tile_lon,
  CAST(level AS INTEGER) AS level,
  n_cells, n_segments, n_saddles
FROM {_TILES_VALUES} CROSS JOIN agg
"""


def _elevation_quantiles_sql() -> str:
    """Quantile oracle: sort the valid closed-form samples once, pick the
    element at integer index ((n-1)*num)//den per probe — the identical
    no-interpolation definition as the kernel. Grid content is
    tile-independent, so one ordered selection cross-joined to the tile
    list mirrors the per-tile reduction."""
    sel = ", ".join(
        f"max(CASE WHEN i = ((n - 1) * {num}) // {den} THEN z END) AS q{num}"
        for num, den in terrain.QUANTILE_RATIOS
    )
    return f"""
WITH g AS (
  SELECT r.range AS r, c.range AS c FROM range(0, 1201) r, range(0, 1201) c
),
v AS (
  SELECT CAST((r + c) % 4000 AS BIGINT) AS z
  FROM g WHERE (r * 1201 + c) % 97 <> 0
),
o AS (
  SELECT z, row_number() OVER (ORDER BY z) - 1 AS i, count(*) OVER () AS n
  FROM v
),
agg AS (
  SELECT
    CAST(max(n) AS BIGINT) AS n_valid,
    CAST(min(z) AS INTEGER) AS min_elev,
    CAST(max(z) AS INTEGER) AS max_elev,
    {sel}
  FROM o
)
SELECT tiles.tile_lat, tiles.tile_lon,
  n_valid, min_elev, max_elev,
  CAST(q25 AS INTEGER) AS q25,
  CAST(q50 AS INTEGER) AS q50,
  CAST(q75 AS INTEGER) AS q75,
  CAST(q90 AS INTEGER) AS q90,
  CAST(q99 AS INTEGER) AS q99
FROM {_TILES_VALUES} CROSS JOIN agg
"""


def _mosaic_hillshade_sql() -> str:
    """Halo-exchange oracle: evaluate the Horn stencil over the FULL
    1201^2 grid with padded indices -1..1201. SRTM neighbors share their
    boundary row/col and every fixture tile carries the same closed-form
    content, so a padded index maps back into the SAME formula via
    m(x) = x+1200 (x<0) / x-1200 (x>1200); whether the sample EXISTS
    depends on the per-tile neighbor-presence flags, derived here from
    the tile list itself (no fixture-specific hardcoding). ok = all 9
    samples present AND non-void — absent-neighbor edges stay invalid,
    exactly the kernel's VOID-padding rule."""

    def m(expr: str) -> str:
        return (
            f"(CASE WHEN {expr} < 0 THEN {expr} + 1200 "
            f"WHEN {expr} > 1200 THEN {expr} - 1200 ELSE {expr} END)"
        )

    def pidx(base: str, d: int) -> str:
        return base if d == 0 else f"({base}{d:+d})"

    def zp(dr: int, dc: int) -> str:
        return f"(({m(pidx('r', dr))} + {m(pidx('c', dc))}) % 4000)"

    def okp(dr: int, dc: int) -> str:
        pr, pc = pidx("r", dr), pidx("c", dc)
        avail = (
            f"(CASE WHEN {pr} < 0 AND {pc} < 0 THEN has_nw "
            f"WHEN {pr} < 0 AND {pc} > 1200 THEN has_ne "
            f"WHEN {pr} > 1200 AND {pc} < 0 THEN has_sw "
            f"WHEN {pr} > 1200 AND {pc} > 1200 THEN has_se "
            f"WHEN {pr} < 0 THEN has_n WHEN {pr} > 1200 THEN has_s "
            f"WHEN {pc} < 0 THEN has_w WHEN {pc} > 1200 THEN has_e "
            f"ELSE TRUE END)"
        )
        nonvoid = f"(({m(pr)}*1201 + {m(pc)}) % 97 <> 0)"
        return f"({avail} AND {nonvoid})"

    ok = " AND ".join(okp(dr, dc) for dr, dc in _OFFS)
    east = " + ".join(
        (f"2 * {zp(dr, 1)}" if dr == 0 else zp(dr, 1)) for dr in (-1, 0, 1)
    )
    west = " + ".join(
        (f"2 * {zp(dr, -1)}" if dr == 0 else zp(dr, -1)) for dr in (-1, 0, 1)
    )
    north = " + ".join(
        (f"2 * {zp(-1, dc)}" if dc == 0 else zp(-1, dc)) for dc in (-1, 0, 1)
    )
    south = " + ".join(
        (f"2 * {zp(1, dc)}" if dc == 0 else zp(1, dc)) for dc in (-1, 0, 1)
    )
    flag = (
        "EXISTS(SELECT 1 FROM tl x WHERE x.tile_lat = t.tile_lat + {dlat} "
        "AND x.tile_lon = t.tile_lon + {dlon})"
    )
    flags = ", ".join(
        flag.format(dlat=dlat, dlon=dlon) + f" AS has_{name}"
        for name, (dlat, dlon) in (
            ("n", (1, 0)),
            ("s", (-1, 0)),
            ("e", (0, 1)),
            ("w", (0, -1)),
            ("nw", (1, -1)),
            ("ne", (1, 1)),
            ("sw", (-1, -1)),
            ("se", (-1, 1)),
        )
    )
    return f"""
WITH tl AS (SELECT tile_lat, tile_lon FROM {_TILES_VALUES}),
fl AS (SELECT t.tile_lat, t.tile_lon, {flags} FROM tl t),
g AS (
  SELECT r.range AS r, c.range AS c FROM range(0, 1201) r, range(0, 1201) c
),
st AS (
  SELECT fl.tile_lat, fl.tile_lon, r, c, ({ok}) AS ok,
    ({east}) - ({west}) AS gxs,
    ({north}) - ({south}) AS gys
  FROM g CROSS JOIN fl
),
d AS (
  SELECT tile_lat, tile_lon, r, c, ok, gxs, gys,
    CAST(gxs AS DOUBLE) / 8.0 AS gx, CAST(gys AS DOUBLE) / 8.0 AS gy
  FROM st
),
hz AS (
  SELECT tile_lat, tile_lon, r, c, ok, gxs, gys,
    GREATEST(0.0, ((0.7071067811865476 - gx * (-0.5)) - gy * 0.5)
                  / sqrt((1.0 + gx*gx) + gy*gy)) * 255.0 AS x
  FROM d
),
b AS (
  SELECT tile_lat, tile_lon, ok, gxs, gys,
    (r = 0 OR r = 1200 OR c = 0 OR c = 1200) AS edge,
    CAST(floor(x) AS BIGINT)
      + (CASE WHEN x - floor(x) >= 0.5 THEN 1 ELSE 0 END) AS byte
  FROM hz
)
SELECT tile_lat, tile_lon,
  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
  CAST(sum(CASE WHEN ok AND edge THEN 1 ELSE 0 END) AS BIGINT)
    AS n_edge_valid,
  CAST(sum(CASE WHEN ok THEN gxs END) AS BIGINT) AS sum_gxs,
  CAST(sum(CASE WHEN ok THEN gys END) AS BIGINT) AS sum_gys,
  CAST(sum(CASE WHEN ok THEN byte END) AS BIGINT) AS sum_byte,
  CAST(min(CASE WHEN ok THEN byte END) AS INTEGER) AS min_byte,
  CAST(max(CASE WHEN ok THEN byte END) AS INTEGER) AS max_byte
FROM b GROUP BY tile_lat, tile_lon
"""


def _path_profile_sql() -> str:
    return (
        _SQL_PTS
        + f""",
spts AS (
  SELECT event_id, step,
    lat + ({PATH_END_LAT!r} - lat) * (CAST(step AS DOUBLE) / {float(N_STEPS)!r}) AS lat_s,
    lon + ({PATH_END_LON!r} - lon) * (CAST(step AS DOUBLE) / {float(N_STEPS)!r}) AS lon_s
  FROM pts CROSS JOIN (SELECT unnest(generate_series(0, {N_STEPS})) AS step) steps
),
skeyed AS (
  SELECT *,
    (lat_s >= -60.0 AND lat_s <= 60.0 AND lon_s >= -180.0 AND lon_s <= 180.0) AS in_cov,
    ((CAST(floor(lat_s) AS INTEGER) = 35 AND CAST(floor(lon_s) AS INTEGER) = 138)
     OR (CAST(floor(lat_s) AS INTEGER) = 35 AND CAST(floor(lon_s) AS INTEGER) = 139)
     OR (CAST(floor(lat_s) AS INTEGER) = 36 AND CAST(floor(lon_s) AS INTEGER) = 138)) AS has_tile,
    (1.0 - (lat_s - floor(lat_s))) * 1200.0 AS rp,
    (lon_s - floor(lon_s)) * 1200.0 AS cp
  FROM spts
),
src AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c
  FROM skeyed
),
sel AS (
  SELECT event_id, step, lat_s, lon_s,
    CASE WHEN in_cov AND has_tile AND ((r * 1201 + c) % 97 <> 0)
         THEN CAST((r + c) % 4000 AS INTEGER) END AS elevation
  FROM src
),
wd AS (
  SELECT *,
    elevation - lag(elevation) OVER (PARTITION BY event_id ORDER BY step) AS delta,
    first_value(elevation) OVER (PARTITION BY event_id ORDER BY step) AS z0
  FROM sel
),
wt AS (
  SELECT event_id, step, lat_s, lon_s, elevation,
    CAST(sum(CASE WHEN delta > 0 THEN delta END)
         OVER (PARTITION BY event_id ORDER BY step) AS BIGINT) AS cum_gain,
    CASE WHEN step >= 1 AND elevation IS NOT NULL AND z0 IS NOT NULL
         THEN (CAST(elevation AS DOUBLE) - (CAST(z0 AS DOUBLE) + {OBSERVER_HEIGHT!r}))
              / (CAST(step AS DOUBLE) / {float(N_STEPS)!r})
    END AS tan_angle
  FROM wd
),
wm AS (
  SELECT *,
    max(tan_angle) OVER (PARTITION BY event_id ORDER BY step
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM wt
)
SELECT event_id, CAST(step AS INTEGER) AS step, lat_s, lon_s, elevation,
  cum_gain, tan_angle,
  CASE WHEN tan_angle IS NULL THEN NULL
       WHEN prev_max IS NULL THEN TRUE
       ELSE tan_angle > prev_max END AS visible
FROM wm
"""
    )


def queries():
    return {
        "terrain_horn": q_terrain_horn,
        "terrain_cogroup": q_terrain_cogroup,
        "tile_hillshade_stats": q_tile_hillshade_stats,
        "tile_pyramid_stats": q_tile_pyramid_stats,
        "pyramid_hillshade_stats": q_pyramid_hillshade_stats,
        "terrain_rgb_stats": q_terrain_rgb_stats,
        "d8_flow_histogram": q_d8_histogram,
        "flow_accumulation": q_flow_accumulation,
        "contour_stats": q_contour_stats,
        "elevation_quantiles": q_elevation_quantiles,
        "mosaic_hillshade": q_mosaic_hillshade,
        "path_profile": q_path_profile,
    }


def oracle_sql() -> dict[str, str]:
    terr = _terrain_sql()
    return {
        "terrain_horn": terr,
        "terrain_cogroup": terr,
        "tile_hillshade_stats": _hillshade_stats_sql(),
        "tile_pyramid_stats": _pyramid_stats_sql(),
        "pyramid_hillshade_stats": _pyramid_hillshade_sql(),
        "terrain_rgb_stats": _terrain_rgb_sql(),
        "d8_flow_histogram": _d8_histogram_sql(),
        "flow_accumulation": _flow_accumulation_sql(),
        "contour_stats": _contour_stats_sql(),
        "elevation_quantiles": _elevation_quantiles_sql(),
        "mosaic_hillshade": _mosaic_hillshade_sql(),
        "path_profile": _path_profile_sql(),
    }
