"""Terrain derivatives over SRTM grids: Horn slope / aspect / hillshade.

The raster layer the reference stops short of: htg serves point lookups
(``htg/src/tile.rs:158-284``); this module adds the classic first-order
terrain products computed from the SAME decoded tiles — the 3x3 Horn
(1981) finite-difference stencil every GIS ships as `slope`/`aspect`/
`hillshade`.

Design split (Spark-first):

- The ONLY Python work is the raster gather: ``TERRAIN_KERNEL``, run by
  the engine's tile-kernel join plans, groups the points by tile, reads
  the 3x3 neighborhood per point, and emits the two Horn stencil sums as
  EXACT int64 columns (``gxs``, ``gys``). Integer sums are order-free, so
  this stage has no float-parity surface at all.
- Every derived product — gradient, slope magnitude, hillshade, aspect
  octant — is a JVM-side whole-stage-codegen expression over those two
  longs (``terrain_cols``), built from correctly-rounded IEEE ops only
  (*, /, +, -, sqrt) in a documented evaluation order, so DuckDB / NumPy /
  Spark agree bit-for-bit and a closed-form SQL oracle can value-check the
  full pipeline.

Stencil convention (z = elevation, row 0 = north edge, col 0 = west edge):

    gxs = (z[r-1,c+1] + 2*z[r,c+1] + z[r+1,c+1])
        - (z[r-1,c-1] + 2*z[r,c-1] + z[r+1,c-1])      # east minus west
    gys = (z[r-1,c-1] + 2*z[r-1,c] + z[r-1,c+1])
        - (z[r+1,c-1] + 2*z[r+1,c] + z[r+1,c+1])      # north minus south

    gx = gxs / 8.0   # dz per cell toward EAST
    gy = gys / 8.0   # dz per cell toward NORTH
    slope = sqrt(gx*gx + gy*gy)                        # rise per cell
    hillshade = max(0, ((LZ - gx*LX) - gy*LY) / sqrt((1.0 + gx*gx) + gy*gy))
        — unnormalized-normal dot product with the unit sun vector
        L = (LX, LY, LZ); default sun: azimuth 315° (NW), altitude 45°,
        i.e. L = (-0.5, 0.5, 0.7071067811865476) with x=east, y=north.
        Unscaled illumination in [0, 1] (multiply by 255 for the classic
        8-bit rendering).
    aspect_octant — the 45° compass sector of the UPSLOPE gradient vector
        (gxs, gys), an exact-integer CASE chain (0=E 1=NE 2=N 3=NW 4=W
        5=SW 6=S 7=SE; the 180° boundary classifies as NW — the chain is
        the spec); NULL when the neighborhood is flat (gxs = gys = 0).

Validity: a point gets terrain values only when its tile is present AND
its nearest sample (tile.rs round-half-away rule) is interior
(1 <= r,c <= n-2 — no edge clamping: a clamped stencil would silently
halve the step size) AND none of the 9 samples is VOID. Otherwise
``terrain_ok`` is false and gxs/gys (hence every derived column) are NULL.
Per-POINT stencils treat tiles as independent, matching the reference
(tile.rs:299-318); the boundary-correct whole-raster path is the halo
exchange at the bottom of this module (``mosaic_horn_stats``).

Scale shape: the elevation join's own plans (``ElevationEngine._tile_join``),
with the terrain kernel in place of the elevation kernel.
The map-side layout is map-only: one ``ArrowEvalPython`` kernel UDF reads
tiles by path and sees only (lat, lon), so the payload stays in the JVM
(ZERO shuffle Exchanges, gated in PLANS.md); per buffer the work is one
argsort group-by plus nine vectorized gathers. Past the engine's grid
cache the rows take the salted layout, exactly as in ``elevation_join``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import hgt
from ..catalog import map_tiles
from ..engine import TileKernel, check_n_salts

# default sun: azimuth 315 (NW), altitude 45. Exact-double literals shared
# verbatim with the SQL oracle (cos45*sin315 == -0.5 and cos45*cos315 ==
# +0.5 exactly in IEEE doubles; LZ is repr-round-trip stable).
SUN_LX = -0.5
SUN_LY = 0.5
SUN_LZ = 0.7071067811865476

# the terrain kernel's output struct, appended after (lat, lon)
_TERRAIN_FIELDS = (
    ("tile_lat", T.IntegerType()),
    ("tile_lon", T.IntegerType()),
    ("in_coverage", T.BooleanType()),
    ("tile_found", T.BooleanType()),
    ("terrain_ok", T.BooleanType()),
    ("gxs", T.LongType()),
    ("gys", T.LongType()),
)


def horn_sums(grid: np.ndarray, row: np.ndarray, col: np.ndarray):
    """Vectorized 3x3 Horn stencil at integer samples (row, col).

    Returns (gxs, gys, ok): int64 stencil sums and a validity mask.
    ok is False where the sample is non-interior or any of the 9
    neighborhood samples is VOID; gxs/gys are 0 there (callers must mask).
    """
    n = grid.shape[0]
    row = np.asarray(row, dtype=np.int64)
    col = np.asarray(col, dtype=np.int64)
    interior = (row >= 1) & (row <= n - 2) & (col >= 1) & (col <= n - 2)
    # clamp indices for the gather only — non-interior rows are masked out,
    # the clamped values never reach a result
    r = np.clip(row, 1, n - 2)
    c = np.clip(col, 1, n - 2)
    # gather int16 FIRST, widen the batch-sized results: widening the whole
    # grid would memcpy 11.6 MB per batch call (measured: it halves the
    # kernel's N-vs-4N scaling efficiency on a bandwidth-throttled host);
    # the gathered arrays are 9 x batch x 8 B instead
    void = np.zeros(len(r), dtype=bool)
    z = {}
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            v16 = grid[r + dr, c + dc]
            void |= v16 == hgt.VOID_VALUE
            z[(dr, dc)] = v16.astype(np.int64)
    ok = interior & ~void
    gxs = (z[(-1, 1)] + 2 * z[(0, 1)] + z[(1, 1)]) - (
        z[(-1, -1)] + 2 * z[(0, -1)] + z[(1, -1)]
    )
    gys = (z[(-1, -1)] + 2 * z[(-1, 0)] + z[(-1, 1)]) - (
        z[(1, -1)] + 2 * z[(1, 0)] + z[(1, 1)]
    )
    zero = np.zeros_like(gxs)
    return np.where(ok, gxs, zero), np.where(ok, gys, zero), ok


def terrain_batch(lat: np.ndarray, lon: np.ndarray, get_grid):
    """Batch kernel: tile-group the points (``hgt.tile_groups``, as
    ``engine.kernel_batch`` does), locate each point's nearest sample
    (round-half-away, tile.rs:158-186), and evaluate the Horn stencil.
    Returns a dict of column arrays: lat, lon and ``_TERRAIN_FIELDS``
    (gxs/gys are 0 where terrain_ok is false)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = len(lat)
    in_cov = np.asarray(hgt.is_valid_srtm_coord(lat, lon))
    klat, klon = hgt.tile_key(lat, lon)
    found = np.zeros(n, dtype=bool)
    ok = np.zeros(n, dtype=bool)
    gxs = np.zeros(n, dtype=np.int64)
    gys = np.zeros(n, dtype=np.int64)

    idx = np.nonzero(in_cov)[0]
    for key, pos in hgt.tile_groups(klat[idx], klon[idx]):
        gi = idx[pos]
        grid = get_grid(key)
        if grid is None:
            continue
        found[gi] = True
        row_pos, col_pos = hgt.grid_position(lat[gi], lon[gi], grid.shape[0])
        r = hgt.round_half_away_nonneg(row_pos).astype(np.int64)
        c = hgt.round_half_away_nonneg(col_pos).astype(np.int64)
        gxs[gi], gys[gi], ok[gi] = horn_sums(grid, r, c)

    return {
        "lat": lat,
        "lon": lon,
        "tile_lat": klat.astype(np.int32),
        "tile_lon": klon.astype(np.int32),
        "in_coverage": in_cov,
        "tile_found": found,
        "terrain_ok": ok,
        "gxs": gxs,
        "gys": gys,
    }


def _terrain_columns(lat, lon, get_grid) -> dict:
    res = terrain_batch(lat, lon, get_grid)
    bad = ~res["terrain_ok"]
    res["gxs"] = np.ma.masked_array(res["gxs"], bad)
    res["gys"] = np.ma.masked_array(res["gys"], bad)
    return res


# terrain_batch as the engine's tile kernel: gxs/gys NULL where not ok
TERRAIN_KERNEL = TileKernel(_terrain_columns, _TERRAIN_FIELDS)


def terrain_join(
    engine,
    points: DataFrame,
    strategy: str = "auto",
    id_col: str = "event_id",
    n_salts: int = 8,
) -> DataFrame:
    """Append (lat, lon, tile_lat, tile_lon, in_coverage, tile_found,
    terrain_ok, gxs, gys) to `points`. gxs/gys are NULL wherever
    terrain_ok is false.

    Runs ``TERRAIN_KERNEL`` on the engine's elevation-join plans
    (``ElevationEngine._tile_join``), with the same strategy rules as
    ``elevation_join``; every plan reads tiles by path and only (lat, lon)
    cross into Python:

    - strategy='broadcast': map-side, the kernel UDF on the input
      partitions, no shuffle.
    - strategy='auto' (default) or 'cogroup': map-side too when the
      catalog fits the engine's grid cache and Python workers are reused;
      otherwise the rows are salted by tile (by ``id_col``) and shuffled
      once, so each task sees few tiles.

    Every input row comes out once with its payload untouched, so
    duplicate ids stay separate rows. A NULL (or NaN) lat/lon passes
    through unchanged and is out of coverage: NULL tile key, terrain_ok
    false, NULL gxs/gys. All plans return identical rows
    (test_terrain_cogroup_equals_broadcast).

    Derived float products are deliberately NOT computed here: apply
    ``terrain_cols`` (JVM codegen) on the result.
    """
    n_salts = check_n_salts(n_salts)
    if "lat" not in points.columns or "lon" not in points.columns:
        raise ValueError("points need (lat, lon) columns")
    return engine._tile_join(points, TERRAIN_KERNEL, strategy, id_col, n_salts)


def aspect_octant_col(gxs: Column, gys: Column) -> Column:
    """45-degree compass sector of the integer gradient (gxs, gys) — an
    exact CASE chain over int64 comparisons, mirrored verbatim in the SQL
    oracle (the chain IS the spec; see module docstring for boundaries)."""
    ax = -gxs  # -x, evaluated once for readability; exact int64
    ay = -gys
    return (
        F.when(gxs.isNull() | gys.isNull(), F.lit(None).cast("int"))
        .when((gxs == 0) & (gys == 0), F.lit(None).cast("int"))
        .when((gys >= 0) & (gxs > 0) & (gxs > gys), F.lit(0))     # E   [0,45)
        .when((gxs > 0) & (gys > 0) & (gys >= gxs), F.lit(1))     # NE  [45,90)
        .when((gys > 0) & (gxs <= 0) & (gys > ax), F.lit(2))      # N   [90,135)
        .when((gys >= 0) & (gxs < 0) & (ax >= gys), F.lit(3))     # NW  [135,180]
        .when((gys < 0) & (gxs < 0) & (ax > ay), F.lit(4))        # W   (180,225)
        .when((gxs < 0) & (gys < 0) & (ay >= ax), F.lit(5))       # SW  [225,270)
        .when((gys < 0) & (gxs >= 0) & (ay > gxs), F.lit(6))      # S   [270,315)
        .otherwise(F.lit(7))                                       # SE  [315,360)
        .cast("int")
    )


def terrain_cols(
    gxs: Column,
    gys: Column,
    sun: tuple[float, float, float] = (SUN_LX, SUN_LY, SUN_LZ),
) -> dict[str, Column]:
    """Derived terrain products as JVM expressions over the stencil sums.

    Evaluation order is the parity contract (each op correctly rounded,
    so identical inputs + identical order == identical bits everywhere):

        gx    = cast(gxs as double) / 8.0
        gy    = cast(gys as double) / 8.0
        slope = sqrt(gx*gx + gy*gy)
        hill  = greatest(0.0, ((LZ - gx*LX) - gy*LY)
                              / sqrt((1.0 + gx*gx) + gy*gy))
    """
    lx, ly, lz = sun
    gx = gxs.cast("double") / F.lit(8.0)
    gy = gys.cast("double") / F.lit(8.0)
    slope = F.sqrt(gx * gx + gy * gy)
    num = (F.lit(lz) - gx * F.lit(lx)) - gy * F.lit(ly)
    denom = F.sqrt((F.lit(1.0) + gx * gx) + gy * gy)
    # greatest() SKIPS nulls in both Spark and DuckDB — unguarded it would
    # turn an invalid row into hillshade 0.0 instead of NULL
    hill = F.when(
        gxs.isNull() | gys.isNull(), F.lit(None).cast("double")
    ).otherwise(F.greatest(F.lit(0.0), num / denom))
    return {
        "gx": gx,
        "gy": gy,
        "slope": slope,
        "hillshade": hill,
        "aspect_octant": aspect_octant_col(gxs, gys),
    }


def tile_horn_grids(grid: np.ndarray):
    """Whole-tile Horn stencil over the (n-2)x(n-2) interior — nine shifted
    int64 views, no per-point gather. Returns (gxs, gys, ok) arrays of
    shape (n-2, n-2); ok is False where any of the 9 samples is VOID."""
    n = grid.shape[0]
    g = grid.astype(np.int64, copy=False)

    def z(dr: int, dc: int) -> np.ndarray:
        return g[1 + dr : n - 1 + dr, 1 + dc : n - 1 + dc]

    void = np.zeros((n - 2, n - 2), dtype=bool)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            void |= z(dr, dc) == hgt.VOID_VALUE
    gxs = (z(-1, 1) + 2 * z(0, 1) + z(1, 1)) - (
        z(-1, -1) + 2 * z(0, -1) + z(1, -1)
    )
    gys = (z(-1, -1) + 2 * z(-1, 0) + z(-1, 1)) - (
        z(1, -1) + 2 * z(1, 0) + z(1, 1)
    )
    return gxs, gys, ~void


def hillshade_bytes(gxs: np.ndarray, gys: np.ndarray, ok: np.ndarray):
    """Quantize the hillshade dot product to uint8 (0..255) with the exact
    evaluation order of ``terrain_cols`` plus round-half-away quantization
    (floor(x) + (x - floor(x) >= 0.5), the tile.rs rounding rule — NOT
    floor(x + 0.5), which breaks at representation boundaries). Invalid
    cells render as 0. Returns (img: uint8 array, byte_values: int64 array
    with -1 at invalid cells for exact aggregation)."""
    gx = gxs.astype(np.float64) / 8.0
    gy = gys.astype(np.float64) / 8.0
    num = (SUN_LZ - gx * SUN_LX) - gy * SUN_LY
    denom = np.sqrt((1.0 + gx * gx) + gy * gy)
    hs = np.maximum(0.0, num / denom)
    x = hs * 255.0
    fl = np.floor(x)
    byte = (fl + (x - fl >= 0.5)).astype(np.int64)
    byte = np.where(ok, byte, -1)
    img = np.where(ok, byte, 0).astype(np.uint8)
    return img, byte


def render_hillshade(catalog: DataFrame) -> DataFrame:
    """Render every catalog tile's hillshade as a REAL grayscale image row
    (input_hint shape: image_id, bytes, w, h, fmt — plus the tile key and
    exact aggregate stats): the raster-wide terrain product, one mapInArrow
    pass over the catalog (``map_tiles``, tiles read by path), zero
    shuffles.

    The image is the (n-2)x(n-2) interior, row-major uint8, fmt='gray8'
    (invalid cells — void-adjacent stencils — render 0 and are excluded
    from the stats). n_valid / sum_byte / min_byte / max_byte are exact
    integers, so a closed-form SQL oracle can value-check the full render
    arithmetic without shipping the pixels."""

    def render(row, grid):
        img, byte = hillshade_bytes(*tile_horn_grids(grid))
        vb = byte[byte >= 0]
        m = grid.shape[0] - 2
        yield (
            "hillshade_" + row["filename"].rsplit(".", 1)[0],
            row["tile_lat"],
            row["tile_lon"],
            m,
            m,
            "gray8",
            img.tobytes(),
            vb.size,
            int(vb.sum()),
            int(vb.min()) if vb.size else None,
            int(vb.max()) if vb.size else None,
        )

    schema = (
        "image_id string, tile_lat int, tile_lon int, w int, h int, "
        "fmt string, bytes binary, n_valid bigint, sum_byte bigint, "
        "min_byte int, max_byte int"
    )
    return map_tiles(catalog, render, schema, "filename")


def terrain_rgb(catalog: DataFrame) -> DataFrame:
    """Encode every catalog tile as a Terrain-RGB raster — the standard
    webmap elevation-tile format (Mapbox/MapTiler convention): each sample
    packs ``v = (elevation + 10000) * 10`` big-endian into (R, G, B), so a
    client decodes ``elevation = -10000 + (R*65536 + G*256 + B) / 10``.
    For int16 SRTM samples v is an exact non-negative integer < 2^24 and a
    multiple of 10, so the round-trip is bit-exact (PSNR = inf).

    Emits one rgb24 image row per tile in input_hint shape (image_id,
    bytes, w, h, fmt) plus exact per-channel aggregate stats so a
    closed-form SQL oracle can value-check the full encode arithmetic
    without shipping 4 MB payloads. VOID samples — and any sample below
    the -10000 m encode floor, which only VOID is in real SRTM — render
    (0, 0, 0) and are excluded from the stats (the webmap nodata
    convention).

    One map-only mapInArrow pass over the catalog (``map_tiles``) —
    zero shuffle Exchanges, the same proven scale shape as
    ``render_hillshade``.
    """

    def encode(row, grid):
        n = int(grid.shape[0])
        # the encode domain is elev >= -10000 (v >= 0); any sample below
        # the floor (only VOID_VALUE in real SRTM, but be total over
        # int16) renders nodata like void does
        valid = grid >= -10000
        v = np.where(valid, (grid.astype(np.int64) + 10000) * 10, 0)
        img = np.empty((n, n, 3), dtype=np.uint8)
        img[..., 0] = v >> 16
        img[..., 1] = (v >> 8) & 255
        img[..., 2] = v & 255
        vv = v[valid]
        yield (
            "rgb_" + row["filename"].rsplit(".", 1)[0],
            row["tile_lat"],
            row["tile_lon"],
            n,
            n,
            "rgb24",
            img.tobytes(),
            vv.size,
            int((vv >> 16).sum()),
            int(((vv >> 8) & 255).sum()),
            int((vv & 255).sum()),
            int(vv.sum()),
            int(vv.min()) if vv.size else None,
            int(vv.max()) if vv.size else None,
        )

    schema = (
        "image_id string, tile_lat int, tile_lon int, w int, h int, "
        "fmt string, bytes binary, n_valid bigint, sum_r bigint, "
        "sum_g bigint, sum_b bigint, sum_v bigint, min_v bigint, max_v bigint"
    )
    return map_tiles(catalog, encode, schema, "filename")


# ESRI D8 direction codes (powers of two, clockwise from East); 0 = flat
# or pit (no strictly-positive drop among the 8 neighbors)
_D8_DIRS = (
    (0, 1, 1),     # E
    (1, 1, 2),     # SE (diagonal)
    (1, 0, 4),     # S
    (1, -1, 8),    # SW (diagonal)
    (0, -1, 16),   # W
    (-1, -1, 32),  # NW (diagonal)
    (-1, 0, 64),   # N
    (-1, 1, 128),  # NE (diagonal)
)


def tile_d8_grids(grid: np.ndarray):
    """Whole-tile D8 flow direction over the (n-2)x(n-2) interior — the
    standard hydrology 'steepest descent neighbor' raster (ESRI/GDAL
    convention: codes 1,2,4,...,128 clockwise from East; 0 = flat/pit).

    The steepest-descent comparison is EXACT integer arithmetic: a
    straight drop d_s beats a diagonal drop d_d iff d_s > d_d/sqrt(2)
    iff 2*d_s^2 > d_d^2 (both positive), so the comparable score is
    2*d^2 for straight neighbors and d^2 for diagonals — a monotone
    bijection per class with exact cross-class ordering, no floats.
    Ties break to the FIRST direction in clockwise-from-East order
    (strict-> update), which is deterministic and engine-portable.

    Returns (codes, ok): int32 (n-2, n-2) direction codes and the same
    all-9-samples-valid mask as the Horn stencil.

    Dtype note (bandwidth, not semantics — BENCH_SCALING session 19
    measured this kernel memory-bound at 32 threads): elevations and
    drops stay int32 (a drop spans at most [-65535, 65535]); only the
    squared scores widen to int64 (2 * 65535^2 overflows int32). Halves
    the per-direction array traffic vs the original all-int64 form; the
    comparison arithmetic is bit-identical."""
    n = grid.shape[0]
    g = grid.astype(np.int32, copy=False)

    def z(dr: int, dc: int) -> np.ndarray:
        return g[1 + dr : n - 1 + dr, 1 + dc : n - 1 + dc]

    void = np.zeros((n - 2, n - 2), dtype=bool)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            void |= z(dr, dc) == hgt.VOID_VALUE
    center = z(0, 0)
    best = np.zeros(center.shape, dtype=np.int64)
    codes = np.zeros(center.shape, dtype=np.int32)
    for dr, dc, code in _D8_DIRS:
        d = (center - z(dr, dc)).astype(np.int64)
        mult = 1 if (dr and dc) else 2
        score = np.where(d > 0, d * d * mult, np.int64(0))
        upd = score > best
        best = np.where(upd, score, best)
        codes = np.where(upd, np.int32(code), codes)
    return codes, ~void


def d8_histogram(catalog: DataFrame) -> DataFrame:
    """Per-tile D8 flow-direction histogram: 9 rows per tile (the 8
    direction codes + 0 for flat/pit), counting interior cells whose full
    3x3 neighborhood is valid. One map-only mapInArrow pass
    (``map_tiles``) — the histogram is computed in-map per tile (tiles are
    distinct rows), so the plan has zero shuffle Exchanges, same as every
    raster product here."""
    all_codes = [0] + [c for _, _, c in _D8_DIRS]

    def histogram(row, grid):
        codes, ok = tile_d8_grids(grid)
        vals = codes[ok]
        for c in all_codes:
            yield row["tile_lat"], row["tile_lon"], c, int((vals == c).sum())

    schema = "tile_lat int, tile_lon int, code int, n_cells bigint"
    return map_tiles(catalog, histogram, schema)


def d8_reference(grid: np.ndarray, row: int, col: int):
    """From-scratch scalar reference for tests (independent of the
    vectorized shifted-view argmax): returns (code, ok) at one interior
    cell."""
    ok = all(
        grid[row + dr, col + dc] != hgt.VOID_VALUE
        for dr in (-1, 0, 1)
        for dc in (-1, 0, 1)
    )
    best, best_code = 0, 0
    for dr, dc, code in _D8_DIRS:
        d = int(grid[row, col]) - int(grid[row + dr, col + dc])
        if d > 0:
            score = d * d * (1 if (dr and dc) else 2)
            if score > best:
                best, best_code = score, code
    return best_code, ok


# accumulation >= this many upstream cells marks a "channel" cell in the
# flow stats (the classic stream-extraction threshold, here a fixed knob)
CHANNEL_THRESHOLD = 16


def tile_flow_accumulation(grid: np.ndarray) -> np.ndarray:
    """Whole-tile D8 flow accumulation over the interior: for each cell
    with a fully-valid 3x3 neighborhood ('ok'), the number of ok cells
    whose D8 flow path drains through it, INCLUDING itself (so every ok
    cell has accumulation >= 1 — the ESRI convention plus self).

    Semantics at validity boundaries: only ok cells carry flow. Flow into
    a non-ok cell, a flat/pit (code 0), or off the interior leaves the
    accounted raster. Non-ok cells get accumulation 0.

    Algorithm (exact, no floats): D8 edges go STRICTLY downhill, so
    processing source cells in descending-elevation order is a valid
    topological order — one argsort, then one scatter-add
    (``np.add.at``) per distinct elevation level pushes each cell's
    final count to its downstream neighbor. No iteration-to-convergence,
    no Python-per-cell loop; work is O(N log N) per tile and stays
    in-map (cross-tile drainage is a deliberate non-goal, matching the
    per-tile independence of every raster product here)."""
    codes, ok = tile_d8_grids(grid)
    m = codes.shape[0]
    # one vectorized pass builds every downstream index: code -> (dr, dc)
    # through a 129-slot LUT (codes are powers of two; slot 0 = no edge).
    # Indices/counts/elevations all fit int32 (m^2 < 2^31, accumulation
    # <= m^2, elevations int16-ranged) — int32 throughout halves the
    # memory traffic of this bandwidth-bound kernel (session 19) with
    # bit-identical results.
    lut_dr = np.zeros(129, dtype=np.int32)
    lut_dc = np.zeros(129, dtype=np.int32)
    for dr, dc, code in _D8_DIRS:
        lut_dr[code], lut_dc[code] = dr, dc
    ti = np.arange(m, dtype=np.int32)[:, None] + lut_dr[codes]
    tj = np.arange(m, dtype=np.int32)[None, :] + lut_dc[codes]
    okr = ok.ravel()
    inb = (
        okr
        & (codes.ravel() != 0)
        & (ti.ravel() >= 0)
        & (ti.ravel() < m)
        & (tj.ravel() >= 0)
        & (tj.ravel() < m)
    )
    down_f = np.full(m * m, -1, dtype=np.int32)
    idx = np.nonzero(inb)[0]
    tgt = ti.ravel()[idx] * np.int32(m) + tj.ravel()[idx]  # < m^2 < 2^31
    recv = okr[tgt]  # flow into a non-ok cell leaves the accounted raster
    down_f[idx[recv]] = tgt[recv]

    acc = np.where(ok, np.int32(1), np.int32(0)).ravel()
    z = grid[1 : m + 1, 1 : m + 1].astype(np.int32).ravel()
    src = np.nonzero(down_f >= 0)[0]
    if src.size:
        # descending-elevation topological sweep, grouped by level so each
        # np.add.at batch has no intra-batch dependencies (equal-z cells
        # can never flow to each other — drops are strictly positive)
        order = src[np.argsort(-z[src], kind="stable")]
        zs = z[order]
        starts = np.flatnonzero(np.r_[True, zs[1:] != zs[:-1]])
        bounds = np.r_[starts, order.size]
        for k in range(starts.size):
            lvl = order[bounds[k] : bounds[k + 1]]
            np.add.at(acc, down_f[lvl], acc[lvl])
    return acc.reshape(m, m)


def flow_accumulation_reference(grid: np.ndarray) -> np.ndarray:
    """From-scratch scalar reference for tests (independent of the level
    sweep): walk every ok cell's flow path, incrementing each ok cell it
    drains through. Strictly-downhill edges guarantee termination."""
    codes, ok = tile_d8_grids(grid)
    m = codes.shape[0]
    step = {code: (dr, dc) for dr, dc, code in _D8_DIRS}
    acc = np.zeros((m, m), dtype=np.int64)
    for i in range(m):
        for j in range(m):
            if not ok[i, j]:
                continue
            r, c = i, j
            while True:
                acc[r, c] += 1
                if codes[r, c] == 0:
                    break
                dr, dc = step[codes[r, c]]
                r, c = r + dr, c + dc
                if not (0 <= r < m and 0 <= c < m and ok[r, c]):
                    break
    return acc


def flow_accumulation_stats(catalog: DataFrame) -> DataFrame:
    """Per-tile drainage summary of the D8 flow-accumulation raster: ok
    cell count, total and maximum accumulation, and the number of
    'channel' cells (accumulation >= CHANNEL_THRESHOLD). One map-only
    mapInArrow pass (``map_tiles``) — same zero-Exchange shape as every
    raster product."""

    def drainage(row, grid):
        acc = tile_flow_accumulation(grid)
        pos = acc[acc > 0]
        yield (
            row["tile_lat"],
            row["tile_lon"],
            pos.size,
            int(pos.sum()),
            int(pos.max()) if pos.size else 0,
            int((acc >= CHANNEL_THRESHOLD).sum()),
        )

    schema = (
        "tile_lat int, tile_lon int, n_cells bigint, sum_acc bigint, "
        "max_acc bigint, n_channel bigint"
    )
    return map_tiles(catalog, drainage, schema)


# default contour levels for the per-tile stats (SRTM elevations). The
# gradient fixture z = (r+c) % 4000 never wraps on a 1201-grid (max r+c =
# 2400), so the first five levels are crossed by real isolines while 3000
# deliberately exceeds the fixture's range and exercises the
# uniformly-below (0-segment) branch end-to-end.
CONTOUR_LEVELS = (250, 750, 1250, 1750, 2250, 3000)

# marching-squares segment count per 4-bit corner case
# (idx = NW*8 + NE*4 + SE*2 + SW, corner above iff z >= level):
# empty/full -> 0, the two saddle cases (0101, 1010) -> 2, else 1
_MS_SEGMENTS = np.array(
    [0, 1, 1, 1, 1, 2, 1, 1, 1, 1, 2, 1, 1, 1, 1, 0], dtype=np.int64
)
_MS_SADDLES = (5, 10)


def tile_contour_grids(grid: np.ndarray, level: int):
    """Marching-squares contour cells at one level over the (n-1)x(n-1)
    cell lattice: returns (idx, valid) where idx is the 4-bit corner case
    (NW*8 + NE*4 + SE*2 + SW, corner 'above' iff z >= level) and valid
    means all 4 corner samples are non-void. Segment counts follow the
    standard case table (_MS_SEGMENTS; both saddle cases emit 2)."""
    nw = grid[:-1, :-1]
    ne = grid[:-1, 1:]
    se = grid[1:, 1:]
    sw = grid[1:, :-1]
    valid = (
        (nw != hgt.VOID_VALUE)
        & (ne != hgt.VOID_VALUE)
        & (se != hgt.VOID_VALUE)
        & (sw != hgt.VOID_VALUE)
    )
    idx = (
        (nw >= level).astype(np.int64) * 8
        + (ne >= level).astype(np.int64) * 4
        + (se >= level).astype(np.int64) * 2
        + (sw >= level).astype(np.int64)
    )
    return idx, valid


def contour_reference(grid: np.ndarray, level: int, row: int, col: int):
    """From-scratch scalar reference for tests: (n_segments, valid) of the
    cell whose NW corner is (row, col)."""
    corners = [
        grid[row, col], grid[row, col + 1],
        grid[row + 1, col + 1], grid[row + 1, col],
    ]
    valid = all(int(c) != hgt.VOID_VALUE for c in corners)
    bits = [1 if int(c) >= level else 0 for c in corners]
    idx = bits[0] * 8 + bits[1] * 4 + bits[2] * 2 + bits[3]
    if idx in (0, 15):
        seg = 0
    elif idx in _MS_SADDLES:
        seg = 2
    else:
        seg = 1
    return seg, valid


def contour_stats(catalog: DataFrame, levels=CONTOUR_LEVELS) -> DataFrame:
    """Per-(tile, level) marching-squares contour summary: valid cell
    count, total contour segment count, and saddle-cell count over the
    full (n-1)x(n-1) cell lattice. One decode per tile serves every level
    in a single map-only mapInArrow pass (``map_tiles``) — zero shuffle
    Exchanges, the standard raster-product shape here."""
    lvls = tuple(int(v) for v in levels)

    def contours(row, grid):
        for lv in lvls:
            idx, valid = tile_contour_grids(grid, lv)
            vi = idx[valid]
            yield (
                row["tile_lat"],
                row["tile_lon"],
                lv,
                int(valid.sum()),
                int(_MS_SEGMENTS[vi].sum()),
                int(np.isin(vi, _MS_SADDLES).sum()),
            )

    schema = (
        "tile_lat int, tile_lon int, level int, n_cells bigint, "
        "n_segments bigint, n_saddles bigint"
    )
    return map_tiles(catalog, contours, schema)


# quantile probes as integer ratios so the selected index is exact integer
# arithmetic on both engines: index = ((n_valid - 1) * num) // den
QUANTILE_RATIOS = ((25, 100), (50, 100), (75, 100), (90, 100), (99, 100))


def tile_quantiles(grid: np.ndarray):
    """Exact order statistics of a tile's valid samples: (n_valid, min,
    max, [q25, q50, q75, q90, q99]) where each quantile is the element at
    sorted index ((n-1) * num) // den — a pure-integer definition with no
    interpolation, so NumPy / Spark / DuckDB can never disagree on
    rounding. One np.partition per probe set (no full sort)."""
    vals = grid[grid != hgt.VOID_VALUE].astype(np.int64).ravel()
    n = vals.size
    if n == 0:
        return 0, None, None, [None] * len(QUANTILE_RATIOS)
    idxs = [((n - 1) * num) // den for num, den in QUANTILE_RATIOS]
    part = np.partition(vals, idxs)
    return (
        n,
        int(vals.min()),
        int(vals.max()),
        [int(part[i]) for i in idxs],
    )


def elevation_quantiles(catalog: DataFrame) -> DataFrame:
    """Per-tile exact elevation quantiles (tile_quantiles) — the
    order-statistics extension of the tile min/max stats: one map-only
    mapInArrow pass (``map_tiles``), zero shuffle Exchanges."""

    def quantiles(row, grid):
        n, mn, mx, qs = tile_quantiles(grid)
        yield (row["tile_lat"], row["tile_lon"], n, mn, mx, *qs)

    schema = (
        "tile_lat int, tile_lon int, n_valid bigint, min_elev int, "
        "max_elev int, q25 int, q50 int, q75 int, q90 int, q99 int"
    )
    return map_tiles(catalog, quantiles, schema)


def terrain_rgb_decode(payload: bytes, w: int, h: int) -> np.ndarray:
    """Client-side decode of a Terrain-RGB payload back to elevations
    (int32, -10000 where the sample was encoded as nodata (0,0,0)): the
    round-trip contract tests assert bit-exactness against the source
    grid on valid cells."""
    px = np.frombuffer(payload, dtype=np.uint8).reshape(h, w, 3).astype(np.int64)
    v = (px[..., 0] << 16) | (px[..., 1] << 8) | px[..., 2]
    return (v // 10 - 10000).astype(np.int32)


def horn_reference(grid: np.ndarray, row: int, col: int):
    """From-scratch scalar reference (independent of horn_sums' vectorized
    gather) for tests: returns (gxs, gys, ok)."""
    n = grid.shape[0]
    if not (1 <= row <= n - 2 and 1 <= col <= n - 2):
        return 0, 0, False
    z = [[int(grid[row + dr, col + dc]) for dc in (-1, 0, 1)] for dr in (-1, 0, 1)]
    if any(v == hgt.VOID_VALUE for r_ in z for v in r_):
        return 0, 0, False
    gxs = (z[0][2] + 2 * z[1][2] + z[2][2]) - (z[0][0] + 2 * z[1][0] + z[2][0])
    gys = (z[0][0] + 2 * z[0][1] + z[0][2]) - (z[2][0] + 2 * z[2][1] + z[2][2])
    return gxs, gys, True


# ---------------------------------------------------------------------------
# Cross-tile halo exchange: boundary-correct mosaic stencils
# ---------------------------------------------------------------------------
#
# Every per-tile stencil above deliberately skips the outermost ring
# (reference parity: tile.rs treats tiles as independent). At mosaic scale
# that discards ~0.33% of every tile — and 100% of one-cell-wide features
# crossing tile seams. SRTM neighbors share their boundary row/col (on an
# n x n tile our row 0 IS the north tile's row n-1), so the stencil at our
# edge needs exactly ONE ring from each neighbor: padded row -1 = north
# tile's row n-2, padded row n = south tile's row 1, padded col -1 = west
# tile's col n-2, padded col n = east tile's col 1, and the 4 corner pixels
# from the diagonal tiles.
#
# Scale shape: halos are exchanged as 2n-byte strips (2,402 bytes on
# SRTM3, 0.08% of the 2.9 MB blob), extracted in one map-only pass,
# shuffled by RECEIVER key, and joined back broadcast (strips are ~20
# KB/tile on SRTM3, ~58 KB on SRTM1, so the strip map fits a broadcast at
# any real catalog size). The tile blobs themselves NEVER cross an
# Exchange — two map passes over the catalog beat one full-data shuffle
# by orders of magnitude at raster scale.

HALO_SIDES = ("N", "S", "W", "E", "NW", "NE", "SW", "SE")


def halo_strips(catalog: DataFrame) -> DataFrame:
    """Extract the 8 outbound halo strips of every tile, keyed by the
    RECEIVING tile: (tile_lat, tile_lon, side, n, strip). `side` names the
    receiver's padded edge the strip fills; `n` is the sending tile's size,
    which a receiver of another size must not use (``pad_with_halos``).
    Strips are little-endian int16 ('<i2'); receivers for tiles absent
    from the catalog are dropped by the downstream join. Map-only
    (``map_tiles``), ~9.6 KB out per SRTM3 tile."""

    def strips(row, grid):
        g = grid.astype("<i2")
        n = g.shape[0]
        lat, lon = row["tile_lat"], row["tile_lon"]
        # (receiver_dlat, receiver_dlon, side_filled, source slice)
        for dlat, dlon, side, src in (
            (-1, 0, "N", g[n - 2, :]),   # south tile's padded row -1
            (+1, 0, "S", g[1, :]),       # north tile's padded row n
            (0, +1, "W", g[:, n - 2]),   # east tile's padded col -1
            (0, -1, "E", g[:, 1]),       # west tile's padded col n
            (-1, +1, "NW", g[n - 2 : n - 1, n - 2]),
            (-1, -1, "NE", g[n - 2 : n - 1, 1]),
            (+1, +1, "SW", g[1:2, n - 2]),
            (+1, -1, "SE", g[1:2, 1]),
        ):
            yield lat + dlat, lon + dlon, side, n, np.ascontiguousarray(src).tobytes()

    schema = "tile_lat int, tile_lon int, side string, n int, strip binary"
    return map_tiles(catalog, strips, schema)


def pad_with_halos(grid: np.ndarray, halos: dict[str, tuple[int, bytes]]) -> np.ndarray:
    """Assemble the (n+2)x(n+2) padded grid: center = tile, received
    strips fill the outer ring, everything else stays VOID (so edges
    without a neighbor are invalid under the stencil's void rule —
    exactly the per-tile behavior). ``halos`` maps a side to the sending
    tile's size and its strip; a strip from a tile of another size (SRTM1
    next to SRTM3) does not line up with this tile's samples, so its edge
    or corner stays VOID like a missing neighbor's."""
    n = grid.shape[0]
    p = np.full((n + 2, n + 2), hgt.VOID_VALUE, dtype=np.int64)
    p[1 : n + 1, 1 : n + 1] = grid.astype(np.int64, copy=False)
    got = {
        side: np.frombuffer(strip, dtype="<i2").astype(np.int64)
        for side, (size, strip) in halos.items()
        if size == n
    }
    if "N" in got:
        p[0, 1 : n + 1] = got["N"]
    if "S" in got:
        p[n + 1, 1 : n + 1] = got["S"]
    if "W" in got:
        p[1 : n + 1, 0] = got["W"]
    if "E" in got:
        p[1 : n + 1, n + 1] = got["E"]
    for side, (rr, cc) in (
        ("NW", (0, 0)),
        ("NE", (0, n + 1)),
        ("SW", (n + 1, 0)),
        ("SE", (n + 1, n + 1)),
    ):
        if side in got:
            p[rr, cc] = got[side][0]
    return p


def mosaic_horn_stats(catalog: DataFrame) -> DataFrame:
    """Boundary-correct Horn hillshade stats over the full n x n tile —
    the halo-exchange mosaic stencil. Edge cells whose 9-sample stencil
    reaches into a PRESENT neighbor become valid (n_edge_valid counts
    them); edges without a neighbor stay invalid, bit-compatible with the
    per-tile render elsewhere. Math is byte-identical to
    render_hillshade: tile_horn_grids on the padded grid + the exact
    hillshade_bytes quantization.

    The aggregated strip map broadcasts onto the catalog's paths, and the
    tiles are read by path in the map-only pass — zero blob Exchanges
    (PLANS.md gate)."""
    strips = (
        halo_strips(catalog)
        .groupBy("tile_lat", "tile_lon")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("side", F.struct("n", "strip")))
            ).alias("halos")
        )
    )
    joined = catalog.select("tile_lat", "tile_lon", "path").join(
        F.broadcast(strips), ["tile_lat", "tile_lon"], "left"
    )

    def stats(row, grid):
        halos = {side: (h["n"], h["strip"]) for side, h in row["halos"] or ()}
        padded = pad_with_halos(grid, halos)
        gxs, gys, ok = tile_horn_grids(padded)
        _, byte = hillshade_bytes(gxs, gys, ok)
        edge = np.zeros_like(ok)
        edge[0, :] = edge[-1, :] = True
        edge[:, 0] = edge[:, -1] = True
        yield (
            row["tile_lat"],
            row["tile_lon"],
            int(ok.sum()),
            int((ok & edge).sum()),
            int(gxs[ok].sum()),
            int(gys[ok].sum()),
            int(byte[ok].sum()),
            int(byte[ok].min()) if ok.any() else -1,
            int(byte[ok].max()) if ok.any() else -1,
        )

    schema = (
        "tile_lat int, tile_lon int, n_valid bigint, n_edge_valid bigint, "
        "sum_gxs bigint, sum_gys bigint, sum_byte bigint, min_byte int, "
        "max_byte int"
    )
    return map_tiles(joined, stats, schema, "halos")
