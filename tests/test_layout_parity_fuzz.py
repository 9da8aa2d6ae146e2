"""Layout-parity fuzz test (hypothesis): on small adversarial frames an
engine whose grid cache holds the whole catalog and one whose cache holds
fewer tiles than the catalog (so it evicts and re-reads tiles) return the
same rows, and both equal a scalar reference written from
``htg_spark.hgt`` — for the elevation kernel (nearest, floor and bilinear,
kNN fallback on and off) and the Horn terrain kernel. Both plans run
map-side, with no Exchange.

Inputs mix void samples, tile edges, the coverage limits (±60 latitude,
±180 longitude), the poles, NULL and NaN, ±inf, coordinates whose floor
lies outside int32, empty frames, duplicate ids and one-cell skew. The
examples are few and small (``max_examples``), so the test stays well
under a minute; ``database=None`` writes no example database.
"""

import functools
import math

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from htg_spark import hgt
from htg_spark.engine import ElevationEngine
from htg_spark.operators.terrain import terrain_join
from htg_spark.profile import count, faults, plan_nodes


def _grids() -> dict:
    """Five tiles: a gradient with a void block, a gradient, and three
    random tiles with scattered voids, two of them at the coverage limits
    (the -60/-180 and 60/180 corners)."""
    rng = np.random.default_rng(2024)
    n = 1201
    gradient = (np.add.outer(np.arange(n), np.arange(n)) % 4000).astype(np.int16)
    holed = gradient.copy()
    holed[500:700, 500:700] = hgt.VOID_VALUE

    def noisy():
        g = rng.integers(-100, 3000, size=(n, n)).astype(np.int16)
        g[rng.random((n, n)) < 0.01] = hgt.VOID_VALUE
        return g

    return {(35, 138): holed, (35, 139): gradient, (36, 138): noisy(),
            (-60, -180): noisy(), (60, 180): noisy()}


GRIDS = _grids()
KEYS = sorted(GRIDS)
ELEVATION = [(mode, knn) for mode in ("nearest", "floor", "bilinear") for knn in (False, True)]

# -- the scalar reference ----------------------------------------------------


def _key(lat, lon):
    """(floor(lat), floor(lon)), or (None, None) for a NULL/NaN coordinate
    or a floor outside int32."""
    lo, hi = -(2**31), 2**31 - 1
    if any(v is None or not math.isfinite(v) or not lo <= math.floor(v) <= hi for v in (lat, lon)):
        return None, None
    return math.floor(lat), math.floor(lon)


def _covered(lat, lon) -> bool:
    return lat is not None and lon is not None and bool(hgt.is_valid_srtm_coord(lat, lon))


def _value(grid, row_pos, col_pos, mode):
    """The elevation at continuous grid positions, None where void."""
    if mode == "bilinear":
        v, void = hgt.lookup_bilinear_pos(grid, np.array([row_pos]), np.array([col_pos]))
        return None if void[0] else float(v[0])
    v = hgt.lookup_nearest_pos(grid, np.array([row_pos]), np.array([col_pos]), rounding=mode)
    return None if v[0] == hgt.VOID_VALUE else int(v[0])


def _nearest_key(lat, lon):
    """The catalog tile with the nearest centre, ties to the lowest key."""
    best = None
    for k in KEYS:
        dlat, dlon = lat - (k[0] + 0.5), lon - (k[1] + 0.5)
        d = dlat * dlat + dlon * dlon
        if best is None or d < best[0]:
            best = (d, k)
    return best[1]


def ref_elevation(lat, lon, mode, knn):
    """(tile_lat, tile_lon, in_coverage, tile_found, knn_used, elevation)."""
    tl, tn = _key(lat, lon)
    if not _covered(lat, lon):
        return tl, tn, False, False, False, None
    grid = GRIDS.get((tl, tn))
    if grid is not None:
        row_pos, col_pos = hgt.grid_position(lat, lon, grid.shape[0])
        return tl, tn, True, True, False, _value(grid, row_pos, col_pos, mode)
    if not knn:
        return tl, tn, True, False, False, None
    tl, tn = _nearest_key(lat, lon)
    grid = GRIDS[(tl, tn)]
    nm1 = grid.shape[0] - 1.0
    fr_lat = min(max(lat - tl, 0.0), 1.0)
    fr_lon = min(max(lon - tn, 0.0), 1.0)
    return tl, tn, True, True, True, _value(grid, (1.0 - fr_lat) * nm1, fr_lon * nm1, mode)


def ref_terrain(lat, lon):
    """(tile_lat, tile_lon, in_coverage, tile_found, terrain_ok, gxs, gys):
    the 3x3 Horn sums at the nearest sample, interior and void-free only."""
    tl, tn = _key(lat, lon)
    grid = GRIDS.get((tl, tn)) if _covered(lat, lon) else None
    if grid is None:
        return tl, tn, _covered(lat, lon), False, False, None, None
    n = grid.shape[0]
    row_pos, col_pos = hgt.grid_position(lat, lon, n)
    r = int(hgt.round_half_away_nonneg(row_pos))
    c = int(hgt.round_half_away_nonneg(col_pos))
    if not (1 <= r <= n - 2 and 1 <= c <= n - 2):
        return tl, tn, True, True, False, None, None
    z = grid[r - 1 : r + 2, c - 1 : c + 2].astype(np.int64)
    if (z == hgt.VOID_VALUE).any():
        return tl, tn, True, True, False, None, None
    gxs = (z[0, 2] + 2 * z[1, 2] + z[2, 2]) - (z[0, 0] + 2 * z[1, 0] + z[2, 0])
    gys = (z[0, 0] + 2 * z[0, 1] + z[0, 2]) - (z[2, 0] + 2 * z[2, 1] + z[2, 2])
    return tl, tn, True, True, True, int(gxs), int(gys)


# -- the Spark side ----------------------------------------------------------


@pytest.fixture(scope="module")
def layouts(spark):
    """{layout: engine}: the catalog fits the first engine's grid cache and
    overflows the over-cache one's (cache_size 2); neither plan shuffles."""
    engines = {
        "map-side": ElevationEngine(spark, grids=GRIDS),
        "over-cache": ElevationEngine(spark, grids=GRIDS, cache_size=2),
    }
    probe = spark.createDataFrame(pa.table({"lat": [35.5], "lon": [138.5]}))
    for name, eng in engines.items():
        nodes = plan_nodes(eng.elevation_join(probe, strategy="cogroup"))
        assert not faults(nodes, [count("Exchange", 0, 0)]), name
    return engines


def _joined(eng, df) -> dict:
    """{(variant, rid): kernel columns} over every kernel variant, in one
    Spark job: the elevation variants and the terrain join, unioned on
    (rid, variant, tile_lat, tile_lon, in_coverage, tile_found, flag, v1,
    v2), where flag is knn_used / terrain_ok and (v1, v2) is (elevation,
    NULL) / (gxs, gys)."""
    parts = []
    for mode, knn in ELEVATION:
        out = eng.elevation_join(df, mode=mode, strategy="cogroup", knn_fallback=knn)
        parts.append(out.select(
            "rid", F.lit(f"{mode}/{knn}").alias("variant"), "tile_lat", "tile_lon",
            "in_coverage", "tile_found", F.col("knn_used").alias("flag"),
            F.col("elevation").cast("double").alias("v1"), F.lit(None).cast("double").alias("v2"),
        ))
    out = terrain_join(eng, df, strategy="cogroup")
    parts.append(out.select(
        "rid", F.lit("terrain").alias("variant"), "tile_lat", "tile_lon", "in_coverage",
        "tile_found", F.col("terrain_ok").alias("flag"),
        F.col("gxs").cast("double").alias("v1"), F.col("gys").cast("double").alias("v2"),
    ))
    rows = functools.reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {(r.variant, r.rid): tuple(r)[2:] for r in rows}


def _expected(points) -> dict:
    want = {}
    for rid, (lat, lon) in enumerate(points):
        for mode, knn in ELEVATION:
            *head, e = ref_elevation(lat, lon, mode, knn)
            want[(f"{mode}/{knn}", rid)] = (*head, None if e is None else float(e), None)
        *head, gxs, gys = ref_terrain(lat, lon)
        want[("terrain", rid)] = (*head, *(None if v is None else float(v) for v in (gxs, gys)))
    return want


# -- the inputs --------------------------------------------------------------

_ODD = [None, math.nan, math.inf, -math.inf, 1e10, -1e12, -0.0, 0.0]
_LAT = _ODD + [90.0, -90.0, 60.0, -60.0, 35.0, 36.0, 37.0]
_LON = _ODD + [180.0, -180.0, 179.99999999, 138.0, 139.0, 140.0]
_offset = st.one_of(st.sampled_from([0.0, 0.5, 1.0]), st.floats(-0.05, 1.05))
# near a catalog tile, its edges included
_in_tile = st.tuples(st.sampled_from(KEYS), _offset, _offset).map(
    lambda t: (t[0][0] + t[1], t[0][1] + t[2])
)
_in_void = st.tuples(st.floats(35.42, 35.58), st.floats(138.42, 138.58))
_odd = st.tuples(st.sampled_from(_LAT), st.sampled_from(_LON))
_anywhere = st.tuples(st.floats(-95.0, 95.0), st.floats(-185.0, 185.0))
_point = st.one_of(_in_tile, _in_void, _odd, _anywhere)
# a few rows (ids 0-3, so some repeat) plus up to 30 copies of one point
_frame = st.tuples(
    st.lists(st.tuples(st.integers(0, 3), _point), max_size=8),
    st.integers(0, 30),
    _point,
)


@settings(max_examples=8, deadline=None, database=None)
@given(frame=_frame)
def test_layouts_match_each_other_and_the_reference(spark, layouts, frame):
    rows, n_hot, hot = frame
    rows = rows + [(9, hot)] * n_hot
    points = [p for _, p in rows]
    df = spark.createDataFrame(pa.table({
        "rid": pa.array(range(len(rows)), pa.int64()),
        "id": pa.array([i for i, _ in rows], pa.int64()),
        "lat": pa.array([p[0] for p in points], pa.float64()),
        "lon": pa.array([p[1] for p in points], pa.float64()),
    }))
    want = _expected(points)
    for name, eng in layouts.items():
        got = _joined(eng, df)
        assert got == want, (name, {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v})
