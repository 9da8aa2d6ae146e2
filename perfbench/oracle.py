"""Expected enrichment rows, computed once per seed with the ``htg_spark.hgt``
kernels and no Spark.

For every input row the oracle gives the columns ``elevation_join``
appends: ``lat, lon, tile_lat, tile_lon, in_coverage, tile_found,
knn_used, elevation``. Rows whose tile is missing use the documented
nearest-centre rule when kNN is on: squared distance in degrees to each
catalog tile centre ``(tile_lat + 0.5, tile_lon + 0.5)``, the lowest
``(tile_lat, tile_lon)`` winning ties, and the point clamped into the
chosen tile's ``[0, 1]`` fraction range before the lookup.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from htg_spark import hgt

# (mode, knn_fallback) per workload variant
VARIANTS = {
    "bilinear_knn": ("bilinear", True),
    "nearest": ("nearest", False),
    "nearest_knn": ("nearest", True),
}

APPENDED = ["lat", "lon", "tile_lat", "tile_lon", "in_coverage", "tile_found", "knn_used", "elevation"]


def _nearest_centres(lat: np.ndarray, lon: np.ndarray, keys: np.ndarray) -> np.ndarray:
    order = np.lexsort((keys[:, 1], keys[:, 0]))
    sk = keys[order]
    d = (lat[:, None] - (sk[:, 0] + 0.5)) ** 2 + (lon[:, None] - (sk[:, 1] + 0.5)) ** 2
    return sk[np.argmin(d, axis=1)]  # argmin takes the first, i.e. lowest key


def _lookup(grid, row_pos, col_pos, mode):
    if mode == "bilinear":
        return hgt.lookup_bilinear_pos(grid, row_pos, col_pos)[0]
    v = hgt.lookup_nearest_pos(grid, row_pos, col_pos, rounding=mode)
    return np.where(v == hgt.VOID_VALUE, np.nan, v.astype(np.float64))


def expected(lat, lon, grids: dict, mode: str, knn: bool) -> dict:
    """Column arrays for the appended columns; elevation is float64 with
    NaN standing for NULL."""
    n = len(lat)
    in_cov = np.asarray(hgt.is_valid_srtm_coord(lat, lon))
    tl, tn = hgt.tile_key(lat, lon)
    tl, tn = tl.copy(), tn.copy()
    found = np.zeros(n, dtype=bool)
    knn_used = np.zeros(n, dtype=bool)
    elev = np.full(n, np.nan)
    nm1 = hgt.SRTM3_SAMPLES - 1.0
    missing = []
    for key in {(int(a), int(b)) for a, b in zip(tl[in_cov], tn[in_cov])}:
        sel = np.flatnonzero(in_cov & (tl == key[0]) & (tn == key[1]))
        grid = grids.get(key)
        if grid is None:
            missing.append(sel)
            continue
        found[sel] = True
        row_pos, col_pos = hgt.grid_position(lat[sel], lon[sel], grid.shape[0])
        elev[sel] = _lookup(grid, row_pos, col_pos, mode)
    if knn and missing:
        mi = np.concatenate(missing)
        assigned = _nearest_centres(lat[mi], lon[mi], np.array(sorted(grids)))
        tl[mi], tn[mi] = assigned[:, 0], assigned[:, 1]
        found[mi] = True
        knn_used[mi] = True
        fr_lat = np.clip(lat[mi] - assigned[:, 0], 0.0, 1.0)
        fr_lon = np.clip(lon[mi] - assigned[:, 1], 0.0, 1.0)
        for key in {(int(a), int(b)) for a, b in assigned}:
            sub = np.flatnonzero((assigned[:, 0] == key[0]) & (assigned[:, 1] == key[1]))
            elev[mi[sub]] = _lookup(grids[key], (1.0 - fr_lat[sub]) * nm1, fr_lon[sub] * nm1, mode)
    return {
        "lat": lat,
        "lon": lon,
        "tile_lat": tl.astype(np.int32),
        "tile_lon": tn.astype(np.int32),
        "in_coverage": in_cov,
        "tile_found": found,
        "knn_used": knn_used,
        "elevation": elev,
    }


def to_arrow(image_id, cols: dict, mode: str) -> pa.Table:
    """The oracle columns as Arrow, typed like ``elevation_join``'s output
    (elevation INT for nearest, DOUBLE for bilinear, NULL for no value)."""
    e = cols["elevation"]
    null = np.isnan(e)
    if mode == "bilinear":
        elev = pa.array(e, mask=null, type=pa.float64())
    else:
        elev = pa.array(np.where(null, 0, e).astype(np.int32), mask=null)
    arrays = {"image_id": image_id}
    arrays.update({c: pa.array(cols[c]) for c in APPENDED[:-1]})
    arrays["elevation"] = elev
    return pa.table(arrays)


def match_mask(got: pa.Table, want: pa.Table) -> np.ndarray:
    """Per-row exact match of (tile_lat, tile_lon, elevation, knn_used),
    both tables sorted by image_id; NULL equals NULL, doubles compare
    bit-for-bit."""
    ok = np.ones(want.num_rows, dtype=bool)
    for c in ("tile_lat", "tile_lon", "knn_used"):
        ok &= got.column(c).to_numpy(zero_copy_only=False) == want.column(c).to_numpy(zero_copy_only=False)
    ge, we = got.column("elevation"), want.column("elevation")
    gn = ge.is_null().to_numpy(zero_copy_only=False)
    wn = we.is_null().to_numpy(zero_copy_only=False)
    gv = ge.fill_null(0).to_numpy(zero_copy_only=False).astype(np.float64)
    wv = we.fill_null(0).to_numpy(zero_copy_only=False).astype(np.float64)
    same = gv.view(np.int64) == wv.view(np.int64)
    ok &= (gn & wn) | (~gn & ~wn & same)
    return ok
