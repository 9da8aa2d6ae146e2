"""Pure-NumPy SRTM HGT kernels — the exact-semantics oracle core.

This module re-expresses the reference's tile codec, key math and lookup
kernels (htg, Rust) as vectorized NumPy, with bit-for-bit parity:

- tile byte layout / size-based resolution detection: ``htg/src/tile.rs:14-23``,
  ``tile.rs:125-129`` (big-endian i16, row-major, row 0 = north edge,
  ``tile.rs:305``, ``tile.rs:313-316``)
- void sentinel -32768: ``tile.rs:26``
- tile key = (floor(lat), floor(lon)) as int32: ``htg/src/service.rs:493``
- filename encode/parse: ``htg/src/filename.rs:38-49``, ``filename.rs:95-132``
- nearest / floor lookup: ``tile.rs:158-203`` — Rust ``f64::round`` is
  half-away-from-zero; operands are non-negative here, reproduced exactly via
  ``floor(x) + (x - floor(x) >= 0.5)`` (the fractional part of a non-negative
  double is exactly representable, so the comparison is exact)
- bilinear interpolation with edge clamping and any-corner-void -> None:
  ``tile.rs:239-284`` (clamp 257-258, void 271-273, float-op order 277-281)
- coverage predicate |lat|<=60, |lon|<=180 inclusive: ``filename.rs:146-148``
- service-layer void->None mapping: ``service.rs:250``
- order-preserving batch-with-default semantics: ``service.rs:409-480``

Everything here is driver-side-safe *and* UDF-safe: the Spark engine calls
these same functions inside Arrow-batched pandas UDFs, so the distributed
path and the oracle path share one kernel implementation.
"""

from __future__ import annotations

import numpy as np

# --- constants (tile.rs:14-26) -------------------------------------------------

VOID_VALUE: int = -32768

SRTM1_SAMPLES = 3601
SRTM3_SAMPLES = 1201
SRTM1_SIZE = SRTM1_SAMPLES * SRTM1_SAMPLES * 2  # 25,934,402
SRTM3_SIZE = SRTM3_SAMPLES * SRTM3_SAMPLES * 2  # 2,884,802

SRTM_COVERAGE_LAT = 60.0
SRTM_COVERAGE_LON = 180.0


# --- tile codec (tile.rs:93-138, 299-318) -------------------------------------


def samples_for_size(nbytes: int) -> int:
    """Size-based resolution detection (tile.rs:125-129). Raises on mismatch."""
    if nbytes == SRTM1_SIZE:
        return SRTM1_SAMPLES
    if nbytes == SRTM3_SIZE:
        return SRTM3_SAMPLES
    raise ValueError(f"Invalid HGT file size: {nbytes} bytes")


def decode_tile(data: bytes) -> np.ndarray:
    """bytes -> (samples, samples) int16 grid, big-endian row-major,
    row 0 = north edge (tile.rs:305, 313-316). Zero-copy over the buffer."""
    n = samples_for_size(len(data))
    return np.frombuffer(data, dtype=">i2").reshape(n, n)


def encode_tile(grid: np.ndarray) -> bytes:
    """(n, n) int-like grid -> HGT bytes (inverse of decode_tile)."""
    n = grid.shape[0]
    if grid.shape != (n, n) or n not in (SRTM1_SAMPLES, SRTM3_SAMPLES):
        raise ValueError(f"grid must be 1201x1201 or 3601x3601, got {grid.shape}")
    return np.ascontiguousarray(grid, dtype=">i2").tobytes()


def extract_hgt_from_zip(raw: bytes) -> bytes:
    """First .hgt entry of a ZIP archive (service.rs:546-576 /
    download.rs:500-530) — the single shared implementation for the
    catalog scan, the download pipeline, and path-fetch joins."""
    import io
    import zipfile

    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        hgts = [n for n in zf.namelist() if n.endswith(".hgt")]
        if not hgts:
            raise ValueError("no .hgt entry in ZIP archive")
        return zf.read(hgts[0])


# --- key math (service.rs:493; filename.rs:38-132) -----------------------------


def tile_key(lat, lon):
    """(floor(lat), floor(lon)) as int32 — floor, NOT trunc (service.rs:493).

    Vectorized; accepts scalars or arrays. A NaN coordinate casts to an
    arbitrary key without a warning: it is out of coverage, so no caller
    reads that key.
    """
    with np.errstate(invalid="ignore"):
        return (
            np.floor(np.asarray(lat, dtype=np.float64)).astype(np.int32),
            np.floor(np.asarray(lon, dtype=np.float64)).astype(np.int32),
        )


def tile_groups(tile_lat, tile_lon):
    """Group rows by tile key (the grouping of service.rs:409-480): yields
    ((tile_lat, tile_lon), positions) per distinct key, keys ascending,
    positions in input order. Sorts one scalar composite key: an int64
    argsort beats np.unique(axis=0)'s structured-dtype sort by ~50x on 64k
    batches."""
    code = (np.asarray(tile_lat, dtype=np.int64) + 90) * 400 + (
        np.asarray(tile_lon, dtype=np.int64) + 180
    )
    if len(code) == 0:
        return
    order = np.argsort(code, kind="stable")
    sc = code[order]
    bounds = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
    ends = np.r_[bounds[1:], len(sc)]
    for s, e in zip(bounds, ends):
        yield (int(sc[s] // 400 - 90), int(sc[s] % 400 - 180)), order[s:e]


def coords_to_filename(lat_int: int, lon_int: int) -> str:
    """Integer SW corner -> '{N|S}{lat:02}{E|W}{lon:03}.hgt' (filename.rs:38-49)."""
    lat_p = "N" if lat_int >= 0 else "S"
    lon_p = "E" if lon_int >= 0 else "W"
    return f"{lat_p}{abs(lat_int):02d}{lon_p}{abs(lon_int):03d}.hgt"


def lat_lon_to_filename(lat: float, lon: float) -> str:
    """(filename.rs:71-74) — floor pair then encode."""
    return coords_to_filename(int(np.floor(lat)), int(np.floor(lon)))


def filename_to_lat_lon(filename: str):
    """Inverse parse: path/extension stripped, case-insensitive, None on
    malformed input (filename.rs:95-132)."""
    name = filename.rsplit("/", 1)[-1].rsplit("\\", 1)[-1]
    if name.endswith(".hgt"):
        name = name[: -len(".hgt")]
    if len(name) != 7:
        return None
    c0, c3 = name[0], name[3]
    if c0 in ("N", "n"):
        lat_sign = 1
    elif c0 in ("S", "s"):
        lat_sign = -1
    else:
        return None
    if c3 in ("E", "e"):
        lon_sign = 1
    elif c3 in ("W", "w"):
        lon_sign = -1
    else:
        return None
    lat_s, lon_s = name[1:3], name[4:7]
    if not (lat_s.isdigit() and lon_s.isdigit()):
        return None
    return (int(lat_s) * lat_sign, int(lon_s) * lon_sign)


def is_valid_srtm_coord(lat, lon):
    """Inclusive coverage predicate (filename.rs:146-148). Vectorized."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    return (
        (lat >= -SRTM_COVERAGE_LAT)
        & (lat <= SRTM_COVERAGE_LAT)
        & (lon >= -SRTM_COVERAGE_LON)
        & (lon <= SRTM_COVERAGE_LON)
    )


# --- rounding (tile.rs:158-186) ------------------------------------------------


def round_half_away_nonneg(x: np.ndarray) -> np.ndarray:
    """Rust f64::round (half away from zero) for non-negative operands.

    NumPy's np.round is banker's rounding; floor(x + 0.5) is wrong near
    representation boundaries. ``x - floor(x)`` is exact for finite
    non-negative doubles, so the >= 0.5 test matches Rust bit-for-bit.
    """
    fl = np.floor(x)
    return fl + (x - fl >= 0.5)


# --- grid position (tile.rs:186-200, 251-252) ----------------------------------


def grid_position(lat, lon, samples):
    """Continuous (row_pos, col_pos) within the tile; row 0 = north edge.

    lat_frac = lat - floor(lat); row_pos = (1 - lat_frac) * (samples - 1);
    col_pos = lon_frac * (samples - 1)  (tile.rs:188-200). Exact f64 ops.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    lat_frac = lat - np.floor(lat)
    lon_frac = lon - np.floor(lon)
    nm1 = np.asarray(samples, dtype=np.float64) - 1.0
    row_pos = (1.0 - lat_frac) * nm1
    col_pos = lon_frac * nm1
    return row_pos, col_pos


# --- lookup kernels ------------------------------------------------------------


def _gather(grid: np.ndarray, row: np.ndarray, col: np.ndarray) -> np.ndarray:
    """Clamped raw grid read (tile.rs:299-318)."""
    n = grid.shape[0]
    row = np.minimum(row, n - 1)
    col = np.minimum(col, n - 1)
    return grid[row, col]


def lookup_nearest_pos(grid: np.ndarray, row_pos, col_pos, rounding: str = "nearest") -> np.ndarray:
    """Nearest/floor lookup from continuous grid positions (tile.rs:186-203)."""
    if rounding == "nearest":
        row = round_half_away_nonneg(row_pos).astype(np.int64)
        col = round_half_away_nonneg(col_pos).astype(np.int64)
    elif rounding == "floor":
        row = np.floor(row_pos).astype(np.int64)
        col = np.floor(col_pos).astype(np.int64)
    else:
        raise ValueError(f"rounding must be 'nearest' or 'floor', got {rounding!r}")
    return _gather(grid, row, col)


def lookup_nearest(grid: np.ndarray, lat, lon, rounding: str = "nearest") -> np.ndarray:
    """Nearest-neighbor (round) / floor elevation lookup; returns raw int16
    (may be VOID_VALUE) — tile.rs:158-203. Vectorized over lat/lon arrays.

    rounding='nearest' uses half-away-from-zero (Rust f64::round);
    rounding='floor' is the srtm.py-compatible SW-biased variant
    (tile.rs:181-183; discriminator test tile.rs:554-613).
    """
    row_pos, col_pos = grid_position(lat, lon, grid.shape[0])
    return lookup_nearest_pos(grid, row_pos, col_pos, rounding)


def lookup_bilinear_pos(grid: np.ndarray, row_pos, col_pos):
    """Bilinear interpolation from continuous grid positions (tile.rs:239-284).

    Returns (values: float64 array, void_mask: bool array). Where any of the
    4 corners is VOID_VALUE the mask is True and the value is NaN
    (tile.rs:271-273). Edge clamp: row1 = min(row0+1, n-1) so the last
    row/col interpolates with itself (tile.rs:257-258). Float-op order
    matches tile.rs:277-281 for bitwise parity.
    """
    n = grid.shape[0]
    row0 = np.floor(row_pos).astype(np.int64)
    col0 = np.floor(col_pos).astype(np.int64)
    row1 = np.minimum(row0 + 1, n - 1)
    col1 = np.minimum(col0 + 1, n - 1)
    row_w = row_pos - row0
    col_w = col_pos - col0

    v00 = _gather(grid, row0, col0).astype(np.float64)
    v10 = _gather(grid, row0, col1).astype(np.float64)
    v01 = _gather(grid, row1, col0).astype(np.float64)
    v11 = _gather(grid, row1, col1).astype(np.float64)

    void = (
        (v00 == VOID_VALUE) | (v10 == VOID_VALUE) | (v01 == VOID_VALUE) | (v11 == VOID_VALUE)
    )

    v0 = v00 + (v10 - v00) * col_w
    v1 = v01 + (v11 - v01) * col_w
    elev = v0 + (v1 - v0) * row_w
    elev = np.where(void, np.nan, elev)
    return elev, void


def lookup_bilinear(grid: np.ndarray, lat, lon):
    """Bilinear interpolation at (lat, lon) — see lookup_bilinear_pos."""
    row_pos, col_pos = grid_position(lat, lon, grid.shape[0])
    return lookup_bilinear_pos(grid, row_pos, col_pos)


# --- service-layer batch semantics (service.rs:409-480) -------------------------


def get_elevations_batch(coords, tiles, default=0, mode: str = "nearest"):
    """Order-preserving batch lookup replicating SrtmService semantics.

    coords: sequence of (lat, lon); tiles: dict[(int,int)] -> int16 grid.
    Out-of-coverage coords are skipped -> default (service.rs:456-459);
    missing tiles -> default (service.rs:466-469); void samples / void
    corners -> default (service.rs:344-347, tile.rs:271-273).

    mode: 'nearest' | 'floor' -> int results; 'bilinear' -> float results.
    This is the pure-Python oracle for the Spark elevation_join.
    """
    coords = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    lat, lon = coords[:, 0], coords[:, 1]
    n = len(lat)
    if mode == "bilinear":
        results = np.full(n, float(default), dtype=np.float64)
    else:
        results = np.full(n, int(default), dtype=np.int64)

    valid = is_valid_srtm_coord(lat, lon)
    klat, klon = tile_key(lat, lon)
    keys = np.stack([klat, klon], axis=1)
    idx = np.nonzero(valid)[0]
    if len(idx) == 0:
        return results
    # group indices by tile key (service.rs:454-462)
    uniq, inv = np.unique(keys[idx], axis=0, return_inverse=True)
    for g, (tl, tn) in enumerate(uniq):
        grid = tiles.get((int(tl), int(tn)))
        if grid is None:
            continue  # missing tile -> defaults (service.rs:466-469)
        gi = idx[inv == g]
        if mode == "bilinear":
            vals, void = lookup_bilinear(grid, lat[gi], lon[gi])
            ok = ~void
            results[gi[ok]] = vals[ok]
        else:
            vals = lookup_nearest(grid, lat[gi], lon[gi], rounding=mode)
            ok = vals != VOID_VALUE
            results[gi[ok]] = vals[ok]
    return results
