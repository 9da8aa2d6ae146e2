"""Seeded input generator for the elevation-enrichment benchmark.

Produces, from one integer seed and a row count:

- a directory of 36 SRTM3 ``.hgt`` tiles covering lat 40..45 x lon
  20..26 except the lon-23 column, so the lon-23 band is in coverage but
  has no tile (the kNN fallback path);
- ``points.parquet``: the image+caption table in the input_hint shape
  ``(image_id, bytes, w, h, fmt, caption, phash)``, written with
  ``ROW_GROUPS`` row groups so the scan is not a single task.

Coordinates are carried by ``phash`` (``htg_spark.fixtures`` encoding:
``lat = -90 + (u / 2^32) * 180``, ``lon = -180 + (v / 2^31) * 360``); the
canonical coordinates are the decoded ones.
The row mix is fixed by ``MIX``: a hot 0.01-degree cell, the missing-tile
band, an out-of-coverage stripe, points aimed at each tile's void block and
a uniform background over the whole window.

Everything is NumPy/pyarrow vectorized; there is no per-row Python loop.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from htg_spark import hgt
from htg_spark.fixtures import lat_lon_to_phash, phash_to_lat_lon  # noqa: F401  (decoder re-exported for run.py)

SAMPLES = hgt.SRTM3_SAMPLES
LATS = range(40, 46)
LONS = [20, 21, 22, 24, 25, 26]  # lon 23 is the missing-tile band
MISSING_LON = 23
HOT_CELL = (42.37, 21.64)  # south-west corner of the 0.01-degree hot cell
VOID_ROWS = (400, 440)  # void block, identical in every tile
VOID_COLS = (600, 640)
ROW_GROUPS = 16

# share of rows per coordinate class (sums to 1)
MIX = {
    "hot": 0.30,
    "missing_band": 0.10,
    "out_of_coverage": 0.05,
    "void": 0.05,
    "uniform": 0.50,
}

_WORDS = np.array(
    "glacier ridge summit valley river delta plateau canyon dune mesa forest "
    "tundra steppe basin fjord atoll caldera moraine scree col".split()
)
_FMTS = np.array(["jpeg", "png", "webp"])


def tile_keys() -> list[tuple[int, int]]:
    return [(la, lo) for la in LATS for lo in LONS]


def make_tiles(seed: int) -> dict[tuple[int, int], np.ndarray]:
    """{(tile_lat, tile_lon): int16 (1201, 1201) grid}, row 0 = north edge:
    a ramp plus seeded noise, with the void block set to VOID_VALUE."""
    rng = np.random.default_rng([seed, 1])
    r = np.arange(SAMPLES, dtype=np.int32)[:, None]
    c = np.arange(SAMPLES, dtype=np.int32)[None, :]
    ramp = (r * 7 + c * 13) % 2000
    grids = {}
    for la, lo in tile_keys():
        base = int(rng.integers(0, 3000))
        grid = (base + ramp + rng.integers(0, 50, (SAMPLES, SAMPLES), dtype=np.int32)).astype(np.int16)
        grid[VOID_ROWS[0] : VOID_ROWS[1], VOID_COLS[0] : VOID_COLS[1]] = hgt.VOID_VALUE
        grids[(la, lo)] = grid
    return grids


def make_points(seed: int, n_rows: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    counts = {k: int(round(f * n_rows)) for k, f in MIX.items()}
    counts["uniform"] = n_rows - sum(v for k, v in counts.items() if k != "uniform")
    cls = rng.permutation(np.repeat(np.arange(len(MIX)), list(counts.values())))
    lat = np.empty(n_rows)
    lon = np.empty(n_rows)
    for k, name in enumerate(MIX):
        idx = np.flatnonzero(cls == k)
        m = len(idx)
        if name == "hot":
            la = HOT_CELL[0] + rng.random(m) * 0.01
            lo = HOT_CELL[1] + rng.random(m) * 0.01
        elif name == "missing_band":
            la = LATS[0] + rng.random(m) * len(LATS)
            lo = MISSING_LON + rng.random(m)
        elif name == "out_of_coverage":
            la = 60.5 + rng.random(m) * 14.0
            lo = LONS[0] + rng.random(m) * 7.0
        elif name == "void":
            keys = np.array(tile_keys())[rng.integers(0, 36, m)]
            row_pos = rng.uniform(VOID_ROWS[0] + 1, VOID_ROWS[1] - 2, m)
            col_pos = rng.uniform(VOID_COLS[0] + 1, VOID_COLS[1] - 2, m)
            la = keys[:, 0] + 1.0 - row_pos / (SAMPLES - 1)
            lo = keys[:, 1] + col_pos / (SAMPLES - 1)
        else:
            la = LATS[0] + rng.random(m) * len(LATS)
            lo = LONS[0] + rng.random(m) * 7.0
        lat[idx] = la
        lon[idx] = lo
    phash = lat_lon_to_phash(lat, lon)

    sizes = rng.integers(64, 449, n_rows)
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(sizes, out=offsets[1:])
    payload = pa.Array.from_buffers(
        pa.binary(), n_rows, [None, pa.py_buffer(offsets), pa.py_buffer(rng.bytes(int(offsets[-1])))]
    )
    ids = pc.binary_join_element_wise(
        "img_", pc.utf8_lpad(pa.array(np.arange(n_rows)).cast(pa.string()), 9, "0"), ""
    )
    words = [pa.array(_WORDS[rng.integers(0, len(_WORDS), n_rows)]) for _ in range(4)]
    caption = pc.binary_join_element_wise(*words, " ")
    return pa.table(
        {
            "image_id": ids,
            "bytes": payload,
            "w": pa.array(rng.integers(8, 65, n_rows).astype(np.int32)),
            "h": pa.array(rng.integers(8, 65, n_rows).astype(np.int32)),
            "fmt": pa.array(_FMTS[rng.integers(0, 3, n_rows)]),
            "caption": caption,
            "phash": pa.array(phash),
        }
    )


def write_inputs(out_dir: str, seed: int, n_rows: int) -> None:
    """Write tiles/ and points.parquet under out_dir (atomically: a partial
    directory left by an interrupted run is never reused)."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tiles"))
    for (la, lo), grid in make_tiles(seed).items():
        with open(os.path.join(tmp, "tiles", hgt.coords_to_filename(la, lo)), "wb") as f:
            f.write(hgt.encode_tile(grid))
    table = make_points(seed, n_rows)
    pq.write_table(
        table,
        os.path.join(tmp, "points.parquet"),
        row_group_size=-(-n_rows // ROW_GROUPS),
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
