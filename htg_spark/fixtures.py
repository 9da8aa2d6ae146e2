"""Deterministic test fixtures — synthetic tiles and the image+caption table.

Tile byte patterns are ported verbatim from the reference's own unit tests
(see FIXTURES.md §1 and the file:line citations below); the image+caption
table follows the exact input shape from BASELINE.json's input_hint:
(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64). All generation is seeded (seed=42), pure
NumPy, chunked and order-deterministic — no external data, no network.
"""

from __future__ import annotations

import io
import zipfile
import zlib

import numpy as np

from . import hgt

SEED = 42


# --- tile patterns (FIXTURES.md §1) --------------------------------------------


def tile_corners(samples: int = 1201) -> np.ndarray:
    """Zeros; NW=1000, center=500, SE=100 (htg/src/tile.rs:347-371)."""
    g = np.zeros((samples, samples), dtype=np.int16)
    g[0, 0] = 1000
    g[samples // 2, samples // 2] = 500
    g[samples - 1, samples - 1] = 100
    return g


def tile_interp(samples: int = 1201) -> np.ndarray:
    """Zeros; (600,600)=100,(600,601)=200,(601,600)=300,(601,601)=400
    (tile.rs:432-456)."""
    g = np.zeros((samples, samples), dtype=np.int16)
    g[600, 600] = 100
    g[600, 601] = 200
    g[601, 600] = 300
    g[601, 601] = 400
    return g


def tile_round(samples: int = 1201) -> np.ndarray:
    """Zeros; (786,1008)=191,(786,1009)=190 — floor/round discriminator at
    (33.3448, -96.1592) on tile (33,-97) (tile.rs:554-575)."""
    g = np.zeros((samples, samples), dtype=np.int16)
    g[786, 1008] = 191
    g[786, 1009] = 190
    return g


def tile_void(samples: int = 1201) -> np.ndarray:
    """tile_interp with the (600,600) corner void (tile.rs:519-543)."""
    g = tile_interp(samples)
    g[600, 600] = hgt.VOID_VALUE
    return g


def tile_center(value: int, samples: int = 1201) -> np.ndarray:
    """Zeros; center (600,600)=value (htg/src/service.rs:963-975)."""
    g = np.zeros((samples, samples), dtype=np.int16)
    g[samples // 2, samples // 2] = np.int16(value)
    return g


def tile_gradient(samples: int = 1201) -> np.ndarray:
    """Full grid elev = (row + col) % 4000 (htg/benches/elevation.rs:10-24).

    Because elevation is a closed-form function of (row, col), a SQL oracle
    can compute expected join outputs analytically while the engine does the
    real binary decode — this pattern backs the driver correctness gate.
    """
    r = np.arange(samples, dtype=np.int64)
    return ((r[:, None] + r[None, :]) % 4000).astype(np.int16)


def tile_bench(base: int, samples: int = 1201) -> np.ndarray:
    """Full grid elev = base + (row+col) % 1000
    (benchmarks/create_test_tiles.py:43-50)."""
    r = np.arange(samples, dtype=np.int64)
    return (base + (r[:, None] + r[None, :]) % 1000).astype(np.int16)


def zip_tile_bytes(filename: str, data: bytes) -> bytes:
    """Wrap tile bytes in a stored-compression ZIP named {filename}.zip
    containing {filename} (service.rs:1116-1138 / S2)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_STORED) as zf:
        zf.writestr(filename, data)
    return buf.getvalue()


def default_catalog_grids() -> dict[tuple[int, int], np.ndarray]:
    """The default pytest tile set (FIXTURES.md §1): 2x2 block at (35,138)
    plus the rounding tile at (33,-97); deliberately nothing at (50,50)."""
    return {
        (35, 138): tile_corners(),
        (36, 138): tile_center(1000),
        (35, 139): tile_interp(),
        (36, 139): tile_gradient(),
        (33, -97): tile_round(),
    }


# --- image payload codecs (input_hint: fmt in {raw, ppm, rawz}) ------------------


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode (h, w, 3) uint8 RGB pixels. All codecs are decodable with
    stdlib+NumPy only (no Pillow in the sandbox) and lossless, so the
    decoded-pixel round-trip is exact (PSNR = inf >= 40 dB)."""
    h, w = pixels.shape[:2]
    raw = np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()
    if fmt == "raw":
        return raw
    if fmt == "ppm":
        return b"P6\n%d %d\n255\n" % (w, h) + raw
    if fmt == "rawz":
        return zlib.compress(raw, level=1)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode back to (h, w, 3) uint8. Raises on corrupt payloads."""
    if fmt == "raw":
        raw = data
    elif fmt == "ppm":
        header_end = data.index(b"255\n") + 4
        magic, dims = data[:header_end].split(b"\n", 2)[:2]
        if magic != b"P6":
            raise ValueError("bad PPM magic")
        pw, ph = (int(x) for x in dims.split())
        if (pw, ph) != (w, h):
            raise ValueError(f"PPM dims {(pw, ph)} != ({w}, {h})")
        raw = data[header_end:]
    elif fmt == "rawz":
        raw = zlib.decompress(data)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    if len(raw) != w * h * 3:
        raise ValueError(f"payload size {len(raw)} != {w}*{h}*3")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


# --- geotag derivation (fixed formula shared by generator, engine, oracle) ------
#
# The table carries no lat/lon; points derive from phash via a full-globe
# encoding so ANY coordinate (in-coverage, out-of-coverage, missing-tile) is
# representable:
#
#   u = phash & 0xFFFFFFFF            (low 32 bits)
#   v = (phash >> 32) & 0x7FFFFFFF    (next 31 bits; phash >= 0 by generation)
#   lat = -90  + (u / 2^32) * 180
#   lon = -180 + (v / 2^31) * 360
#
# Both expressions use only exact integer extraction plus IEEE double ops, so
# Spark, NumPy and the DuckDB SQL oracle compute bit-identical coordinates.

_U_SCALE = 4294967296.0  # 2^32
_V_SCALE = 2147483648.0  # 2^31


def phash_to_lat_lon(phash):
    """Deterministic phash -> (lat, lon), vectorized (full-globe window)."""
    p = np.asarray(phash, dtype=np.int64).astype(np.uint64)
    u = (p & np.uint64(0xFFFFFFFF)).astype(np.float64)
    v = ((p >> np.uint64(32)) & np.uint64(0x7FFFFFFF)).astype(np.float64)
    lat = -90.0 + (u / _U_SCALE) * 180.0
    lon = -180.0 + (v / _V_SCALE) * 360.0
    return lat, lon


def lat_lon_to_phash(lat, lon):
    """Inverse of phash_to_lat_lon (to the nearest representable grid point).

    Approximate by one quantum (~2e-8 deg lat, ~1.7e-7 deg lon): canonical
    coordinates are ALWAYS the decoded ``phash_to_lat_lon(phash)`` values —
    generator, engine and SQL oracle all derive from the stored phash.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    u = np.rint((lat + 90.0) / 180.0 * _U_SCALE).astype(np.uint64)
    u = np.minimum(u, np.uint64(0xFFFFFFFF))
    v = np.rint((lon + 180.0) / 360.0 * _V_SCALE).astype(np.uint64)
    v = np.minimum(v, np.uint64(0x7FFFFFFF))
    return (u | (v << np.uint64(32))).astype(np.int64)


_WORDS = (
    "glacier ridge summit valley river delta plateau canyon dune mesa "
    "forest tundra steppe basin fjord atoll caldera moraine scree col "
    "雪山 火山 丘陵 평야 وادي गिरि βουνό холм"
).split()


def make_images_pdf(
    n_rows: int,
    seed: int = SEED,
    skew_frac: float = 0.3,
    out_of_coverage_frac: float = 0.02,
    missing_tile_frac: float = 0.05,
    max_px: int = 16,
):
    """Generate the image+caption points table as a pandas DataFrame.

    Exact input_hint shape: (image_id:string, bytes:binary, w:int32, h:int32,
    fmt:string, caption:string, phash:int64). A `skew_frac` fraction of rows
    is crammed into one 0.01°x0.01° hot cluster (skew test); small
    fractions get out-of-coverage (lat>60) or missing-tile (50.x, 50.x)
    phash-mapped coordinates to exercise default/NULL paths
    (service.rs:456-459, service.rs:1044-1052).
    """
    import pandas as pd

    rng = np.random.default_rng(seed)
    i = np.arange(n_rows, dtype=np.int64)

    # base: uniform over the catalog window [35,37) x [138,140)
    base_lat = 35.0 + rng.random(n_rows) * 2.0
    base_lon = 138.0 + rng.random(n_rows) * 2.0
    phash = lat_lon_to_phash(base_lat, base_lon)

    # hot cluster: cram skew_frac of rows into [35.42,35.43) x [138.77,138.78)
    n_hot = int(n_rows * skew_frac)
    hot_idx = rng.choice(n_rows, size=n_hot, replace=False)
    hot_lat = 35.42 + rng.random(n_hot) * 0.01
    hot_lon = 138.77 + rng.random(n_hot) * 0.01
    phash[hot_idx] = lat_lon_to_phash(hot_lat, hot_lon)

    # deterministic stripes: out-of-coverage (lat 75.x) and missing-tile (50.x)
    n_ooc = max(1, int(n_rows * out_of_coverage_frac))
    n_miss = max(1, int(n_rows * missing_tile_frac))
    ooc_idx = i[:: max(1, n_rows // n_ooc)][:n_ooc]
    miss_idx = i[1 :: max(1, n_rows // n_miss)][:n_miss]
    phash[ooc_idx] = lat_lon_to_phash(
        75.0 + rng.random(len(ooc_idx)), 10.0 + rng.random(len(ooc_idx))
    )
    phash[miss_idx] = lat_lon_to_phash(
        50.0 + rng.random(len(miss_idx)) * 0.9, 50.0 + rng.random(len(miss_idx)) * 0.9
    )

    w = rng.integers(4, max_px + 1, n_rows).astype(np.int32)
    h = rng.integers(4, max_px + 1, n_rows).astype(np.int32)
    fmts = np.array(["raw", "ppm", "rawz"])[i % 3]

    captions = [
        " ".join(_WORDS[int(x) % len(_WORDS)] for x in rng.integers(0, len(_WORDS), 5))
        for _ in range(n_rows)
    ]
    payloads = []
    for k in range(n_rows):
        px = rng.integers(0, 256, (int(h[k]), int(w[k]), 3)).astype(np.uint8)
        payloads.append(encode_image(px, str(fmts[k])))

    return pd.DataFrame(
        {
            "image_id": [f"img_{k:08d}" for k in range(n_rows)],
            "bytes": payloads,
            "w": w,
            "h": h,
            "fmt": fmts,
            "caption": captions,
            "phash": phash,
        }
    )
