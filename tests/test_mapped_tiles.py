"""Mapped and read tiles agree (hypothesis). ``catalog._read_grid`` maps a
plain ``.hgt`` file (a spilled one too) and reads and extracts a
``.hgt.zip``; every source equals ``hgt.decode_tile`` over the file's
bytes, for SRTM1 and SRTM3. The nearest, floor and bilinear gathers and
the Horn stencil read the same values from a mapped grid as from the
decoded bytes, and return plain ndarrays: no memory map leaks into an
output. Bounded (``max_examples``), and ``database=None`` writes no example
database.
"""

import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from htg_spark import catalog, fixtures, hgt
from htg_spark.engine import _GridCache
from htg_spark.operators.terrain import tile_horn_grids

SAMPLES = (hgt.SRTM3_SAMPLES, hgt.SRTM1_SAMPLES)
SOURCES = ("plain", "spilled", "zip")


def _grid(n: int) -> np.ndarray:
    rng = np.random.default_rng(n)
    g = rng.integers(-100, 3000, size=(n, n), dtype=np.int16)
    g.ravel()[rng.integers(0, n * n, size=n * n // 100)] = hgt.VOID_VALUE
    return g


@pytest.fixture(scope="module")
def tiles(spark, tmp_path_factory):
    """{samples: (the decoded tile bytes, {source: tile path})}: one tile
    per resolution, written as a plain file, a zip and a spilled file. (The
    decoded grid, not the bytes, rides the fixture: NumPy summarises its
    repr in a failure report.)"""
    out = {}
    for n in SAMPLES:
        blob = hgt.encode_tile(_grid(n))
        d = tmp_path_factory.mktemp(f"tiles{n}")
        plain = d / "N35E138.hgt"
        plain.write_bytes(blob)
        zipped = d / "N36E138.hgt.zip"
        zipped.write_bytes(fixtures.zip_tile_bytes("N36E138.hgt", blob))
        spilled = catalog._spill_blob(spark.sparkContext, blob)
        paths = {"plain": str(plain), "spilled": spilled, "zip": str(zipped)}
        out[n] = (hgt.decode_tile(blob), paths)
    return out


def test_read_grid_equals_the_decoded_bytes(tiles):
    """Every source decodes to the file's bytes; a plain or spilled file is
    a read-only ``>i2`` memory map, a zip an in-memory grid."""
    for n, (want, paths) in tiles.items():
        for source, path in paths.items():
            grid = catalog._read_grid(path)
            assert grid.shape == (n, n) and grid.dtype == np.dtype(">i2")
            assert np.array_equal(grid, want), (n, source)
            assert isinstance(grid, np.memmap) == (source != "zip"), source
            assert not grid.flags.writeable, source


def _same_ndarrays(got, want):
    for a, b in zip(got, want):
        assert type(a) is np.ndarray and type(b) is np.ndarray, (type(a), type(b))
        assert a.dtype == b.dtype
        assert np.array_equal(a, b, equal_nan=a.dtype.kind == "f")


_unit = st.one_of(st.sampled_from([0.0, 0.5, 1.0]), st.floats(0.0, 1.0))


@settings(max_examples=40, deadline=None, database=None)
@given(
    n=st.sampled_from(SAMPLES),
    source=st.sampled_from(SOURCES),
    points=st.lists(st.tuples(_unit, _unit), min_size=1, max_size=40),
    corner=st.tuples(_unit, _unit),
)
def test_gathers_read_the_same_values_mapped(tiles, n, source, points, corner):
    decoded, paths = tiles[n]
    mapped = catalog._read_grid(paths[source])
    rows = np.array([p[0] for p in points]) * (n - 1)
    cols = np.array([p[1] for p in points]) * (n - 1)
    for rounding in ("nearest", "floor"):
        _same_ndarrays(
            [hgt.lookup_nearest_pos(mapped, rows, cols, rounding=rounding)],
            [hgt.lookup_nearest_pos(decoded, rows, cols, rounding=rounding)],
        )
    _same_ndarrays(
        hgt.lookup_bilinear_pos(mapped, rows, cols),
        hgt.lookup_bilinear_pos(decoded, rows, cols),
    )
    # the Horn stencil over a 64-sample window of the tile (a mapped view)
    k = 64
    r0, c0 = (int(v * (n - k)) for v in corner)
    window = np.s_[r0 : r0 + k, c0 : c0 + k]
    _same_ndarrays(tile_horn_grids(mapped[window]), tile_horn_grids(decoded[window]))


def test_whole_tile_horn_reads_the_same_values_mapped(tiles):
    decoded, paths = tiles[hgt.SRTM3_SAMPLES]
    _same_ndarrays(
        tile_horn_grids(catalog._read_grid(paths["plain"])),
        tile_horn_grids(decoded),
    )


def _open_files_under(d: str) -> int:
    n = 0
    for fd in os.listdir("/proc/self/fd"):
        try:
            n += os.readlink(f"/proc/self/fd/{fd}").startswith(d + os.sep)
        except OSError:  # the listing's own descriptor, closed since
            pass
    return n


def test_grid_cache_bounds_open_files(tmp_path):
    """Each live map holds one open file descriptor, so a grid cache of
    capacity 2 fed 5 tile files holds at most 2 into their directory: an
    evicted map is closed."""
    blob = hgt.encode_tile(fixtures.tile_center(500))
    paths = []
    for lon in range(5):
        f = tmp_path / hgt.coords_to_filename(35, 138 + lon)
        f.write_bytes(blob)
        paths.append(str(f))
    cache = _GridCache(2)
    for p in paths:
        assert cache.get(p)[600, 600] == 500
        assert _open_files_under(str(tmp_path)) <= 2
    assert len(cache.data) == 2
