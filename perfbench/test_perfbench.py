"""Tests of the benchmark's own parts (generator, oracle, /proc sampler).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import procfs  # noqa: E402


def _files(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_same_seed_same_bytes_other_seed_other_data(tmp_path):
    gen.write_inputs(str(tmp_path / "a"), seed=7, n_rows=2000)
    gen.write_inputs(str(tmp_path / "b"), seed=7, n_rows=2000)
    gen.write_inputs(str(tmp_path / "c"), seed=8, n_rows=2000)
    a, b, c = (_files(tmp_path / x) for x in "abc")
    assert len(a) == 37 and sorted(a) == sorted(b) == sorted(c)
    assert a == b
    assert a["points.parquet"] != c["points.parquet"]
    assert all(a[k] != c[k] for k in a if k.startswith("tiles"))


def test_points_shape_and_mix():
    t = gen.make_points(3, 10_000)
    assert t.column_names == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    assert len(set(t.column("image_id").to_pylist())) == 10_000
    lat, lon = gen.phash_to_lat_lon(t.column("phash").to_numpy())
    hot = (lat >= gen.HOT_CELL[0]) & (lat < gen.HOT_CELL[0] + 0.01) & (lon >= gen.HOT_CELL[1]) & (lon < gen.HOT_CELL[1] + 0.01)
    assert abs(hot.mean() - gen.MIX["hot"]) < 0.01
    assert abs((lat > 60).mean() - gen.MIX["out_of_coverage"]) < 0.01
    band = (np.floor(lon) == gen.MISSING_LON) & (lat <= 60)
    assert band.mean() > gen.MIX["missing_band"]


def test_oracle_knn_tie_goes_to_lowest_key():
    grid = np.arange(gen.SAMPLES * gen.SAMPLES, dtype=np.int64).reshape(gen.SAMPLES, gen.SAMPLES) % 1000
    grids = {(40, 24): grid.astype(np.int16), (40, 22): grid.astype(np.int16)}
    # equidistant from both centres (40.5, 22.5) and (40.5, 24.5)
    got = oracle.expected(np.array([40.5]), np.array([23.5]), grids, "nearest", knn=True)
    assert got["knn_used"][0] and got["tile_found"][0]
    assert (got["tile_lat"][0], got["tile_lon"][0]) == (40, 22)
    # clamped into tile (40, 22): lon frac 1.0 -> last column, lat frac 0.5
    assert got["elevation"][0] == grid[600, 1200]


def test_oracle_matches_reference_batch_lookup():
    from htg_spark import hgt

    grids = gen.make_tiles(5)
    t = gen.make_points(5, 5000)
    lat, lon = gen.phash_to_lat_lon(t.column("phash").to_numpy())
    got = oracle.expected(lat, lon, grids, "nearest", knn=False)
    ref = hgt.get_elevations_batch(np.stack([lat, lon], axis=1), grids, default=-1, mode="nearest")
    have = ~np.isnan(got["elevation"])
    assert have.sum() > 0.5 * len(lat) and (~have).sum() > 0.1 * len(lat)
    assert np.array_equal(got["elevation"][have], ref[have].astype(np.float64))
    assert np.all(ref[~have] == -1)


CHILD = """
import sys, time
end = time.process_time() + 0.6
while time.process_time() < end:
    pass
block = b"x" * (256 << 20)
print("ready", flush=True)
sys.stdin.readline()
"""


def test_tree_sampler_sees_child_memory_and_cpu():
    cpu0 = procfs.TreeSampler().cpu_seconds()
    with procfs.TreeSampler(interval=0.02) as sampler:
        child = subprocess.Popen([sys.executable, "-c", CHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        try:
            assert child.stdout.readline().strip() == "ready"
            time.sleep(0.2)
        finally:
            child.stdin.close()
            child.wait(timeout=30)
    peak = sampler.peak_mb()
    assert 256 <= peak["workers"] < 256 + 128
    assert peak["total"] >= peak["workers"]
    # the reaped child's CPU time lands in this process's children's time
    assert sampler.cpu_seconds() - cpu0 >= 0.5


def test_steal_pct_bounds():
    a = procfs.cpu_ticks()
    time.sleep(0.05)
    b = procfs.cpu_ticks()
    assert 0.0 <= procfs.steal_pct(a, b) <= 100.0
    assert procfs.steal_pct(a, a) == 0.0


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
