"""Overview-pyramid tests: vectorized pooling vs a from-scratch scalar
reference, round-half-away-from-zero rounding (incl. negative means,
where NumPy floor-div and DuckDB truncating-div would otherwise differ),
all-void blocks, the end-to-end render vs an independent recomputation,
and the zero-shuffle plan gate."""

from __future__ import annotations

import numpy as np

from htg_spark import hgt
from htg_spark.operators import pyramid
from htg_spark.profile import count, faults, plan_nodes, render


def _rand_grid(rng, n=17):
    g = rng.integers(-400, 4000, size=(n, n)).astype(np.int16)
    mask = rng.random((n, n)) < 0.05
    g[mask] = hgt.VOID_VALUE
    return g


def test_pool_level_matches_scalar_reference():
    rng = np.random.default_rng(21)
    g = _rand_grid(rng)  # core 16x16 -> levels 1..4
    g[0:2, 0:2] = hgt.VOID_VALUE  # a fully-void level-1 block
    core = g[:16, :16]
    valid = core != hgt.VOID_VALUE
    base = np.where(valid, core.astype(np.int64), np.int64(0))
    for lvl in range(1, 5):
        q, cnt = pyramid.pool_level(base, valid, lvl)
        exp = pyramid.pyramid_reference(g[:17, :17], lvl)
        assert q.tolist() == exp, lvl
        assert int(cnt.sum()) == int(valid.sum())
    # the planted all-void block surfaced as VOID at level 1
    q1, cnt1 = pyramid.pool_level(base, valid, 1)
    assert cnt1[0, 0] == 0 and q1[0, 0] == hgt.VOID_VALUE


def test_pool_level_rounds_half_away_from_zero():
    """Half-way means round AWAY from zero on both signs — the case where
    a naive (2s+cnt)//(2cnt) (floor) or DuckDB // (truncate) would
    disagree with each other."""
    base = np.array([[-1, -2], [3, 0]], dtype=np.int64)
    valid = np.array([[True, True], [True, False]])
    q, cnt = pyramid.pool_level(base, valid, 1)
    # s = 0 over cnt 3 -> 0
    assert q[0, 0] == 0 and cnt[0, 0] == 3
    neg = np.array([[-1, -2], [0, 0]], dtype=np.int64)
    nvalid = np.array([[True, True], [False, False]])
    q, _ = pyramid.pool_level(neg, nvalid, 1)
    assert q[0, 0] == -2  # mean -1.5 -> -2 (away from zero)
    pos = np.array([[1, 2], [0, 0]], dtype=np.int64)
    q, _ = pyramid.pool_level(pos, nvalid, 1)
    assert q[0, 0] == 2  # mean 1.5 -> 2


def test_tile_pyramid_end_to_end(spark):
    """Rendered rows: payload decodes to exactly the pooled grid of the
    closed-form gradient fixture; stats are exact aggregates of the
    payload; dims/format/ids correct; the plan is map-only."""
    from htg_spark.driver_queries import get_engine, gradient_void_grid

    eng = get_engine(spark)
    out = pyramid.tile_pyramid(eng.catalog, levels=3)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 9  # 3 tiles x 3 levels
    g = gradient_void_grid()
    core = g[:1200, :1200]
    valid = core != hgt.VOID_VALUE
    base = np.where(valid, core.astype(np.int64), np.int64(0))
    for row in rows:
        m = 1200 >> row.level
        assert (row.w, row.h, row.fmt) == (m, m, "gray16be")
        assert row.image_id == f"pyr_N{row.tile_lat}E{row.tile_lon}_L{row.level}"
        img = np.frombuffer(bytes(row.bytes), dtype=">i2").reshape(m, m)
        q, cnt = pyramid.pool_level(base, valid, row.level)
        assert np.array_equal(img, q.astype(np.int16))
        ok = cnt > 0
        assert row.n_valid == int(ok.sum())
        assert row.n_void == int((~ok).sum())
        assert row.sum_val == int(q[ok].sum())
        assert row.min_val == int(q[ok].min())
        assert row.max_val == int(q[ok].max())


def test_tile_pyramid_flushes_large_batches(monkeypatch, spark):
    """Arrow int32-offset guard: many tiles in one input batch flush into
    several bounded output batches, rows all intact."""
    from htg_spark import catalog as cat_mod
    from htg_spark.operators import pyramid as pyr

    monkeypatch.setattr(cat_mod, "_FLUSH_BYTES", 500_000)
    rng = np.random.default_rng(13)
    grid = rng.integers(0, 4000, size=(1201, 1201)).astype(np.int16)
    grids = {(10, k): grid for k in range(4)}
    cat = cat_mod.catalog_from_grids(spark, grids).coalesce(1)
    out = pyr.tile_pyramid(cat, levels=2).collect()
    assert len(out) == 8
    assert sorted((r.tile_lon, r.level) for r in out) == [
        (k, lvl) for k in range(4) for lvl in (1, 2)
    ]
    assert all(len(bytes(r.bytes)) == 2 * (1200 >> r.level) ** 2 for r in out)


def test_pyramid_hillshade_end_to_end(spark):
    """Zoom-stack hillshade: each (tile, level) row's payload equals an
    independent pool -> Horn stencil -> quantize recomputation of the
    gradient fixture; stats are exact aggregates of the payload; the plan
    stays map-only (zero Exchanges)."""
    from htg_spark.driver_queries import get_engine, gradient_void_grid
    from htg_spark.operators import terrain

    eng = get_engine(spark)
    out = pyramid.pyramid_hillshade(eng.catalog, levels=3)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 9  # 3 tiles x 3 levels
    g = gradient_void_grid()
    core = g[:1200, :1200]
    valid = core != hgt.VOID_VALUE
    base = np.where(valid, core.astype(np.int64), np.int64(0))
    for row in rows:
        m = (1200 >> row.level) - 2
        assert (row.w, row.h, row.fmt) == (m, m, "gray8")
        assert (
            row.image_id
            == f"hillshade_N{row.tile_lat}E{row.tile_lon}_L{row.level}"
        )
        q, _cnt = pyramid.pool_level(base, valid, row.level)
        gxs, gys, ok = terrain.tile_horn_grids(q.astype(np.int16))
        img, byte = terrain.hillshade_bytes(gxs, gys, ok)
        got = np.frombuffer(bytes(row.bytes), dtype=np.uint8).reshape(m, m)
        assert np.array_equal(got, img)
        vb = byte[byte >= 0]
        assert row.n_valid == len(vb)
        assert row.sum_byte == int(vb.sum())
        assert row.min_byte == int(vb.min())
        assert row.max_byte == int(vb.max())


def test_pyramid_hillshade_void_pooled_cells(spark):
    """A fully-void pooled block must render as invalid (ok=False) in the
    level-1 stencil around it — the VOID_VALUE sentinel survives pooling
    into the Horn validity rule."""
    from htg_spark import catalog as cat_mod
    from htg_spark.operators import terrain

    rng = np.random.default_rng(7)
    grid = rng.integers(0, 3000, size=(1201, 1201)).astype(np.int16)
    grid[10:12, 10:12] = hgt.VOID_VALUE  # one all-void level-1 block (5,5)
    cat = cat_mod.catalog_from_grids(spark, {(42, 7): grid})
    rows = pyramid.pyramid_hillshade(cat, levels=1).collect()
    assert len(rows) == 1
    core = grid[:1200, :1200]
    valid = core != hgt.VOID_VALUE
    base = np.where(valid, core.astype(np.int64), np.int64(0))
    q, cnt = pyramid.pool_level(base, valid, 1)
    assert q[5, 5] == hgt.VOID_VALUE and cnt[5, 5] == 0
    _gxs, _gys, ok = terrain.tile_horn_grids(q.astype(np.int16))
    # the 3x3 stencil neighborhood of the void pooled cell is invalid
    assert not ok[3:6, 3:6].any()
    img = np.frombuffer(bytes(rows[0].bytes), dtype=np.uint8).reshape(598, 598)
    assert (img[3:6, 3:6] == 0).all()
    assert rows[0].n_valid == int(ok.sum())
