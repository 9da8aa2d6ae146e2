"""Terrain layer tests: Horn stencil kernel parity vs a from-scratch
scalar reference, octant chain coverage, the map-only join end-to-end vs
pure Python, line-of-sight semantics, and the zero-shuffle plan gate."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from htg_spark import hgt
from htg_spark.driver_queries import derive_points
from htg_spark.operators import terrain
from htg_spark.profile import (
    absent,
    count,
    faults,
    no_column,
    partitioned,
    plan_nodes,
    present,
    render,
)


def _rand_grid(rng, n=32, voids=True):
    g = rng.integers(-400, 4000, size=(n, n)).astype(np.int16)
    if voids:
        mask = rng.random((n, n)) < 0.03
        g[mask] = hgt.VOID_VALUE
    return g


def test_horn_sums_matches_scalar_reference():
    rng = np.random.default_rng(11)
    g = _rand_grid(rng)
    n = g.shape[0]
    # every sample incl. edges and void-adjacent ones
    rows, cols = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    rows, cols = rows.ravel(), cols.ravel()
    gxs, gys, ok = terrain.horn_sums(g, rows, cols)
    for i in range(len(rows)):
        exp_gx, exp_gy, exp_ok = terrain.horn_reference(g, int(rows[i]), int(cols[i]))
        assert bool(ok[i]) == exp_ok, (rows[i], cols[i])
        if exp_ok:
            assert int(gxs[i]) == exp_gx
            assert int(gys[i]) == exp_gy


def test_horn_sums_edge_and_void():
    g = np.full((8, 8), 100, dtype=np.int16)
    g[3, 4] = hgt.VOID_VALUE
    r = np.array([0, 7, 1, 2, 5])  # edges invalid; (2,*) near void
    c = np.array([3, 3, 1, 3, 5])
    _, _, ok = terrain.horn_sums(g, r, c)
    assert list(ok) == [False, False, True, False, True]
    # (2,3): neighborhood rows 1..3, cols 2..4 includes the void at (3,4)


def _py_octant(gxs: int, gys: int):
    """Independent mirror of the documented CASE chain."""
    if gxs == 0 and gys == 0:
        return None
    if gys >= 0 and gxs > 0 and gxs > gys:
        return 0
    if gxs > 0 and gys > 0 and gys >= gxs:
        return 1
    if gys > 0 and gxs <= 0 and gys > -gxs:
        return 2
    if gys >= 0 and gxs < 0 and -gxs >= gys:
        return 3
    if gys < 0 and gxs < 0 and -gxs > -gys:
        return 4
    if gxs < 0 and gys < 0 and -gys >= -gxs:
        return 5
    if gys < 0 and gxs >= 0 and -gys > gxs:
        return 6
    return 7


def test_aspect_octant_chain(spark):
    """All 8 sectors, every axis/diagonal boundary, and the flat case —
    the Spark CASE chain must equal the documented pure-Python chain AND
    land in the geometrically-correct 45-degree sector for interior
    angles."""
    cases = []
    for ang in range(0, 360, 15):
        rad = math.radians(ang)
        cases.append((round(1000 * math.cos(rad)), round(1000 * math.sin(rad))))
    cases += [(0, 0), (5, 5), (-5, 5), (-5, -5), (5, -5), (0, 7), (7, 0), (0, -7), (-7, 0)]
    df = spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in enumerate(cases)],
        "i int, gxs long, gys long",
    )
    out = (
        df.select("i", "gxs", "gys",
                  terrain.aspect_octant_col(F.col("gxs"), F.col("gys")).alias("o"))
        .orderBy("i")
        .collect()
    )
    for row in out:
        assert row.o == _py_octant(row.gxs, row.gys), (row.gxs, row.gys)
        # interior (non-boundary) angles must land in the true sector
        ang = math.degrees(math.atan2(row.gys, row.gxs)) % 360 if (row.gxs, row.gys) != (0, 0) else None
        if ang is not None and ang % 45 not in (0.0,):
            assert row.o == int(ang // 45), (row.gxs, row.gys, ang)


def test_terrain_join_matches_pure_python(spark):
    """End-to-end vs an independent recomputation: decode-free closed-form
    gradient grid -> pure-Python nearest-sample + Horn stencil per point."""
    from htg_spark.driver_queries import CATALOG_KEYS, get_engine, gradient_void_grid

    sf_dir = "/root/testdata/sf0.001"
    eng = get_engine(spark)
    pts = derive_points(spark.read.parquet(f"{sf_dir}/events.parquet"))
    out = terrain.terrain_join(eng, pts)
    d = terrain.terrain_cols(F.col("gxs"), F.col("gys"))
    rows = (
        out.select("event_id", "lat", "lon", "terrain_ok", "gxs", "gys",
                   d["slope"].alias("slope"), d["hillshade"].alias("hillshade"))
        .orderBy("event_id")
        .collect()
    )
    assert len(rows) > 0
    g = gradient_void_grid()
    keys = set(CATALOG_KEYS)
    n_ok = 0
    for row in rows:
        tl, tn = math.floor(row.lat), math.floor(row.lon)
        in_cov = -60.0 <= row.lat <= 60.0 and -180.0 <= row.lon <= 180.0
        if not (in_cov and (tl, tn) in keys):
            assert not row.terrain_ok and row.gxs is None
            continue
        rp = (1.0 - (row.lat - tl)) * 1200.0
        cp = (row.lon - tn) * 1200.0
        r = int(math.floor(rp) + (rp - math.floor(rp) >= 0.5))
        c = int(math.floor(cp) + (cp - math.floor(cp) >= 0.5))
        exp_gx, exp_gy, exp_ok = terrain.horn_reference(g, r, c)
        assert row.terrain_ok == exp_ok, (row.event_id, r, c)
        if exp_ok:
            n_ok += 1
            assert row.gxs == exp_gx and row.gys == exp_gy
            gx, gy = exp_gx / 8.0, exp_gy / 8.0
            assert row.slope == math.sqrt(gx * gx + gy * gy)
            assert 0.0 <= row.hillshade <= 1.0 + 1e-12
    assert n_ok > 50  # the gradient fixture leaves most samples valid


def test_terrain_join_plan_is_map_only(spark):
    from htg_spark.driver_queries import get_engine

    eng = get_engine(spark)
    pts = derive_points(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    out = terrain.terrain_join(eng, pts)
    d = terrain.terrain_cols(F.col("gxs"), F.col("gys"))
    final = out.select("event_id", d["slope"].alias("slope"))
    nodes = plan_nodes(final)
    # the kernel UDF over (lat, lon) only: the payload stays in the JVM
    gates = [count("Exchange", 0, 0), present("ArrowEvalPython"), absent("MapInArrow")]
    assert not faults(nodes, gates), render(nodes)


def test_terrain_join_default_strategy_is_auto(spark):
    """A default terrain_join plans like a default elevation_join
    (strategy='auto'): over a catalog with more tiles than the grid cache
    it runs map-side too, with no Exchange."""
    from htg_spark.driver_queries import CATALOG_KEYS, get_engine

    eng = get_engine(spark, cache_size=2)
    assert len(CATALOG_KEYS) > eng.cache_size
    pts = derive_points(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    nodes = plan_nodes(terrain.terrain_join(eng, pts))
    gates = [count("Exchange", 0, 0), present("ArrowEvalPython")]
    assert not faults(nodes, gates), render(nodes)


def test_line_of_sight_semantics(spark):
    """Hand-built profile through a synthetic engine: a wall hides
    everything behind it until a taller sample; void samples are
    transparent; NULL start nullifies the path."""
    from pyspark.sql import Window

    # replicate the q_path_profile window logic over a hand-made table
    rows = [
        # event 1: z0=100 (+10 observer); wall at step 2; step 3 hidden;
        # step 4 taller than the wall's angle again
        (1, 0, 100), (1, 1, 100), (1, 2, 400), (1, 3, 200), (1, 4, 900),
        # event 2: start elevation NULL -> all angles NULL
        (2, 0, None), (2, 1, 500),
        # event 3: void mid-sample is transparent
        (3, 0, 0), (3, 1, None), (3, 2, 50),
    ]
    df = spark.createDataFrame(rows, "event_id int, step int, elevation int")
    w = Window.partitionBy("event_id").orderBy("step")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    z0 = F.first("elevation").over(w)
    tan = F.when(
        (F.col("step") >= 1) & F.col("elevation").isNotNull() & z0.isNotNull(),
        (F.col("elevation").cast("double") - (z0.cast("double") + F.lit(10.0)))
        / (F.col("step").cast("double") / F.lit(8.0)),
    ).alias("tan_angle")
    base = df.select("event_id", "step", "elevation", tan)
    prev_max = F.max("tan_angle").over(wprev)
    out = base.select(
        "event_id", "step",
        F.when(F.col("tan_angle").isNull(), F.lit(None).cast("boolean"))
        .when(prev_max.isNull(), F.lit(True))
        .otherwise(F.col("tan_angle") > prev_max)
        .alias("visible"),
    ).orderBy("event_id", "step").collect()
    got = {(r.event_id, r.step): r.visible for r in out}
    assert got[(1, 0)] is None          # observer sample has no angle
    # step1: tan=(100-110)/0.125=-80; prev_max NULL (first angle) -> TRUE
    assert got[(1, 1)] is True
    # step2: tan=(400-110)/0.25=1160 > -80 -> TRUE
    assert got[(1, 2)] is True
    # step3: tan=(200-110)/0.375=240 < 1160 -> FALSE (hidden by the wall)
    assert got[(1, 3)] is False
    # step4: tan=(900-110)/0.5=1580 > 1160 -> TRUE
    assert got[(1, 4)] is True
    assert got[(2, 1)] is None          # NULL start -> path unusable
    assert got[(3, 1)] is None          # void sample itself: no angle
    # step2 of event 3: tan=(50-10)/0.25=160; prev non-null angles: none -> TRUE
    assert got[(3, 2)] is True


def test_tile_horn_grids_matches_pointwise():
    """The whole-tile shifted-view stencil equals the per-point gather
    kernel at every interior sample of a random void-planted grid."""
    rng = np.random.default_rng(3)
    g = _rand_grid(rng, n=40)
    gxs_t, gys_t, ok_t = terrain.tile_horn_grids(g)
    rows, cols = np.meshgrid(np.arange(1, 39), np.arange(1, 39), indexing="ij")
    gxs_p, gys_p, ok_p = terrain.horn_sums(g, rows.ravel(), cols.ravel())
    assert np.array_equal(ok_t.ravel(), ok_p)
    assert np.array_equal(np.where(ok_t, gxs_t, 0).ravel(), gxs_p)
    assert np.array_equal(np.where(ok_t, gys_t, 0).ravel(), gys_p)


def test_tile_d8_matches_reference():
    """The vectorized shifted-view D8 raster equals the scalar steepest-
    descent reference at every interior cell of a random void-planted
    grid (random int grids contain same-class score ties, so the
    first-clockwise-from-East tie-break is exercised too)."""
    rng = np.random.default_rng(11)
    g = _rand_grid(rng, n=40)
    codes, ok = terrain.tile_d8_grids(g)
    for r in range(1, 39):
        for c in range(1, 39):
            exp_code, exp_ok = terrain.d8_reference(g, r, c)
            assert ok[r - 1, c - 1] == exp_ok
            assert codes[r - 1, c - 1] == exp_code


def test_tile_d8_flat_and_tiebreak():
    """A flat grid is all code 0; an equal straight-drop tie (E vs N)
    resolves to E — the first direction in clockwise-from-East order."""
    flat = np.full((5, 5), 100, dtype=np.int16)
    codes, ok = terrain.tile_d8_grids(flat)
    assert ok.all() and (codes == 0).all()

    tie = np.full((3, 3), 100, dtype=np.int16)
    tie[1, 2] = 90  # E drop 10 (score 200)
    tie[0, 1] = 90  # N drop 10 (score 200)
    codes, ok = terrain.tile_d8_grids(tie)
    assert ok[0, 0] and codes[0, 0] == 1  # E, not N (64)


def test_d8_histogram_query(spark):
    """The per-tile map-side reduction: 9 rows per catalog tile whose
    counts equal the NumPy histogram of the whole-tile D8 raster, in a
    zero-Exchange plan."""
    from htg_spark.driver_queries import get_engine, gradient_void_grid

    eng = get_engine(spark)
    out = terrain.d8_histogram(eng.catalog)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 27  # 3 tiles x 9 code rows (zero counts included)
    g = gradient_void_grid()
    codes, ok = terrain.tile_d8_grids(g)
    vals = codes[ok]
    exp = {c: int((vals == c).sum()) for c in (0, 1, 2, 4, 8, 16, 32, 64, 128)}
    for row in rows:
        assert row.n_cells == exp[row.code]
    per_tile = {(r.tile_lat, r.tile_lon) for r in rows}
    assert per_tile == {(35, 138), (35, 139), (36, 138)}


def test_flow_accumulation_matches_reference():
    """The descending-elevation level sweep equals the path-walking
    scalar reference on random void-planted grids (in-degree > 1 cells,
    broken chains at validity boundaries, flats/pits all occur)."""
    for seed in (7, 21):
        rng = np.random.default_rng(seed)
        g = _rand_grid(rng, n=36)
        got = terrain.tile_flow_accumulation(g)
        exp = terrain.flow_accumulation_reference(g)
        assert np.array_equal(got, exp)
        assert got.max() > 1  # the fixture actually chains flow


def test_flow_accumulation_semantics():
    """Hand-checkable cases: a flat grid accumulates 1 everywhere (every
    ok cell is its own pit); a single descending diagonal accumulates a
    run; flow into a non-ok cell leaves the accounted raster."""
    flat = np.full((6, 6), 50, dtype=np.int16)
    acc = terrain.tile_flow_accumulation(flat)
    assert (acc == 1).all()

    # z = r + c slope: every interior cell flows NW; accumulation along
    # the main diagonal of the 4x4 interior is 1..4 toward the NW corner
    r, c = np.meshgrid(np.arange(6), np.arange(6), indexing="ij")
    grid = (r + c).astype(np.int16)
    acc = terrain.tile_flow_accumulation(grid)
    assert [acc[k, k] for k in range(4)] == [4, 3, 2, 1]

    # planting a void at the grid center invalidates every interior cell
    # whose 3x3 touches it — interior (1..3, 1..3) all lose ok — so the
    # NW corner keeps only itself on its chain
    grid2 = grid.copy()
    grid2[3, 3] = hgt.VOID_VALUE
    acc2 = terrain.tile_flow_accumulation(grid2)
    assert acc2[1, 1] == 0 and acc2[2, 2] == 0
    assert acc2[0, 0] == 1  # upstream (1,1) is not ok -> chain breaks


def test_flow_accumulation_stats_query(spark):
    """Per-tile drainage stats equal the NumPy aggregates of the
    whole-tile accumulation raster, in a zero-Exchange plan."""
    from htg_spark.driver_queries import get_engine, gradient_void_grid

    eng = get_engine(spark)
    out = terrain.flow_accumulation_stats(eng.catalog)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 3
    acc = terrain.tile_flow_accumulation(gradient_void_grid())
    pos = acc[acc > 0]
    for row in rows:
        assert row.n_cells == int(pos.size)
        assert row.sum_acc == int(pos.sum())
        assert row.max_acc == int(pos.max())
        assert row.n_channel == int((acc >= terrain.CHANNEL_THRESHOLD).sum())


def test_contour_grids_matches_reference():
    """The vectorized marching-squares case raster equals the scalar
    reference at every cell of random void-planted grids, and random int
    grids actually contain saddle cells at mid-range levels."""
    saw_saddle = False
    for seed in (13, 29):
        rng = np.random.default_rng(seed)
        g = _rand_grid(rng, n=32)
        for level in (500, 2000, 3500):
            idx, valid = terrain.tile_contour_grids(g, level)
            segs = terrain._MS_SEGMENTS[idx]
            saw_saddle |= bool(np.isin(idx[valid], terrain._MS_SADDLES).any())
            for r in range(0, 31, 3):
                for c in range(0, 31, 3):
                    exp_seg, exp_valid = terrain.contour_reference(g, level, r, c)
                    assert valid[r, c] == exp_valid
                    if exp_valid:
                        assert segs[r, c] == exp_seg
    assert saw_saddle


def test_contour_case_table():
    """The 16-entry segment table against hand-built 2x2 corner grids:
    empty/full emit 0, the two diagonal saddles emit 2, the rest 1."""
    for idx in range(16):
        bits = [(idx >> 3) & 1, (idx >> 2) & 1, (idx >> 1) & 1, idx & 1]
        g = np.array(
            [[bits[0], bits[1]], [bits[3], bits[2]]], dtype=np.int16
        ) * 100  # above iff z >= 50
        got_idx, valid = terrain.tile_contour_grids(g, 50)
        assert valid[0, 0] and got_idx[0, 0] == idx
        exp = 0 if idx in (0, 15) else (2 if idx in (5, 10) else 1)
        assert terrain._MS_SEGMENTS[idx] == exp


def test_contour_stats_query(spark):
    """Per-(tile, level) stats equal the NumPy aggregates of the
    whole-tile case raster, in a zero-Exchange plan."""
    from htg_spark.driver_queries import get_engine, gradient_void_grid

    eng = get_engine(spark)
    out = terrain.contour_stats(eng.catalog)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 3 * len(terrain.CONTOUR_LEVELS)
    g = gradient_void_grid()
    for row in rows:
        idx, valid = terrain.tile_contour_grids(g, row.level)
        vi = idx[valid]
        assert row.n_cells == int(valid.sum())
        assert row.n_segments == int(terrain._MS_SEGMENTS[vi].sum())
        assert row.n_saddles == int(np.isin(vi, terrain._MS_SADDLES).sum())
        if row.level <= 2400:  # fixture z = r+c spans 0..2400, no wrap
            assert row.n_segments > 0
        else:  # the deliberate above-max level: uniformly-below branch
            assert row.n_segments == 0 and row.n_cells > 0


def test_tile_quantiles_matches_sort():
    """np.partition selection equals full-sort indexing on random
    void-planted grids, and the all-void grid yields the empty row."""
    rng = np.random.default_rng(17)
    g = _rand_grid(rng, n=50)
    n, mn, mx, qs = terrain.tile_quantiles(g)
    vals = np.sort(g[g != hgt.VOID_VALUE].astype(np.int64).ravel())
    assert n == vals.size and mn == int(vals[0]) and mx == int(vals[-1])
    for (num, den), q in zip(terrain.QUANTILE_RATIOS, qs):
        assert q == int(vals[((n - 1) * num) // den])

    allvoid = np.full((4, 4), hgt.VOID_VALUE, dtype=np.int16)
    assert terrain.tile_quantiles(allvoid) == (0, None, None, [None] * 5)


def test_elevation_quantiles_query(spark):
    """Per-tile quantile rows equal the NumPy kernel on the fixture grid,
    in a zero-Exchange plan."""
    from htg_spark.driver_queries import get_engine, gradient_void_grid

    eng = get_engine(spark)
    out = terrain.elevation_quantiles(eng.catalog)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 3
    n, mn, mx, qs = terrain.tile_quantiles(gradient_void_grid())
    for row in rows:
        assert (row.n_valid, row.min_elev, row.max_elev) == (n, mn, mx)
        assert [row.q25, row.q50, row.q75, row.q90, row.q99] == qs


def test_render_hillshade_bytes_and_stats(spark):
    """Rendered image rows: pixel bytes equal an independent per-cell
    scalar recomputation on a sample; stats are exact aggregates of the
    rendered bytes; the plan is map-only."""
    from htg_spark.driver_queries import get_engine, gradient_void_grid

    eng = get_engine(spark)
    out = terrain.render_hillshade(eng.catalog)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 3
    g = gradient_void_grid()
    for row in rows:
        assert (row.w, row.h, row.fmt) == (1199, 1199, "gray8")
        assert row.image_id.startswith("hillshade_N3")
        img = np.frombuffer(bytes(row.bytes), dtype=np.uint8).reshape(1199, 1199)
        # independent scalar recomputation on a deterministic sample
        rng = np.random.default_rng(5)
        for _ in range(200):
            r = int(rng.integers(1, 1200))
            c = int(rng.integers(1, 1200))
            exp_gx, exp_gy, exp_ok = terrain.horn_reference(g, r, c)
            if not exp_ok:
                assert img[r - 1, c - 1] == 0
                continue
            gx, gy = exp_gx / 8.0, exp_gy / 8.0
            num = (terrain.SUN_LZ - gx * terrain.SUN_LX) - gy * terrain.SUN_LY
            den = math.sqrt((1.0 + gx * gx) + gy * gy)
            x = max(0.0, num / den) * 255.0
            fl = math.floor(x)
            assert img[r - 1, c - 1] == int(fl + (x - fl >= 0.5))
        # stats are exact aggregates of the rendered bytes
        gxs, gys, ok = terrain.tile_horn_grids(g)
        _, byte = terrain.hillshade_bytes(gxs, gys, ok)
        valid = byte >= 0
        assert row.n_valid == int(valid.sum())
        assert row.sum_byte == int(byte[valid].sum())
        assert row.min_byte == int(byte[valid].min())
        assert row.max_byte == int(byte[valid].max())


def test_render_hillshade_flushes_large_batches(monkeypatch, spark):
    """The Arrow int32-offset guard: output batches flush before the
    payload cap, so one input batch with many tiles yields several
    bounded RecordBatches rather than one giant one."""
    from htg_spark import catalog as cat_mod
    from htg_spark.operators import terrain as terr

    monkeypatch.setattr(cat_mod, "_FLUSH_BYTES", 3_000_000)
    rng = np.random.default_rng(9)
    base = rng.integers(0, 4000, size=(1201, 1201)).astype(np.int16)
    grids = {(10, k): base for k in range(6)}  # ~8.6 MB of rendered payload
    cat = cat_mod.catalog_from_grids(spark, grids).coalesce(1)
    out = terr.render_hillshade(cat).collect()
    assert len(out) == 6
    assert sorted(r.tile_lon for r in out) == list(range(6))
    # every row still correct length
    assert all(len(bytes(r.bytes)) == 1199 * 1199 for r in out)


def test_terrain_cogroup_equals_broadcast(spark):
    """Every terrain plan returns the broadcast plan's rows: the cogroup
    strategy with a grid cache smaller than the catalog (cache_size 2) and
    one that holds it (cache_size 64), over the tile_dir catalog and the
    in-memory one (spilled to files). The input adds a NULL-lat row, which
    passes through with a NULL tile key and terrain_ok false, and a second
    row for one id with a different payload, which every plan keeps as a
    row of its own: no plan re-joins by id."""
    from htg_spark.driver_queries import CATALOG_KEYS, get_engine, get_path_engine
    from htg_spark.engine import ElevationEngine

    pts = derive_points(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    pts = pts.withColumn("note", F.lit("a"))
    one = pts.where(F.col("event_id") == pts.agg(F.min("event_id")).first()[0])
    extra = one.withColumn("note", F.lit("dup")).unionByName(
        one.select((F.col("event_id") - 1).alias("event_id"), "note",
                   F.lit(None).cast("double").alias("lat"), "lon")
    )
    pts = pts.unionByName(extra)
    cols = ["event_id", "note", "lat", "lon", "tile_lat", "tile_lon", "in_coverage",
            "tile_found", "terrain_ok", "gxs", "gys"]

    def rows(eng, frame, **kw):
        out = terrain.terrain_join(eng, frame, **kw)
        return out.select(*cols).orderBy("event_id", "note").collect()

    ref = rows(get_engine(spark), pts)
    assert len(ref) == pts.count() > 2
    null_row = [r for r in ref if r.lat is None]
    assert len(null_row) == 1 and null_row[0].lon is not None
    r = null_row[0]
    assert r.tile_lat is None and r.tile_lon is None and r.gxs is None and r.gys is None
    assert not r.in_coverage and not r.tile_found and not r.terrain_ok
    dups = [r for r in ref if r.event_id == one.first().event_id]
    assert [d.note for d in dups] == ["a", "dup"] and dups[0][2:] == dups[1][2:]

    assert len(CATALOG_KEYS) > 2
    path_eng = get_path_engine(spark)  # cache_size 64
    engines = [
        path_eng,
        ElevationEngine(spark, catalog=path_eng.catalog, cache_size=2),
        get_engine(spark),
        get_engine(spark, cache_size=2),
    ]
    for eng in engines:
        got = rows(eng, pts, strategy="cogroup")
        assert len(got) == len(ref), eng.cache_size
        assert got == ref, eng.cache_size


def test_terrain_cogroup_path_never_shuffles_blobs(spark):
    """Terrain cogroup over a tile_dir catalog: the plan holds no Exchange,
    so none carries the binary data column (same gate as the elevation path
    plan), with a grid cache smaller than the catalog (cache_size 2) and
    one that holds it (cache_size 64)."""
    from htg_spark.driver_queries import get_path_engine
    from htg_spark.engine import ElevationEngine

    pts = derive_points(spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    path_eng = get_path_engine(spark)  # cache_size 64
    over_eng = ElevationEngine(spark, catalog=path_eng.catalog, cache_size=2)
    for eng in (path_eng, over_eng):
        out = terrain.terrain_join(eng, pts, strategy="cogroup")
        nodes = plan_nodes(out)
        gates = [count("Exchange", 0, 0), no_column("data", "Exchange")]
        assert not faults(nodes, gates), render(nodes)


def test_path_profile_cum_gain(spark):
    """cum_gain is the running sum of positive deltas, NULL-gap tolerant."""
    from pyspark.sql import Window

    rows = [(1, 0, 10), (1, 1, 30), (1, 2, None), (1, 3, 25), (1, 4, 60)]
    df = spark.createDataFrame(rows, "event_id int, step int, elevation int")
    w = Window.partitionBy("event_id").orderBy("step")
    e_l = F.col("elevation").cast("long")
    staged = df.select("event_id", "step", (e_l - F.lag(e_l).over(w)).alias("delta"))
    out = staged.select(
        "step", F.sum(F.when(F.col("delta") > 0, F.col("delta"))).over(w).alias("g")
    ).orderBy("step").collect()
    # deltas: NULL, +20, NULL, NULL, +35 -> cum: NULL, 20, 20, 20, 55
    assert [r.g for r in out] == [None, 20, 20, 20, 55]


def test_terrain_rgb_roundtrip_bit_exact(spark):
    """The Terrain-RGB payload decodes back to the source grid bit-exactly
    on valid samples (PSNR = inf) with nodata rendered (0,0,0); the
    aggregate stats equal exact recomputations from the payload; the plan
    is map-only (zero Exchanges)."""
    from htg_spark import catalog as cat_mod
    from htg_spark.operators import terrain

    rng = np.random.default_rng(11)
    grid = rng.integers(-450, 4500, size=(1201, 1201)).astype(np.int16)
    grid[rng.random((1201, 1201)) < 0.03] = hgt.VOID_VALUE
    cat = cat_mod.catalog_from_grids(spark, {(-7, -34): grid})
    out = terrain.terrain_rgb(cat)
    nodes = plan_nodes(out)
    assert not faults(nodes, [count("Exchange", 0, 0)]), render(nodes)

    rows = out.collect()
    assert len(rows) == 1
    row = rows[0]
    assert (row.w, row.h, row.fmt) == (1201, 1201, "rgb24")
    assert row.image_id == "rgb_S07W034"
    dec = terrain.terrain_rgb_decode(bytes(row.bytes), row.w, row.h)
    valid = grid != hgt.VOID_VALUE
    assert np.array_equal(dec[valid], grid[valid].astype(np.int32))
    assert (dec[~valid] == -10000).all()  # nodata encodes (0,0,0)
    v = (grid[valid].astype(np.int64) + 10000) * 10
    assert row.n_valid == int(valid.sum())
    assert row.sum_r == int((v >> 16).sum())
    assert row.sum_g == int(((v >> 8) & 255).sum())
    assert row.sum_b == int((v & 255).sum())
    assert row.sum_v == int(v.sum())
    assert (row.min_v, row.max_v) == (int(v.min()), int(v.max()))


def test_terrain_rgb_extremes_fit_24_bits():
    """The packing is exact over the whole encode domain (elev >= -10000,
    v in [0, 2^24) for int16): +32767 and the -10000 floor round-trip;
    anything below the floor (only VOID_VALUE in real SRTM, but the
    operator is total over int16) is treated as nodata."""
    grid = np.array([[-10000, 32767], [0, -1]], dtype=np.int16)
    v = (grid.astype(np.int64) + 10000) * 10
    assert (v >= 0).all() and (v < (1 << 24)).all()
    img = np.empty((2, 2, 3), dtype=np.uint8)
    img[..., 0] = v >> 16
    img[..., 1] = (v >> 8) & 255
    img[..., 2] = v & 255
    from htg_spark.operators import terrain

    dec = terrain.terrain_rgb_decode(img.tobytes(), 2, 2)
    assert np.array_equal(dec, grid.astype(np.int32))
    # below the encode floor -> same nodata rule as void
    below = np.array([[-10001, -32767]], dtype=np.int16)
    assert not (below >= -10000).any()


def test_halo_strips_take_the_neighbour_ring_on_srtm1(spark):
    """Each halo strip is the ring next to the edge a neighbour shares, by
    the tile's own size n: rows/cols n-2 and 1, here on SRTM1 (n = 3601),
    where a strip cut at SRTM3's 1199 would be interior samples."""
    from htg_spark import catalog as cat_mod

    rng = np.random.default_rng(11)
    n = hgt.SRTM1_SAMPLES
    grids = {
        (10, 20): rng.integers(-500, 4000, size=(n, n)).astype(np.int16),
        (10, 21): rng.integers(-500, 4000, size=(n, n)).astype(np.int16),
    }
    cat = cat_mod.catalog_from_grids(spark, grids)
    got = {
        (r.tile_lat, r.tile_lon, r.side): np.frombuffer(r.strip, dtype="<i2")
        for r in terrain.halo_strips(cat).collect()
    }
    want = {}
    for (la, lo), g in grids.items():
        want[(la - 1, lo, "N")] = g[n - 2, :]
        want[(la + 1, lo, "S")] = g[1, :]
        want[(la, lo + 1, "W")] = g[:, n - 2]
        want[(la, lo - 1, "E")] = g[:, 1]
        want[(la - 1, lo + 1, "NW")] = [g[n - 2, n - 2]]
        want[(la - 1, lo - 1, "NE")] = [g[n - 2, 1]]
        want[(la + 1, lo + 1, "SW")] = [g[1, n - 2]]
        want[(la + 1, lo - 1, "SE")] = [g[1, 1]]
    assert got.keys() == want.keys()
    for key, strip in want.items():
        assert np.array_equal(got[key], strip), key


def test_mosaic_horn_ignores_neighbours_of_another_size(spark):
    """A halo strip lines up only with a tile of its own size: next to a
    neighbour of the other resolution (SRTM3 beside SRTM1) the edge and
    corner stay VOID, as for a missing neighbour. In a 2x2 block with an
    SRTM3 column west of an SRTM1 column, every tile gets the stats of a
    catalog holding only its same-sized north/south partner."""
    from htg_spark import catalog as cat_mod

    rng = np.random.default_rng(5)
    grids = {
        (la, lo): rng.integers(0, 4000, size=(n, n)).astype(np.int16)
        for lo, n in ((20, hgt.SRTM3_SAMPLES), (21, hgt.SRTM1_SAMPLES))
        for la in (10, 11)
    }

    def stats(keys):
        cat = cat_mod.catalog_from_grids(spark, {k: grids[k] for k in keys})
        return {(r.tile_lat, r.tile_lon): r for r in terrain.mosaic_horn_stats(cat).collect()}

    mixed = stats(grids)
    alone = {**stats([(10, 20), (11, 20)]), **stats([(10, 21), (11, 21)])}
    assert mixed == alone
    # the same-sized partner's halo is still used
    assert all(r.n_edge_valid > 0 for r in mixed.values())


def test_mosaic_horn_distinct_content_2x2(spark):
    """Halo exchange with FOUR DISTINCT random grids in a 2x2 mosaic —
    distinct content is what catches strip direction/orientation mix-ups
    (the shared-content driver fixture cannot: swapping N/S strips
    between identical tiles is invisible). The expected padded grid per
    tile is assembled INDEPENDENTLY by literal slicing of the neighbor
    arrays (SRTM shared-boundary convention), then pushed through the
    same stencil+quantization math; the plan must shuffle only strips."""
    from htg_spark import catalog as cat_mod

    rng = np.random.default_rng(42)
    grids = {}
    for la in (10, 11):
        for lo in (20, 21):
            g = rng.integers(0, 4000, size=(1201, 1201)).astype(np.int16)
            g[rng.random((1201, 1201)) < 0.01] = hgt.VOID_VALUE
            grids[(la, lo)] = g
    cat = cat_mod.catalog_from_grids(spark, grids).repartition(4)

    out = terrain.mosaic_horn_stats(cat)
    nodes = plan_nodes(out)
    # exactly one hash-partitioned shuffle: the strip groupBy on tile_lat —
    # blobs never shuffle (the only other Exchanges are this test's own
    # repartition(4) round-robins, one per catalog branch)
    gates = [present("BroadcastHashJoin"), partitioned("HashPartitioning", 1)]
    assert not faults(nodes, gates), render(nodes)
    assert [n.keys[0] for n in nodes if n.partitioning == "HashPartitioning"] == [
        "tile_lat"
    ], render(nodes)

    rows = {(r.tile_lat, r.tile_lon): r for r in out.collect()}
    assert len(rows) == 4

    def nb(la, lo):
        return grids.get((la, lo))

    for (la, lo), g in grids.items():
        p = np.full((1203, 1203), hgt.VOID_VALUE, dtype=np.int64)
        p[1:1202, 1:1202] = g.astype(np.int64)
        n_, s_, w_, e_ = nb(la + 1, lo), nb(la - 1, lo), nb(la, lo - 1), nb(la, lo + 1)
        if n_ is not None:
            p[0, 1:1202] = n_[1199, :]  # north tile's row 1199 sits above our row 0
        if s_ is not None:
            p[1202, 1:1202] = s_[1, :]
        if w_ is not None:
            p[1:1202, 0] = w_[:, 1199]
        if e_ is not None:
            p[1:1202, 1202] = e_[:, 1]
        for side, (dr, dc, sr, sc) in {
            "nw": (1, -1, 1199, 1199), "ne": (1, 1, 1199, 1),
            "sw": (-1, -1, 1, 1199), "se": (-1, 1, 1, 1),
        }.items():
            d = nb(la + dr, lo + dc)
            if d is not None:
                rr = 0 if side.startswith("n") else 1202
                cc = 0 if side.endswith("w") else 1202
                p[rr, cc] = int(d[sr, sc])
        gxs, gys, ok = terrain.tile_horn_grids(p)
        _, byte = terrain.hillshade_bytes(gxs, gys, ok)
        edge = np.zeros_like(ok)
        edge[0, :] = edge[-1, :] = True
        edge[:, 0] = edge[:, -1] = True
        r = rows[(la, lo)]
        assert r.n_valid == int(ok.sum())
        assert r.n_edge_valid == int((ok & edge).sum())
        assert r.n_edge_valid > 0  # the halo actually bought edge cells
        assert r.sum_gxs == int(gxs[ok].sum())
        assert r.sum_gys == int(gys[ok].sum())
        assert r.sum_byte == int(byte[ok].sum())
        assert r.min_byte == int(byte[ok].min())
        assert r.max_byte == int(byte[ok].max())
        # corners valid only where the diagonal neighbor exists: interior
        # corner of each tile has all three relevant neighbors
        interior_corner = {
            (10, 20): (0, 1200), (10, 21): (0, 0),
            (11, 20): (1200, 1200), (11, 21): (1200, 0),
        }[(la, lo)]
        # recompute validity straight off the padded grid
        pr, pc = interior_corner[0] + 1, interior_corner[1] + 1
        block = p[pr - 1 : pr + 2, pc - 1 : pc + 2]
        assert bool(ok[interior_corner]) == bool((block != hgt.VOID_VALUE).all())

