"""End-to-end Spark engine tests — every result checked row-for-row against
the pure-NumPy oracle (htg_spark.hgt), which itself carries the reference's
unit-test expectations (tests/test_hgt_kernels.py)."""

import itertools
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from htg_spark import cells, fixtures, hgt
from htg_spark.engine import ElevationEngine
from htg_spark.profile import absent, count, faults, no_column, plan_nodes, present, render

COGROUPS = ("FlatMapCoGroupsInArrow", "FlatMapCoGroupsInPandas")


@pytest.fixture(scope="module")
def grids():
    return fixtures.default_catalog_grids()


@pytest.fixture(scope="module")
def engine(spark, grids):
    return ElevationEngine(spark, grids=grids)


@pytest.fixture(scope="module")
def tile_dir(grids, tmp_path_factory):
    """The fixture catalog as a tile directory, one tile zip-wrapped."""
    tiles = tmp_path_factory.mktemp("tiles")
    for i, ((tl, tn), grid) in enumerate(sorted(grids.items())):
        name = hgt.coords_to_filename(tl, tn)
        data = hgt.encode_tile(grid)
        if i == 0:
            (tiles / f"{name}.zip").write_bytes(fixtures.zip_tile_bytes(name, data))
        else:
            (tiles / name).write_bytes(data)
    return str(tiles)


@pytest.fixture(scope="module")
def points_pdf():
    """2000 deterministic points: in-tile, hot cluster, boundary, void,
    missing-tile, out-of-coverage."""
    rng = np.random.default_rng(123)
    n = 2000
    lat = 35.0 + rng.random(n) * 2.0
    lon = 138.0 + rng.random(n) * 2.0
    # missing tile rows
    lat[::17] = 50.0 + rng.random(len(lat[::17])) * 0.9
    lon[::17] = 50.0 + rng.random(len(lon[::17])) * 0.9
    # out of coverage rows
    lat[3::29] = 75.0 + rng.random(len(lat[3::29]))
    # the rounding-discriminator tile
    lat[5::31] = 33.0 + rng.random(len(lat[5::31]))
    lon[5::31] = -97.0 + rng.random(len(lon[5::31]))
    # exact boundaries (half-open PIP semantics)
    lat[7], lon[7] = 36.0, 138.5
    lat[11], lon[11] = 35.5, 139.0
    lat[13], lon[13] = 33.3448, -96.1592
    return pd.DataFrame(
        {"image_id": [f"p{i:05d}" for i in range(n)], "lat": lat, "lon": lon}
    )


def _oracle(points_pdf, grids, mode):
    coords = list(zip(points_pdf["lat"], points_pdf["lon"]))
    default = np.nan if mode == "bilinear" else None
    # oracle with NULL semantics: use get_elevations_batch with sentinel
    if mode == "bilinear":
        out = hgt.get_elevations_batch(coords, grids, default=np.nan, mode=mode)
        return out
    out = hgt.get_elevations_batch(coords, grids, default=-(10**6), mode=mode)
    return np.where(out == -(10**6), np.nan, out.astype(np.float64))


@pytest.mark.parametrize("mode", ["nearest", "floor", "bilinear"])
def test_broadcast_join_matches_oracle(spark, engine, grids, points_pdf, mode):
    df = spark.createDataFrame(points_pdf)
    res = (
        engine.elevation_join(df, mode=mode, strategy="broadcast")
        .orderBy("image_id")
        .toPandas()
    )
    expect = _oracle(points_pdf, grids, mode)
    got = res["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    if mode == "bilinear":
        # bitwise-equal floats expected (same IEEE op order)
        both = np.isnan(expect) == np.isnan(got)
        assert both.all()
        m = ~np.isnan(expect)
        assert np.array_equal(expect[m], got[m])
    else:
        assert np.array_equal(np.isnan(expect), np.isnan(got))
        m = ~np.isnan(expect)
        assert np.array_equal(expect[m], got[m])


def test_reference_expectations_through_spark(spark, engine):
    pts = pd.DataFrame(
        {
            "image_id": ["a", "b", "c", "d", "e"],
            "lat": [35.5, 50.0, 35.1, 70.0, 33.3448],
            "lon": [138.5, 50.0, 138.1, 0.0, -96.1592],
        }
    )
    df = spark.createDataFrame(pts)
    out = (
        engine.elevation_join(df, mode="nearest", default=-1)
        .orderBy("image_id")
        .toPandas()
    )
    # [500 center, -1 missing, 0 zeros, -1 out-of-coverage, 190 round-tile]
    assert list(out["elevation"]) == [500, -1, 0, -1, 190]
    assert list(out["in_coverage"]) == [True, True, True, False, True]
    assert list(out["tile_found"]) == [True, False, True, False, True]

    out_f = (
        engine.elevation_join(df, mode="floor", default=-1).orderBy("image_id").toPandas()
    )
    assert list(out_f["elevation"]) == [500, -1, 0, -1, 191]


def test_cogroup_equals_broadcast(spark, engine, grids, points_pdf):
    """The salted layout over an in-memory catalog (grid cache smaller than
    the catalog: rows salted and shuffled, tiles read from the spill)
    returns the broadcast plan's rows."""
    salted = ElevationEngine(spark, grids=grids, cache_size=2)
    df = spark.createDataFrame(points_pdf)
    for mode in ("nearest", "bilinear"):
        a = (
            engine.elevation_join(df, mode=mode, strategy="broadcast")
            .orderBy("image_id")
            .toPandas()
        )
        b = (
            salted.elevation_join(df, mode=mode, strategy="cogroup", n_salts=4)
            .orderBy("image_id")
            .toPandas()
        )
        assert len(a) == len(b) == len(points_pdf)
        av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        assert np.array_equal(np.isnan(av), np.isnan(bv))
        m = ~np.isnan(av)
        assert np.array_equal(av[m], bv[m])
        for c in ("tile_lat", "tile_lon", "in_coverage", "tile_found"):
            assert a[c].tolist() == b[c].tolist(), c


def test_strict_mode_raises_on_ooc(spark, engine):
    df = spark.createDataFrame(pd.DataFrame({"image_id": ["x"], "lat": [70.0], "lon": [0.0]}))
    with pytest.raises(ValueError, match="out of SRTM coverage"):
        engine.elevation_join(df, strict=True)


def test_knn_fallback(spark, grids):
    # catalog has tiles around (35..36, 138..139); a point at (40.2, 138.4)
    # is in coverage but tile (40,138) is missing -> nearest center is
    # (36.5, 138.5) -> tile (36,138); clamped frac -> lat frac 1.0 (north
    # edge, row 0), lon frac 0.4
    eng = ElevationEngine(spark, grids=grids)
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ["k1", "k2"], "lat": [40.2, 35.5], "lon": [138.4, 138.5]})
    )
    out = eng.elevation_join(df, mode="nearest", knn_fallback=True).orderBy("image_id").toPandas()
    k1 = out.iloc[0]
    assert bool(k1["knn_used"]) and bool(k1["tile_found"])
    assert (k1["tile_lat"], k1["tile_lon"]) == (36, 138)
    # row 0, col = round(0.4*1200) = 480 -> grid value 0 on tile_center(1000)
    assert k1["elevation"] == 0
    k2 = out.iloc[1]
    assert not bool(k2["knn_used"]) and k2["elevation"] == 500


def test_cogroup_knn_equals_broadcast_knn(spark, engine, grids, points_pdf):
    """J6 via the scale path: the kNN fallback on the salted layout over an
    in-memory catalog (grid cache smaller than the catalog) must return
    row-identical results to the broadcast-path kNN for every mode."""
    salted = ElevationEngine(spark, grids=grids, cache_size=2)
    df = spark.createDataFrame(points_pdf)
    for mode in ("nearest", "bilinear"):
        a = (
            engine.elevation_join(df, mode=mode, strategy="broadcast", knn_fallback=True)
            .orderBy("image_id")
            .toPandas()
        )
        b = (
            salted.elevation_join(df, mode=mode, strategy="cogroup", knn_fallback=True, n_salts=4)
            .orderBy("image_id")
            .toPandas()
        )
        assert len(a) == len(b) == len(points_pdf)
        av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        assert np.array_equal(np.isnan(av), np.isnan(bv))
        m = ~np.isnan(av)
        assert np.array_equal(av[m], bv[m])
        for c in ("tile_lat", "tile_lon", "in_coverage", "tile_found", "knn_used"):
            assert a[c].tolist() == b[c].tolist(), c
        assert a["knn_used"].any()  # the fixture corpus must exercise the fallback


def test_assign_nearest_center_chunked_large_catalog():
    """Chunked center assignment: identical result to the unchunked argmin
    on a synthetic 14,000-tile catalog (the full-SRTM shape) — and bounded
    memory by construction (64k x 4096 doubles per block)."""
    from htg_spark.engine import assign_nearest_center

    rng = np.random.default_rng(5)
    lats = rng.integers(-60, 60, size=14000)
    lons = rng.integers(-180, 180, size=14000)
    centers = np.unique(np.stack([lats, lons], axis=1), axis=0)
    lat = rng.uniform(-60, 60, size=65536)
    lon = rng.uniform(-180, 180, size=65536)
    got = assign_nearest_center(lat, lon, centers, chunk=1000)
    # reference: argmin over ALL lexsorted centers at once (first-min tie
    # rule), taken 4,096 points at a time so the reference matrix stays
    # ~450 MB rather than the 7 GB the function itself is built to avoid
    order = np.lexsort((centers[:, 1], centers[:, 0]))
    sc = centers[order].astype(np.float64)
    want = np.empty((len(lat), 2), dtype=np.int64)
    for s in range(0, len(lat), 4096):
        pl, pn = lat[s : s + 4096, None], lon[s : s + 4096, None]
        d = (pl - (sc[:, 0] + 0.5)) ** 2 + (pn - (sc[:, 1] + 0.5)) ** 2
        want[s : s + 4096] = sc[np.argmin(d, axis=1)]
    assert np.array_equal(got, want)
    # point-axis chunking (bounds peak memory independent of batch size)
    # must not change a single assignment
    got2 = assign_nearest_center(lat, lon, centers, chunk=1000, point_chunk=777)
    assert np.array_equal(got2, want)


def test_cogroup_blob_source_path(spark, grids, points_pdf, tile_dir):
    """A tile_dir catalog: each task reads its tiles from shared storage by
    path. Results must be row-identical to the broadcast path and match
    the hgt.py oracle — including through a .hgt.zip tile, for nearest and
    bilinear, with and without kNN fallback — under the shuffled by-path
    plan (grid cache smaller than the catalog) and the map-side one
    (catalog fits the cache)."""
    df = spark.createDataFrame(points_pdf)
    for cache_size, mode, knn in itertools.product(
        (2, 64), ("nearest", "bilinear"), (False, True)
    ):
        eng = ElevationEngine(spark, tile_dir=tile_dir, cache_size=cache_size)
        a = (
            eng.elevation_join(df, mode=mode, strategy="broadcast", knn_fallback=knn)
            .orderBy("image_id")
            .toPandas()
        )
        b = (
            eng.elevation_join(
                df, mode=mode, strategy="cogroup", knn_fallback=knn, n_salts=4
            )
            .orderBy("image_id")
            .toPandas()
        )
        av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        assert np.array_equal(np.isnan(av), np.isnan(bv))
        assert np.array_equal(av[~np.isnan(av)], bv[~np.isnan(bv)])
        for c in ("tile_lat", "tile_lon", "in_coverage", "tile_found", "knn_used"):
            assert a[c].tolist() == b[c].tolist(), c
        assert a["knn_used"].any() == knn
        plain = ~a["knn_used"].to_numpy(dtype=bool)
        want = _oracle(a[["lat", "lon"]], grids, mode)
        assert np.array_equal(np.isnan(av[plain]), np.isnan(want[plain]))
        assert np.array_equal(av[plain & ~np.isnan(av)], want[plain & ~np.isnan(want)])

    # contract errors: an unknown strategy; the salted layout (cache_size 2)
    # hashes its salt from id_col, which the map-side layout never reads
    with pytest.raises(ValueError, match="bad strategy"):
        eng.elevation_join(df, strategy="inline")
    no_id = df.drop("image_id")
    with pytest.raises(ValueError, match="id column"):
        ElevationEngine(spark, tile_dir=tile_dir, cache_size=2).elevation_join(
            no_id, strategy="cogroup"
        )
    assert eng.elevation_join(no_id, strategy="cogroup").count() == len(points_pdf)


def test_auto_strategy_counts_catalog_once(spark, grids, points_pdf):
    """The catalog is read once per engine, for its path index: a catalog
    read in the hot path of every repeated join is a driver-side stall at
    scale."""
    eng = ElevationEngine(spark, grids=grids)
    calls = {"n": 0}
    orig = eng.catalog.select

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    eng.catalog.select = counting
    df = spark.createDataFrame(points_pdf.head(50))
    eng.elevation_join(df, strategy="auto").count()
    eng.elevation_join(df, strategy="auto").count()
    eng.elevation_join(df, strategy="auto").count()
    assert calls["n"] == 1


def test_catalog_measure_is_thread_safe(spark, grids, monkeypatch):
    """preload(blocking=False) runs catalog prep on a background thread;
    the lazy one-time path index must collect the catalog EXACTLY once
    even under concurrent first calls (without the lock, each thread would
    collect the catalog and leak a broadcast index). An in-memory
    catalog's tiles are spilled once, on the driver, when it is built."""
    import threading

    from htg_spark import catalog as catalog_mod

    calls = {"select": 0, "spill": 0}
    orig_spill = catalog_mod._spill_blob

    def counting_spill(*a, **k):
        calls["spill"] += 1
        return orig_spill(*a, **k)

    monkeypatch.setattr(catalog_mod, "_spill_blob", counting_spill)
    eng = ElevationEngine(spark, grids=grids)
    orig_select = eng.catalog.select

    def counting_select(*a, **k):
        calls["select"] += 1
        return orig_select(*a, **k)

    eng.catalog.select = counting_select
    threads = [threading.Thread(target=eng.n_tiles) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls == {"select": 1, "spill": len(grids)}
    assert eng.n_tiles() == len(fixtures.default_catalog_grids())


def test_auto_blob_source_picks_path(spark, grids, points_pdf, tmp_path):
    """strategy='auto' past the grid cache reads tiles by path on every
    catalog, a tile directory or in-memory (spilled to files): the salted
    input rows cross one Exchange and no Exchange carries the binary data
    column — at 100 TB of rasters the blobs must never ride a shuffle.
    Within the cache, auto runs map-side with no Exchange at all."""
    from htg_spark import hgt as hgt_mod

    tiles = tmp_path / "tiles"
    tiles.mkdir()
    for (tl, tn), grid in sorted(grids.items()):
        (tiles / hgt_mod.coords_to_filename(tl, tn)).write_bytes(hgt_mod.encode_tile(grid))
    df = spark.createDataFrame(points_pdf.head(50))

    # cache_size below the tile count: the salted layout
    for eng in (
        ElevationEngine(spark, tile_dir=str(tiles), cache_size=2),
        ElevationEngine(spark, grids=grids, cache_size=2),
    ):
        nodes = plan_nodes(eng.elevation_join(df, strategy="auto"))
        # same invariant the plan audit hard-gates for every engine section:
        # no Exchange may carry the binary data column
        gates = [
            present("ArrowEvalPython"),
            absent(*COGROUPS),
            count("Exchange", 1, 1),
            no_column("data", "Exchange"),
        ]
        assert not faults(nodes, gates), render(nodes)

    nodes = plan_nodes(ElevationEngine(spark, grids=grids).elevation_join(df, strategy="auto"))
    gates = [present("ArrowEvalPython"), absent("Exchange", "BroadcastExchange", "ReusedExchange")]
    assert not faults(nodes, gates), render(nodes)


def test_cogroup_knn_in_memory_builds_without_jobs(spark, grids, points_pdf):
    """A cogroup kNN join over an in-memory catalog that fits the grid
    cache runs map-side: after the engine's first join (which spills the
    catalog) it builds without a Spark job. The deleted two-pass cogroup
    launched 2 histogram jobs and 4 checkpoint jobs on every build."""
    eng = ElevationEngine(spark, grids=grids)
    assert len(grids) <= eng.cache_size
    df = spark.createDataFrame(points_pdf.head(200))
    kw = dict(strategy="cogroup", knn_fallback=True, n_salts=4)
    eng.elevation_join(df, **kw)  # spills the catalog once
    sc = spark.sparkContext
    sc.setJobGroup("cogroup-knn-build", "plan build only")
    try:
        out = eng.elevation_join(df, mode="bilinear", **kw)
        jobs = sc.statusTracker().getJobIdsForGroup("cogroup-knn-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert out.where("knn_used").count() > 0


def test_cogroup_adaptive_salting_spreads_hot_tile(spark, engine, grids):
    """Skew stress (SURVEY.md §4): 90% of points land in ONE 1-degree cell.
    The adaptive salt pre-pass must fan that cell out across n_salts shuffle
    groups of near-equal size (max/median <= 2 at n_salts=8) and keep cold
    cells at one group each — and the salted result must still equal the
    broadcast join row-for-row."""
    rng = np.random.default_rng(7)
    n_hot, n_cold = 9000, 1000
    lat = np.concatenate(
        [35.0 + rng.random(n_hot), 33.0 + rng.random(n_cold)]
    )
    lon = np.concatenate(
        [138.0 + rng.random(n_hot), -97.0 + rng.random(n_cold)]
    )
    pdf = pd.DataFrame(
        {"image_id": [f"s{i:05d}" for i in range(n_hot + n_cold)], "lat": lat, "lon": lon}
    )
    df = spark.createDataFrame(pdf)

    def unpack(frame):
        """tile_lat, tile_lon, salt out of the packed salted key _gk."""
        c = F.floor(F.col("_gk") / 8)
        return frame.select(
            (F.floor(c / 361) - 90).cast("int").alias("tile_lat"),
            (c % 361 - 180).cast("int").alias("tile_lon"),
            (F.col("_gk") % 8).cast("int").alias("salt"),
        )

    # the salted layout salts the FULL input rows (payload included)
    keyed, est_rows = engine._salted_key(
        df.withColumn("caption", F.lit("c")), "image_id", n_salts=8
    )
    # the histogram's row estimate (it sizes the kernel stage) is returned
    assert 0.5 * (n_hot + n_cold) < est_rows < 1.5 * (n_hot + n_cold)
    slots = spark.sparkContext.defaultParallelism
    target = (n_hot + n_cold) / (slots * 2)
    groups = unpack(keyed).groupBy("tile_lat", "tile_lon", "salt").count().toPandas()
    hot = groups[(groups.tile_lat == 35) & (groups.tile_lon == 138)]
    cold = groups[(groups.tile_lat == 33) & (groups.tile_lon == -97)]
    # hot cell fans out to all 8 salts; cold cell crosses the shuffle once
    assert sorted(hot["salt"]) == list(range(8))
    assert cold["salt"].tolist() == [0]
    # xxhash64 spreads the hot cell evenly: max/median rows per group <= 2
    assert hot["count"].max() / hot["count"].median() <= 2.0
    # no group exceeds 2x the per-slot target the pre-pass aimed for
    assert groups["count"].max() <= 2 * target

    a = (
        engine.elevation_join(df, mode="nearest", strategy="broadcast")
        .orderBy("image_id")
        .toPandas()
    )
    salted = ElevationEngine(spark, grids=grids, cache_size=2)  # fewer slots than tiles
    b = (
        salted.elevation_join(df, mode="nearest", strategy="cogroup", n_salts=8)
        .orderBy("image_id")
        .toPandas()
    )
    av = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    bv = b["elevation"].to_numpy(dtype="float64", na_value=np.nan)
    assert np.array_equal(np.isnan(av), np.isnan(bv))
    m = ~np.isnan(av)
    assert np.array_equal(av[m], bv[m])


def test_rewritten_tile_file_is_read_again(spark, tmp_path):
    """A tile file rewritten in place (new bytes, new mtime) is read again
    without clear_cache(): every grid cache keys a tile by its file's stamp
    (path, mtime, size), so the point API and a join on the same engine
    both return the new values."""
    f = tmp_path / "N35E138.hgt"
    f.write_bytes(hgt.encode_tile(fixtures.tile_center(500)))
    eng = ElevationEngine(spark, tile_dir=str(tmp_path))
    df = spark.createDataFrame(pd.DataFrame({"image_id": ["a"], "lat": [35.5], "lon": [138.5]}))

    def joined():
        return eng.elevation_join(df, strategy="broadcast").first()["elevation"]

    assert eng.get_elevation(35.5, 138.5) == 500
    assert joined() == 500
    st = os.stat(f)
    f.write_bytes(hgt.encode_tile(fixtures.tile_center(700)))
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert eng.get_elevation(35.5, 138.5) == 700
    assert joined() == 700


@pytest.mark.parametrize("knn", [False, True])
@pytest.mark.parametrize("default", [None, -1])
def test_observation_counts_match_the_oracle(spark, knn, default):
    """elevation_join(observe=True) publishes the domain counters of the
    join on its Observation; each equals the count computed with the hgt
    reference, with and without a default (void_hits counts the voids the
    default then fills). The fixture holds in-tile, void, missing-tile and
    out-of-coverage rows; with kNN on, the missing-tile rows fall back to
    the nearest tile's edge, which holds no void."""
    grids = fixtures.default_catalog_grids()
    grids[(36, 138)] = grids[(36, 138)].copy()
    grids[(36, 138)][500:700, 500:700] = hgt.VOID_VALUE
    rng = np.random.default_rng(5)
    n = 600
    lat = 35.0 + rng.random(n) * 2.0
    lon = 138.0 + rng.random(n) * 2.0
    void = slice(0, n, 7)  # inside the void block
    lat[void] = 36.45 + rng.random(len(lat[void])) * 0.1
    lon[void] = 138.45 + rng.random(len(lon[void])) * 0.1
    lat[1::11], lon[1::11] = 50.2, 50.3  # missing tile
    lat[2::13] = 75.0  # out of coverage
    pdf = pd.DataFrame({"image_id": [f"p{i}" for i in range(n)], "lat": lat, "lon": lon})

    in_cov = hgt.is_valid_srtm_coord(lat, lon)
    tl, tn = hgt.tile_key(lat, lon)
    has_tile = in_cov & np.array([(a, b) in grids for a, b in zip(tl, tn)])
    vals = hgt.get_elevations_batch(np.stack([lat, lon], axis=1), grids, default=-(10**6))
    n_missing = int((in_cov & ~has_tile).sum())
    expected = {
        "rows": n,
        "out_of_coverage": int((~in_cov).sum()),
        "missing_tile": 0 if knn else n_missing,
        "knn_fallbacks": n_missing if knn else 0,
        "void_hits": int((has_tile & (vals == -(10**6))).sum()),
    }
    assert expected["void_hits"] > 0 and n_missing > 0 and expected["out_of_coverage"] > 0

    eng = ElevationEngine(spark, grids=grids)
    out = eng.elevation_join(
        spark.createDataFrame(pdf), strategy="broadcast", knn_fallback=knn,
        default=default, observe=True,
    )
    out.collect()
    assert dict(eng.last_observation.get) == expected


def test_read_blob_from_path_uri_handling(tmp_path):
    """The binaryFile path column is a URI: percent-encoded characters must
    decode, and non-local schemes must fail with a clear contract error
    (not a bogus FileNotFoundError deep inside a task)."""
    from htg_spark.catalog import _read_blob_from_path

    p = tmp_path / "tile dir" / "N35E138.hgt"
    p.parent.mkdir()
    p.write_bytes(b"\x01\x02\x03")
    uri = "file://" + str(p.parent).replace(" ", "%20") + "/N35E138.hgt"
    assert _read_blob_from_path(uri) == b"\x01\x02\x03"
    assert _read_blob_from_path(str(p)) == b"\x01\x02\x03"
    with pytest.raises(NotImplementedError, match="s3a"):
        _read_blob_from_path("s3a://bucket/N35E138.hgt")


def test_preload_gates_blob_broadcast(spark):
    """preload builds the path index, and only names are broadcast —
    never the blobs (a driver OOM exactly when preload matters most). An
    in-memory catalog is spilled to content-named files on the driver:
    its 300 tiles share one grid, so one file is written and shipped."""
    from htg_spark import catalog as catalog_mod

    grid = np.full((1201, 1201), 4321, dtype=np.int16)
    before = _spill_files()
    eng = ElevationEngine(spark, grids={(i // 40, i % 40): grid for i in range(300)})
    stats = eng.preload()
    assert (stats["tiles_matched"], stats["tiles_failed"]) == (300, 0)
    index = eng._path_index().value
    assert len(index) == 300 and len(set(index.values())) == 1
    name = next(iter(index.values()))
    assert set(_spill_files()) - set(before) == {name}
    with open(os.path.join(catalog_mod._SPILL_DIR, name), "rb") as f:
        assert f.read() == hgt.encode_tile(grid)


def test_phash_derivation_matches_numpy(spark, engine):
    rng = np.random.default_rng(5)
    lat = 35.0 + rng.random(500) * 2
    lon = 138.0 + rng.random(500) * 2
    ph = fixtures.lat_lon_to_phash(lat, lon)
    pdf = pd.DataFrame({"image_id": [f"i{k}" for k in range(500)], "phash": ph})
    df = spark.createDataFrame(pdf)
    got = (
        df.select(
            "image_id",
            cells.lat_from_phash(df.phash).alias("lat"),
            cells.lon_from_phash(df.phash).alias("lon"),
        )
        .orderBy("image_id")
        .toPandas()
    )
    exp_lat, exp_lon = fixtures.phash_to_lat_lon(pdf.sort_values("image_id")["phash"].to_numpy())
    assert np.array_equal(got["lat"].to_numpy(), exp_lat)  # bitwise
    assert np.array_equal(got["lon"].to_numpy(), exp_lon)


def test_payload_passthrough(spark, engine):
    imgs = fixtures.make_images_pdf(60)
    df = spark.createDataFrame(imgs)
    out = engine.elevation_join(df, mode="nearest").orderBy("image_id").toPandas()
    assert len(out) == 60
    src = imgs.sort_values("image_id").reset_index(drop=True)
    assert (out["caption"] == src["caption"]).all()
    for i in range(len(out)):
        px_out = fixtures.decode_image(
            bytes(out["bytes"][i]), int(out["w"][i]), int(out["h"][i]), out["fmt"][i]
        )
        px_src = fixtures.decode_image(
            bytes(src["bytes"][i]), int(src["w"][i]), int(src["h"][i]), src["fmt"][i]
        )
        assert np.array_equal(px_out, px_src)  # lossless: PSNR = inf >= 40dB
    # derived coordinates match the shared formula
    exp_lat, exp_lon = fixtures.phash_to_lat_lon(src["phash"].to_numpy())
    assert np.array_equal(out["lat"].to_numpy(), exp_lat)


def test_filename_expressions_match_python(spark):
    pdf = pd.DataFrame(
        {
            "t_lat": [35, -13, 0, -1, 59],
            "t_lon": [138, -78, -1, 0, 179],
        }
    )
    df = spark.createDataFrame(pdf)
    got = df.select(
        cells.tile_filename(df.t_lat, df.t_lon).alias("fn")
    ).toPandas()["fn"]
    exp = [hgt.coords_to_filename(a, b) for a, b in zip(pdf.t_lat, pdf.t_lon)]
    assert list(got) == exp
    # parse back
    extra = ["invalid", "n35e138", "/p/N00E000.hgt", r"C:\tiles\N35E138.hgt"]
    df2 = spark.createDataFrame(pd.DataFrame({"fn": exp + extra}))
    tl, tn = cells.filename_to_key(df2.fn)
    back = df2.select(tl.alias("a"), tn.alias("b")).toPandas()
    exp_back = [hgt.filename_to_lat_lon(x) for x in list(exp) + extra]
    for i, e in enumerate(exp_back):
        if e is None:
            assert pd.isna(back["a"][i]) and pd.isna(back["b"][i])
        else:
            assert (back["a"][i], back["b"][i]) == e


def test_path_plan_moves_input_rows_once(spark, tile_dir, points_pdf):
    """The salted layout reads tiles by path, so only the input rows move:
    ONE shuffle Exchange (the salted-key repartition; the histogram
    pre-pass has already run while the plan was built), no cogroup, no
    id re-join, no data column in any Exchange — with kNN as well. The
    plan shuffles for tile locality when the catalog holds more tiles than
    the engine's grid cache, or when spark.python.worker.reuse is off (every
    task then starts a fresh worker with an empty cache). The setting is
    read from the live context conf, as the Python runners read it, and
    restored before anything runs."""
    df = spark.createDataFrame(points_pdf.assign(caption="c"))
    conf = spark.sparkContext._conf
    shapes = [(2, "true"), (64, "false"), (64, "False ")]  # (cache_size, reuse)
    for (cache_size, reuse), knn in itertools.product(shapes, (False, True)):
        eng = ElevationEngine(spark, tile_dir=tile_dir, cache_size=cache_size)
        conf.set("spark.python.worker.reuse", reuse)
        try:
            nodes = plan_nodes(
                eng.elevation_join(df, strategy="cogroup", knn_fallback=knn, n_salts=4)
            )
        finally:
            conf.set("spark.python.worker.reuse", "true")
        gates = [
            count("Exchange", 1, 1),
            no_column("data", "Exchange"),
            present("ArrowEvalPython"),
            absent("SortMergeJoin", *COGROUPS, "MapInArrow", "Scan ExistingRDD"),
        ]
        assert not faults(nodes, gates), render(nodes)
        (exchange,) = [n for n in nodes if n.name == "Exchange"]
        assert "caption" in exchange.output, render(nodes)


def test_kernel_buffer_reads_each_tile_once(tmp_path, monkeypatch):
    """A shuffled partition reaches the kernel UDF with its tiles
    interleaved, so every Arrow batch touches every tile of the task. The
    UDF body runs the kernel over a buffer of batches: with more tiles
    than the grid cache, each tile is still read once per buffer (per
    batch, the LRU would re-read all of them on every batch), and the
    output is one struct array per input batch, equal to the per-batch
    kernel's."""
    import pyarrow as pa

    from htg_spark import catalog as catalog_mod
    from htg_spark import engine as engine_mod

    rng = np.random.default_rng(11)
    cells_ = [(30 + i, 100 + j) for i in range(2) for j in range(3)]  # 6 tiles
    paths = {}
    for c in cells_:
        f = tmp_path / hgt.coords_to_filename(*c)
        f.write_bytes(
            hgt.encode_tile(rng.integers(-50, 3000, size=(1201, 1201)).astype(np.int16))
        )
        paths[c] = str(f)
    n, n_batches = 600, 5
    lat = 30 + rng.random(n * n_batches) * 2
    lon = 100 + rng.random(n * n_batches) * 3
    batches = [
        (pa.array(lat[i : i + n]), pa.array(lon[i : i + n]))
        for i in range(0, n * n_batches, n)
    ]
    reads = []
    read_grid = catalog_mod._read_grid

    def counted_read(path):
        reads.append(path)
        return read_grid(path)

    monkeypatch.setattr(catalog_mod, "_read_grid", counted_read)

    def kernel(buffer_rows):
        reads.clear()
        cache = engine_mod._GridCache(2)  # fewer slots than tiles per task
        return list(
            engine_mod._kernel_batches(
                iter(batches), lambda k: cache.get(paths.get(k)),
                engine_mod._elevation_kernel("bilinear"), buffer_rows=buffer_rows,
            )
        ), list(reads)

    per_batch, per_batch_reads = kernel(1)  # the old per-batch behaviour
    assert len(per_batch_reads) == len(cells_) * n_batches
    for buffer_rows, n_buffers in ((n * n_batches, 1), (2 * n, 3)):
        out, got_reads = kernel(buffer_rows)
        assert len(got_reads) == len(cells_) * n_buffers
        assert [len(a) for a in out] == [n] * n_batches
        for a, b in zip(out, per_batch):
            assert a.equals(b)


def test_kernel_buffer_spans_batches_under_spark(spark, tile_dir, points_pdf, monkeypatch):
    """The kernel UDF consumes several Arrow batches before it yields:
    with 64-row batches and a 300-row buffer, the broadcast and by-path
    plans (kNN on) still return exactly their one-batch results. The grid
    cache holds fewer tiles than the catalog, so the by-path leg is the
    shuffled plan, whose partitions interleave tiles."""
    from htg_spark import engine as engine_mod

    df = spark.createDataFrame(points_pdf.assign(caption="c"))
    cols = ["image_id", "caption", "lat", "lon", "tile_lat", "tile_lon", "knn_used", "elevation"]
    eng = ElevationEngine(spark, tile_dir=tile_dir, cache_size=2)

    def run():
        out = {}
        for strategy in ("broadcast", "cogroup"):
            j = eng.elevation_join(
                df, strategy=strategy, mode="bilinear", knn_fallback=True, n_salts=4
            )
            out[strategy] = _rows(j, cols)
        return out

    ref = run()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    monkeypatch.setattr(engine_mod, "_KERNEL_BUFFER_ROWS", 300)
    spark.conf.set(key, "64")
    try:
        small = run()
    finally:
        spark.conf.set(key, old)
    for strategy in ref:
        pd.testing.assert_frame_equal(small[strategy], ref[strategy])
    pd.testing.assert_frame_equal(ref["broadcast"], ref["cogroup"])


def _rows(df, cols):
    return df.select(*cols).orderBy(*cols).toPandas()


def test_path_plan_duplicate_ids_match_broadcast(spark, grids, tile_dir):
    """Duplicate ids with a payload column: the cogroup strategy keeps one
    output row per input row, exactly like broadcast, and both match the
    hgt.py oracle (the old cogroup id re-join multiplied duplicates) —
    under the salted layout (grid cache smaller than the catalog) and the
    map-side one (catalog fits the cache), over a tile_dir catalog and an
    in-memory one."""
    pdf = pd.DataFrame(
        {
            "image_id": ["a", "a", "b", "b", "c"],
            "caption": ["x", "y", "z", "w", "v"],
            "lat": [35.5, 35.6, 40.2, 35.5, 70.0],
            "lon": [138.5, 138.6, 138.4, 138.5, 0.0],
        }
    )
    df = spark.createDataFrame(pdf)
    cols = ["image_id", "caption", "lat", "lon", "tile_lat", "tile_lon",
            "in_coverage", "tile_found", "knn_used", "elevation"]
    sources = (dict(tile_dir=tile_dir), dict(grids=grids))
    for source, cache_size, mode in itertools.product(
        sources, (2, 64), ("nearest", "bilinear")
    ):
        eng = ElevationEngine(spark, cache_size=cache_size, **source)
        kw = dict(mode=mode, knn_fallback=True)
        a = _rows(eng.elevation_join(df, strategy="broadcast", **kw), cols)
        b = _rows(eng.elevation_join(df, strategy="cogroup", n_salts=4, **kw), cols)
        assert len(a) == len(b) == len(pdf)
        pd.testing.assert_frame_equal(a, b)
        got = a["elevation"].to_numpy(dtype="float64", na_value=np.nan)
        plain = ~a["knn_used"].to_numpy(dtype=bool)
        want = _oracle(a[["lat", "lon"]], grids, mode)
        assert np.array_equal(np.isnan(got[plain]), np.isnan(want[plain]))
        assert np.array_equal(got[plain & ~np.isnan(got)], want[plain & ~np.isnan(want)])


def test_null_lat_is_out_of_coverage_under_every_plan(spark, grids, tile_dir):
    """A NULL lat is out of coverage under both layouts alike: lat stays
    NULL, tile key and elevation are NULL (the deleted inline cogroup once
    raised TypeError on the NULL group key). The cogroup strategy runs
    salted (grid cache smaller than the catalog) and map-side (catalog
    fits the cache), over a tile_dir catalog and an in-memory one."""
    rows = [("n1", None, 138.5, "p"), ("n2", 35.5, 138.5, "q"), ("n3", 40.2, 138.4, "r")]
    df = spark.createDataFrame(rows, "image_id string, lat double, lon double, caption string")
    cols = ["image_id", "caption", "lat", "lon", "tile_lat", "tile_lon",
            "in_coverage", "tile_found", "knn_used", "elevation"]
    for cache_size, knn in itertools.product((2, 64), (False, True)):
        path_eng = ElevationEngine(spark, tile_dir=tile_dir, cache_size=cache_size)
        mem_eng = ElevationEngine(spark, grids=grids, cache_size=cache_size)
        kw = dict(mode="nearest", knn_fallback=knn)
        a = _rows(path_eng.elevation_join(df, strategy="broadcast", **kw), cols)
        b = _rows(path_eng.elevation_join(df, strategy="cogroup", n_salts=4, **kw), cols)
        c = _rows(mem_eng.elevation_join(df, strategy="cogroup", n_salts=4, **kw), cols)
        pd.testing.assert_frame_equal(a, b)
        pd.testing.assert_frame_equal(a, c)
        n1 = a[a.image_id == "n1"].iloc[0]
        assert pd.isna(n1["lat"]) and pd.isna(n1["tile_lat"]) and pd.isna(n1["elevation"])
        assert not n1["in_coverage"] and not n1["tile_found"] and not n1["knn_used"]
        want = hgt.get_elevations_batch([(np.nan, 138.5), (35.5, 138.5)], grids, default=-1)
        assert want[0] == -1 and a[a.image_id == "n2"].iloc[0]["elevation"] == want[1]


def test_repeated_broadcast_knn_join_builds_without_jobs(spark, grids, points_pdf):
    """Building a repeated broadcast kNN join launches no Spark job: the
    blobs and the kNN tile centres are both derived once per engine."""
    eng = ElevationEngine(spark, grids=grids)
    df = spark.createDataFrame(points_pdf.head(50))
    eng.elevation_join(df, strategy="broadcast", knn_fallback=True)  # collects blobs once
    sc = spark.sparkContext
    sc.setJobGroup("repeated-knn-build", "plan build only")
    try:
        out = eng.elevation_join(df, mode="bilinear", strategy="broadcast", knn_fallback=True)
        jobs = sc.statusTracker().getJobIdsForGroup("repeated-knn-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert out.where("knn_used").count() > 0


def test_path_plan_runs_map_side_when_catalog_fits_cache(spark, grids, tile_dir, points_pdf):
    """With no more tiles than the grid cache, a reused Python worker keeps
    every tile across tasks and passes, so the by-path plan runs the kernel
    UDF map-side on the input partitions: no histogram job, no salting, no
    shuffle Exchange, and a repeated join builds without a Spark job
    (test_cogroup_blob_source_path checks its rows)."""
    eng = ElevationEngine(spark, tile_dir=tile_dir)
    assert len(grids) <= eng.cache_size
    df = spark.createDataFrame(points_pdf.assign(caption="c"))
    path_kw = dict(strategy="cogroup", n_salts=4)
    for knn in (False, True):
        nodes = plan_nodes(eng.elevation_join(df, knn_fallback=knn, **path_kw))
        gates = [
            count("Exchange", 0, 0),
            present("ArrowEvalPython"),
            no_column("data"),
            absent("SortMergeJoin", "BroadcastHashJoin", *COGROUPS, "MapInArrow"),
        ]
        assert not faults(nodes, gates), render(nodes)

    sc = spark.sparkContext
    sc.setJobGroup("repeated-path-build", "plan build only")
    try:
        out = eng.elevation_join(df, mode="bilinear", knn_fallback=True, **path_kw)
        jobs = sc.statusTracker().getJobIdsForGroup("repeated-path-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert out.where("knn_used").count() > 0


def test_bad_n_salts_raises_under_every_plan(spark, grids, tile_dir):
    """n_salts is checked when the join is called, on every plan —
    including the broadcast and map-side by-path plans, which never read
    it — so a bad value fails the same way everywhere (it used to fail
    inside a task with REMAINDER_BY_ZERO at 0, pass silently at -1, and
    overflow the packed int32 group key past MAX_SALTS)."""
    from htg_spark.engine import MAX_SALTS
    from htg_spark.operators.terrain import terrain_join

    df = spark.createDataFrame(
        [("a", 35.5, 138.5), ("b", 36.2, 138.4), ("c", 70.0, 0.0)],
        "image_id string, lat double, lon double",
    )
    mem = ElevationEngine(spark, grids=grids)
    plans = [
        (mem, dict(strategy="broadcast")),
        (ElevationEngine(spark, grids=grids, cache_size=2), dict(strategy="cogroup")),
    ] + [
        (ElevationEngine(spark, tile_dir=tile_dir, cache_size=c), dict(strategy="cogroup"))
        for c in (2, 64)  # salted and map-side layouts
    ]
    for bad in (0, -1, MAX_SALTS + 1, 4.0, "4", True, None):
        for eng, kw in plans:
            with pytest.raises(ValueError, match="n_salts"):
                eng.elevation_join(df, n_salts=bad, **kw)
        for strategy in ("broadcast", "cogroup"):
            with pytest.raises(ValueError, match="n_salts"):
                terrain_join(mem, df, strategy=strategy, id_col="image_id", n_salts=bad)

    # MAX_SALTS is the exact int32 bound of the packed key at the top cell
    top = ElevationEngine._group_key(F.lit(90), F.lit(180), F.lit(MAX_SALTS - 1), MAX_SALTS)
    assert spark.range(1).select(top.alias("gk")).first()["gk"] == 65341 * MAX_SALTS - 1
    assert 65341 * (MAX_SALTS + 1) - 1 > 2**31 - 1
    # both ends of the range run on the salted layout, equal to broadcast
    cols = ["image_id", "lat", "lon", "tile_lat", "tile_lon", "elevation"]
    want = _rows(mem.elevation_join(df, strategy="broadcast"), cols)
    for (eng, kw), n in itertools.product([plans[1], plans[2]], (1, MAX_SALTS)):
        pd.testing.assert_frame_equal(_rows(eng.elevation_join(df, n_salts=n, **kw), cols), want)


def test_point_api_on_tile_dir_reads_tiles_by_path(spark, grids, tile_dir, points_pdf):
    """The point API on a path-bearing catalog (tile_dir / from_env) reads
    each tile by the scan's own path, like the joins: single and batch
    lookups equal the in-memory engine's (which reads its spilled files),
    and no blob is collected to the driver, spilled or broadcast (the
    catalog may be a whole SRTM corpus)."""
    mem = ElevationEngine(spark, grids=grids)
    eng = ElevationEngine(spark, tile_dir=tile_dir)
    coords = list(zip(points_pdf["lat"][:300], points_pdf["lon"][:300]))
    in_cov = [c for c in coords if hgt.is_valid_srtm_coord(*c)]

    def lookups(e):
        return (
            [e.get_elevation(*c) for c in in_cov],
            [e.get_elevation_floor(*c) for c in in_cov],
            [e.get_elevation_interpolated(*c) for c in in_cov],
            e.get_elevations_batch(coords, default=-1),
            e.get_elevations_batch(coords, default=-1, rounding="floor"),
            e.get_elevations_batch_interpolated(coords, default=-1.0),
        )

    got = lookups(eng)
    assert got == lookups(mem)
    assert any(v is not None for v in got[0])
    assert all(p.startswith("file:") for p in eng._path_index().value.values())


def test_spill_isolates_engines_sharing_a_tile_key(spark):
    """Two in-memory engines in one session hold different grids under the
    same tile key. Spilled files are named by a hash of their bytes, so
    neither engine reads the other's tile: each returns its own
    elevations through the join, salted (cache_size 2) and map-side
    (cache_size 64), and through the point API."""
    key = (35, 138)
    grid_a = np.full((1201, 1201), 100, dtype=np.int16)
    grid_b = np.full((1201, 1201), 700, dtype=np.int16)
    extra = {(36, 138): grid_a, (35, 139): grid_b}  # 3 tiles: past cache_size 2
    df = spark.createDataFrame(
        [("a", 35.5, 138.5), ("b", 36.5, 138.5), ("c", 35.5, 139.5)],
        "image_id string, lat double, lon double",
    )
    for cache_size in (2, 64):
        for grid, want in ((grid_a, 100), (grid_b, 700)):
            eng = ElevationEngine(spark, grids={key: grid, **extra}, cache_size=cache_size)
            got = {
                r.image_id: r.elevation
                for r in eng.elevation_join(df, strategy="cogroup", n_salts=4).collect()
            }
            assert got == {"a": want, "b": 100, "c": 700}, cache_size
            assert eng.get_elevation(35.5, 138.5) == want
            assert eng.get_elevations_batch([(35.5, 138.5), (36.5, 138.5)]) == [want, 100]


def _spill_files() -> dict:
    """{name: (inode, mtime)} of every spilled tile file. A spill writes a
    temporary file and renames it over the name, so a rewrite changes
    both."""
    from htg_spark import catalog as catalog_mod

    d = catalog_mod._SPILL_DIR
    return {
        n: (s.st_ino, s.st_mtime_ns)
        for n in (os.listdir(d) if d else ())
        for s in [os.stat(os.path.join(d, n))]
    }


def test_second_engine_spills_nothing_new(spark, grids, points_pdf):
    """A spilled file is named by the SHA-256 of its bytes, so a second
    engine over the same grids writes no file: it ships the existing names
    and joins the same rows."""
    import hashlib

    from htg_spark import catalog as catalog_mod

    first = ElevationEngine(spark, grids=grids)
    index = first._path_index().value
    for name in set(index.values()):
        with open(os.path.join(catalog_mod._SPILL_DIR, name), "rb") as f:
            assert name == hashlib.sha256(f.read()).hexdigest() + ".hgt"
    spilled = _spill_files()
    second = ElevationEngine(spark, grids=grids)
    assert second._path_index().value == index
    assert _spill_files() == spilled
    df = spark.createDataFrame(points_pdf.head(300))

    def rows(eng):
        out = eng.elevation_join(df, strategy="broadcast", default=-1)
        return out.orderBy("image_id").collect()

    assert rows(second) == rows(first)


def test_nan_coordinate_casts_without_warning(spark, grids):
    """A NaN coordinate is out of coverage without a NumPy warning: the
    tile-key cast of NaN runs under np.errstate, in the NumPy reference and
    in the point API alike."""
    import warnings

    eng = ElevationEngine(spark, grids=grids)
    # build the path index outside the block: PySpark leaves a collect()'s
    # socket to the garbage collector, which warns (ResourceWarning) on
    # collection
    eng.n_tiles()
    coords = [(np.nan, 138.5), (35.5, 138.5), (35.5, np.nan)]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert list(hgt.get_elevations_batch(coords, grids, default=-1)) == [-1, 500, -1]
        assert eng.get_elevations_batch(coords, default=-1) == [-1, 500, -1]


def test_spill_streams_only_missing_tiles_by_key(spark, grids):
    """When some spill files already exist, only the tiles whose file is
    missing are written, named by the SHA-256 of their bytes; the files
    already on disk keep their names and are not rewritten."""
    import hashlib

    from htg_spark import catalog as catalog_mod

    index = ElevationEngine(spark, grids=grids)._path_index().value
    extra = np.random.default_rng(2024).integers(0, 3000, size=(1201, 1201)).astype(np.int16)
    blob = hgt.encode_tile(extra)
    before = _spill_files()
    eng = ElevationEngine(spark, grids={**grids, (50, 50): extra})
    name = hashlib.sha256(blob).hexdigest() + ".hgt"
    assert eng._path_index().value == {**index, (50, 50): name}
    after = _spill_files()
    assert set(after) - set(before) == {name}
    assert {n: after[n] for n in before} == before
    with open(os.path.join(catalog_mod._SPILL_DIR, name), "rb") as f:
        assert f.read() == blob
    assert eng.get_elevation(50.5, 50.5) == int(extra[600, 600])


def test_path_index_refuses_a_duplicated_tile_key(spark, grids, tile_dir):
    """The path index names one file per tile key, so a catalog with two
    rows for one key raises ValueError naming the key, whether it carries
    its own paths or is spilled; no row silently wins."""
    from htg_spark.catalog import catalog_from_grids

    for cat in (
        catalog_from_grids(spark, grids),
        ElevationEngine(spark, tile_dir=tile_dir).catalog,
    ):
        dup = cat.unionByName(cat.where((F.col("tile_lat") == 35) & (F.col("tile_lon") == 138)))
        with pytest.raises(ValueError, match=r"tile key \(35, 138\)"):
            ElevationEngine(spark, catalog=dup).n_tiles()
