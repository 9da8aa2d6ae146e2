"""srtm_rs-parity API surface tests — ported from the reference's service
tests (htg/src/service.rs:951-1481) and PyO3 binding contract
(htg-python/src/lib.rs:110-316). See SURVEY.md §2.8."""

import pytest

from htg_spark import fixtures, hgt
from htg_spark.engine import ElevationEngine


@pytest.fixture(scope="module")
def engine(spark):
    return ElevationEngine(spark, grids=fixtures.default_catalog_grids())


def test_single_point(engine):
    assert engine.get_elevation(35.5, 138.5) == 500  # service.rs:985-987
    assert engine.get_elevation(33.3448, -96.1592) == 190
    assert engine.get_elevation_floor(33.3448, -96.1592) == 191


def test_single_point_out_of_bounds_errors(engine):
    with pytest.raises(ValueError):  # service.rs:1031-1042
        engine.get_elevation(70.0, 0.0)
    with pytest.raises(ValueError):
        engine.get_elevation(0.0, 190.0)


def test_missing_tile_returns_none(engine):
    assert engine.get_elevation(50.0, 50.0) is None  # service.rs:1044-1052


def test_void_returns_none(spark):
    eng = ElevationEngine(spark, grids={(35, 138): fixtures.tile_center(hgt.VOID_VALUE)})
    assert eng.get_elevation(35.5, 138.5) is None  # service.rs:1064-1075


def test_batch_with_defaults(spark):
    eng = ElevationEngine(spark, grids={(35, 138): fixtures.tile_center(500)})
    out = eng.get_elevations_batch(
        [(35.5, 138.5), (50.0, 50.0), (35.1, 138.1)], default=-1
    )
    assert out == [500, -1, 0]  # service.rs:1078-1095
    assert eng.get_elevations_batch([]) == []


def test_batch_interpolated(engine):
    lat = 35 + (1.0 - 600.5 / 1200.0)
    lon = 139 + 600.5 / 1200.0  # T-interp tile at (35,139)
    out = engine.get_elevations_batch_interpolated([(lat, lon), (50.0, 50.0)], default=-1.0)
    assert abs(out[0] - 250.0) <= 5.0  # tile.rs:478-497
    assert out[1] == -1.0


def test_interpolated_single(engine):
    v = engine.get_elevation_interpolated(35.5, 138.5)
    assert v == 500.0


def test_cache_stats_progress(spark):
    eng = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    s0 = eng.cache_stats()
    assert s0["hit_count"] == 0 and s0["miss_count"] == 0
    eng.get_elevation(35.5, 138.5)
    s1 = eng.cache_stats()
    assert s1["miss_count"] == 1 and s1["entry_count"] == 1
    eng.get_elevation(35.6, 138.6)  # same tile -> hit
    s2 = eng.cache_stats()
    assert s2["hit_count"] == 1 and s2["hit_rate"] == 0.5  # service.rs:55-63


def test_clear_cache_and_capacity(spark):
    """service.rs:1155-1180: clearing invalidates entries but keeps the
    cumulative counters; capacity echoes the configured size."""
    eng = ElevationEngine(spark, grids={(35, 138): fixtures.tile_center(500)}, cache_size=10)
    assert eng.cache_capacity() == 10
    assert eng.get_elevation(35.5, 138.5) == 500
    assert eng.cache_stats()["miss_count"] == 1
    eng.clear_cache()
    assert eng.cache_stats()["entry_count"] == 0
    assert eng.get_elevation(35.5, 138.5) == 500  # re-decoded
    s = eng.cache_stats()
    assert s["miss_count"] == 2 and s["entry_count"] == 1


def test_from_env(spark, tmp_path, monkeypatch):
    """service.rs:1220-1288: HTG_DATA_DIR required, HTG_CACHE_SIZE default 100."""
    from htg_spark import hgt as hgt_mod

    monkeypatch.delenv("HTG_DATA_DIR", raising=False)
    with pytest.raises(ValueError, match="HTG_DATA_DIR"):
        ElevationEngine.from_env(spark)

    (tmp_path / "N35E138.hgt").write_bytes(hgt_mod.encode_tile(fixtures.tile_center(500)))
    monkeypatch.setenv("HTG_DATA_DIR", str(tmp_path))
    monkeypatch.setenv("HTG_CACHE_SIZE", "50")
    eng = ElevationEngine.from_env(spark)
    assert eng.cache_capacity() == 50
    assert eng.get_elevation(35.5, 138.5) == 500

    monkeypatch.delenv("HTG_CACHE_SIZE")
    assert ElevationEngine.from_env(spark).cache_capacity() == 100  # default


def test_preload_all_and_bbox(spark):
    eng = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    stats = eng.preload()
    assert stats["tiles_matched"] == 5
    eng2 = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    stats2 = eng2.preload(bounds=(35.2, 138.2, 35.8, 138.8))
    assert stats2["tiles_matched"] == 1  # strict overlap (service.rs:102-110)
    # multiple boxes union (service.rs:1325-1341) and no-match (rs:1427-1440)
    eng3 = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    stats3 = eng3.preload(bounds=[(35.2, 138.2, 35.8, 138.8), (33.1, -96.9, 33.2, -96.8)])
    assert stats3["tiles_matched"] == 2
    eng4 = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    assert eng4.preload(bounds=(-10.0, -10.0, -9.0, -9.0))["tiles_matched"] == 0


def test_preload_stats_progression(spark, tmp_path):
    """Full PreloadStats field parity (service.rs:114-126; populated
    685-722): first preload loads every matched tile; a repeat reports
    already_cached=matched, loaded=0 (test_preload_already_cached,
    service.rs:1343-1360); a bbox preload over a warm subset mixes the two;
    clear_cache resets the ledger so tiles load again; a corrupt blob lands
    in tiles_failed (the Err arm of load_tile, service.rs:707-711) and is
    retried — not remembered as cached — on the next call."""
    eng = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    s1 = eng.preload()
    assert s1["tiles_matched"] == 5
    assert s1["tiles_loaded"] == 5
    assert s1["tiles_already_cached"] == 0
    assert s1["tiles_failed"] == 0
    s2 = eng.preload()
    assert s2["tiles_matched"] == 5
    assert s2["tiles_loaded"] == 0
    assert s2["tiles_already_cached"] == 5
    assert s2["tiles_failed"] == 0
    # bbox subset of an already-warm catalog: all cached, nothing loaded
    s3 = eng.preload(bounds=(35.2, 138.2, 35.8, 138.8))
    assert s3["tiles_matched"] == 1
    assert s3["tiles_already_cached"] == 1
    assert s3["tiles_loaded"] == 0
    # clear_cache invalidates: the next preload re-loads (reference preload
    # consults the just-emptied moka cache)
    eng.clear_cache()
    s4 = eng.preload()
    assert s4["tiles_loaded"] == 5
    assert s4["tiles_already_cached"] == 0

    # corrupt tile -> tiles_failed, and failures are retried, never cached
    from htg_spark.catalog import CATALOG_SCHEMA

    good = ElevationEngine(spark, grids={(35, 138): fixtures.tile_center(500)})
    bad = tmp_path / "N36E139.hgt"
    bad.write_bytes(b"\x00\x01\x02")  # not a valid HGT size
    bad_row = spark.createDataFrame(
        [(36, 139, 1201, "N36E139.hgt", str(bad))], CATALOG_SCHEMA
    )
    cat = good.catalog.unionByName(bad_row)
    eng_bad = ElevationEngine(spark, catalog=cat)
    b1 = eng_bad.preload()
    assert b1["tiles_matched"] == 2
    assert b1["tiles_loaded"] == 1
    assert b1["tiles_failed"] == 1
    b2 = eng_bad.preload()
    assert b2["tiles_already_cached"] == 1
    assert b2["tiles_failed"] == 1  # still failing, still reported


def test_preload_corrupt_tile_in_cogroup_size_catalog(spark, tmp_path):
    """VERDICT r4 #8: on a 260-tile catalog of full-size tiles (once past
    the deleted broadcast gate) a corrupt tile must land in tiles_failed via the
    distributed decode check WITHOUT failing the preload — nor the path
    index that preload builds — and stay retried, never remembered as
    cached."""
    import numpy as np

    from htg_spark.catalog import CATALOG_SCHEMA

    n = 260  # full-size tiles
    base = tmp_path / "base.hgt"
    base.write_bytes(
        ((np.arange(1201)[:, None] + np.arange(1201)[None, :]) % 4000).astype(">i2").tobytes()
    )
    bad = tmp_path / "bad.hgt"
    bad.write_bytes(b"\x00\x01\x02")  # bad size
    # every good row names the one full-size file; row 7 the bad one
    rows = [
        (i % 50, 100 + i // 50, 1201, f"T{i}.hgt", str(bad if i == 7 else base))
        for i in range(n)
    ]
    cat = spark.createDataFrame(rows, CATALOG_SCHEMA)
    eng = ElevationEngine(spark, catalog=cat, cache_size=512)
    s1 = eng.preload()
    assert s1["tiles_matched"] == n
    assert s1["tiles_loaded"] == n - 1
    assert s1["tiles_failed"] == 1
    s2 = eng.preload()
    assert s2["tiles_already_cached"] == n - 1
    assert s2["tiles_failed"] == 1  # retried, not remembered as warm


def test_preload_ledger_bounded_by_cache_capacity(spark):
    """The already-cached ledger is bounded to cache_size with LRU order,
    approximating the reference's live moka-cache consult: for a catalog
    larger than the cache, a repeat preload reports only ~cache_size tiles
    as already_cached and re-warms the (evicted) rest, instead of claiming
    residency for grids the LRU long since dropped."""
    eng = ElevationEngine(
        spark, grids=fixtures.default_catalog_grids(), cache_size=2
    )
    s1 = eng.preload()
    assert s1["tiles_matched"] == 5
    assert s1["tiles_loaded"] == 5
    s2 = eng.preload()
    assert s2["tiles_already_cached"] == 2  # == cache capacity, not 5
    assert s2["tiles_loaded"] == 3
    assert s2["tiles_failed"] == 0


def test_preload_nonblocking_refuses_concurrent(spark):
    """Two overlapping preload(blocking=False) calls would race each other's
    stats/error slots — the second must refuse while the first runs, and
    succeed after wait_preload drains it."""
    import pytest as _pytest

    eng = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    assert eng.preload(blocking=False) is None
    t = eng._preload_thread
    if t.is_alive():  # still in flight: the guard must trip
        with _pytest.raises(RuntimeError, match="already in flight"):
            eng.preload(blocking=False)
    eng.wait_preload(timeout=120)
    # drained: a new background preload is accepted
    assert eng.preload(blocking=False) is None
    assert eng.wait_preload(timeout=120)["tiles_matched"] == 5


def test_preload_nonblocking(spark):
    """preload(bounds, blocking=False) parity (htg-python/src/lib.rs:297-300):
    returns None immediately, warms on a background thread; stats become
    retrievable after wait_preload(). Queries keep working either way."""
    eng = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    assert eng.preload(blocking=False) is None
    stats = eng.wait_preload(timeout=120)
    assert stats is not None and stats["tiles_matched"] == 5
    assert eng.get_elevation(35.5, 138.5) is not None
    # bounded variant through the same path
    eng2 = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    assert eng2.preload(bounds=(35.2, 138.2, 35.8, 138.8), blocking=False) is None
    assert eng2.wait_preload(timeout=120)["tiles_matched"] == 1


def test_preload_nonblocking_error_propagates(spark):
    """An exception inside the background preload thread must re-raise from
    wait_preload — the non-blocking variant cannot silently lose the error
    its blocking twin would have delivered."""
    import pytest as _pytest

    eng = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    assert eng.preload(bounds="not-a-bbox", blocking=False) is None
    with _pytest.raises(Exception):
        eng.wait_preload(timeout=120)
    # the error is consumed once; the engine stays usable afterwards
    assert eng.preload(blocking=False) is None
    assert eng.wait_preload(timeout=120)["tiles_matched"] == 5


def test_http_get_elevation_shapes(spark):
    """GET /elevation response shapes (api_tests.rs:52-147, 166-189)."""
    from htg_spark import api

    eng = ElevationEngine(spark, grids={(35, 138): fixtures.tile_center(500)})
    # success: integer elevation, lat/lon echoed, NO interpolated key
    status, body = api.elevation_response(eng, 35.5, 138.5)
    assert status == 200
    assert body == {"elevation": 500, "lat": 35.5, "lon": 138.5}
    assert isinstance(body["elevation"], int)
    # interpolate=true: float + interpolated flag
    status, body = api.elevation_response(eng, 35.5, 138.5, interpolate=True)
    assert status == 200 and body["interpolated"] is True
    assert isinstance(body["elevation"], float)
    # out of bounds -> 400 with the reference error message shape
    status, body = api.elevation_response(eng, 91.0, 0.0)
    assert status == 400 and "out of bounds" in body["error"]
    # missing tile -> 404
    status, body = api.elevation_response(eng, 50.0, 50.0)
    assert status == 404 and "No elevation data" in body["error"]
    # void sample -> 404 too (Ok(None) mapping, handlers.rs:152)
    void_eng = ElevationEngine(
        spark, grids={(35, 138): fixtures.tile_center(hgt.VOID_VALUE)}
    )
    status, _ = api.elevation_response(void_eng, 35.5, 138.5)
    assert status == 404
    # missing params -> 400 (api_tests.rs:133-147)
    assert api.elevation_response(eng, lon=138.5)[0] == 400
    assert api.elevation_response(eng, lat=35.5)[0] == 400
    assert api.elevation_response(eng)[0] == 400


def test_http_stats_and_health(spark):
    """GET /stats progression + /health (api_tests.rs:95-130)."""
    from htg_spark import api

    eng = ElevationEngine(spark, grids={(35, 138): fixtures.tile_center(500)})
    status, body = api.stats_response(eng)
    assert status == 200 and body["cache_hits"] == 0 and body["cache_misses"] == 0
    api.elevation_response(eng, 35.5, 138.5)
    _, body = api.stats_response(eng)
    assert body["cache_misses"] == 1
    api.elevation_response(eng, 35.6, 138.6)  # same tile -> hit
    _, body = api.stats_response(eng)
    assert body["cache_hits"] == 1 and body["cache_misses"] == 1

    status, body = api.health_response()
    assert status == 200 and body["status"] == "healthy" and body["version"]


def test_http_geojson_roundtrip(spark):
    """POST /elevation GeoJSON round-trips (api_tests.rs:193-331)."""
    from htg_spark import api

    eng = ElevationEngine(spark, grids={(35, 138): fixtures.tile_center(500)})

    status, body = api.geojson_response(eng, spark, {"type": "Point", "coordinates": [138.5, 35.5]})
    assert status == 200 and body["type"] == "Point"
    assert body["coordinates"] == [138.5, 35.5, 500]

    status, body = api.geojson_response(
        eng, spark,
        {"type": "MultiPoint", "coordinates": [[138.5, 35.5], [138.5, 35.5]]},
    )
    assert status == 200 and len(body["coordinates"]) == 2
    assert all(c[2] == 500 for c in body["coordinates"])

    status, body = api.geojson_response(
        eng, spark,
        {"type": "LineString", "coordinates": [[138.5, 35.5]] * 3},
    )
    assert status == 200 and [c[2] for c in body["coordinates"]] == [500] * 3

    status, body = api.geojson_response(
        eng, spark,
        {"type": "MultiLineString",
         "coordinates": [[[138.5, 35.5], [138.5, 35.5]], [[138.5, 35.5], [138.5, 35.5]]]},
    )
    assert status == 200
    assert all(c[2] == 500 for line in body["coordinates"] for c in line)

    # missing tile -> 200 with z=0 (geojson.rs:166), NOT 404
    status, body = api.geojson_response(eng, spark, {"type": "Point", "coordinates": [50.0, 50.0]})
    assert status == 200 and body["coordinates"][2] == 0

    # out-of-bounds position -> 400 (api_tests.rs:316-331)
    status, body = api.geojson_response(eng, spark, {"type": "Point", "coordinates": [0.0, 91.0]})
    assert status == 400 and "out of bounds" in body["error"]

    # invalid geometry -> 400
    status, _ = api.geojson_response(eng, spark, {"type": "Nope", "coordinates": []})
    assert status == 400


def test_module_level_helpers():
    from htg_spark import VOID_VALUE, filename_to_lat_lon, lat_lon_to_filename

    assert VOID_VALUE == -32768
    assert lat_lon_to_filename(-12.3, -77.1) == "S13W078.hgt"
    assert filename_to_lat_lon("S13W078.hgt") == (-13, -78)
