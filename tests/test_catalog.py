"""Tile catalog ingest tests: binaryFile listing, size-based resolution
detection (a zip's from its central directory), zip extraction at read
time, .hgt-over-zip dedupe, inventory and info aggregations, and the
jobs each catalog source launches (reference: service.rs:626-650,
tile.rs:125-129, info.rs:49-71, list.rs:40-114)."""

import numpy as np
import pytest

from htg_spark import catalog, fixtures, hgt
from htg_spark.engine import ElevationEngine


@pytest.fixture(scope="module")
def tile_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tiles")
    # plain tile
    (d / "N35E138.hgt").write_bytes(hgt.encode_tile(fixtures.tile_corners()))
    # zip-only tile
    zdata = fixtures.zip_tile_bytes("N36E138.hgt", hgt.encode_tile(fixtures.tile_center(1000)))
    (d / "N36E138.hgt.zip").write_bytes(zdata)
    # BOTH plain and zip -> plain must win (service.rs:634-645)
    (d / "N35E139.hgt").write_bytes(hgt.encode_tile(fixtures.tile_interp()))
    (d / "N35E139.hgt.zip").write_bytes(
        fixtures.zip_tile_bytes("N35E139.hgt", hgt.encode_tile(fixtures.tile_center(777)))
    )
    # junk that must be ignored
    (d / "invalid.hgt").write_bytes(b"x" * 100)  # bad size
    (d / "notatile.txt").write_text("nope")
    (d / "X99Q999.hgt").write_bytes(hgt.encode_tile(fixtures.tile_center(1)))  # bad name
    # a truncated zip: unreadable, skipped like any other junk
    zcut = fixtures.zip_tile_bytes("N37E138.hgt", hgt.encode_tile(fixtures.tile_center(5)))
    (d / "N37E138.hgt.zip").write_bytes(zcut[: len(zcut) // 2])
    # a zip whose .hgt entry has a bad size
    (d / "N37E139.hgt.zip").write_bytes(fixtures.zip_tile_bytes("N37E139.hgt", b"x" * 100))
    return str(d)


def test_catalog_from_dir(spark, tile_dir):
    cat = catalog.catalog_from_dir(spark, tile_dir)
    assert cat.schema == catalog.CATALOG_SCHEMA
    got = cat.collect()
    # sorted by filename; junk, the unreadable zip and the bad-size entry
    # are skipped
    assert [r.filename for r in got] == ["N35E138.hgt", "N35E139.hgt", "N36E138.hgt"]
    rows = {(r.tile_lat, r.tile_lon): r for r in got}
    assert set(rows) == {(35, 138), (36, 138), (35, 139)}
    assert all(r.samples == 1201 for r in rows.values())
    # plain .hgt beat the zip: center of N35E139 is the interp tile (0 at center
    # would be 100 at (600,600)); the zip variant had 777
    assert rows[(35, 139)].path.endswith("/N35E139.hgt")
    grid = catalog._read_grid(rows[(35, 139)].path)
    assert grid[600, 600] == 100
    # zip-only tile decoded correctly
    assert rows[(36, 138)].path.endswith("/N36E138.hgt.zip")
    grid2 = catalog._read_grid(rows[(36, 138)].path)
    assert grid2[600, 600] == 1000


def _jobs(spark, body):
    """The Spark jobs ``body()`` launches, counted by job id in one job
    group, and what it returned."""
    sc = spark.sparkContext
    group = f"count-{id(body)}"
    sc.setJobGroup(group, "job count")
    try:
        out = body()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_catalog_job_counts(spark, tile_dir):
    """A catalog is metadata built on the driver: a tile_dir engine plus
    preload() launches exactly one job (the decode check), a grids
    engine's path index none. A grids catalog is a LocalRelation, not a
    Python RDD (no ``Scan ExistingRDD``), and a catalog= frame without
    ``path`` is refused."""
    from htg_spark.profile import absent, faults, plan_nodes, present

    def dir_preload():
        return ElevationEngine(spark, tile_dir=tile_dir).preload()

    n, stats = _jobs(spark, dir_preload)
    assert (n, stats["tiles_matched"], stats["tiles_failed"]) == (1, 3, 0)
    grids = {(35, 138): fixtures.tile_corners(), (36, 138): fixtures.tile_gradient()}
    n, n_tiles = _jobs(spark, lambda: ElevationEngine(spark, grids=grids).n_tiles())
    assert (n, n_tiles) == (0, 2)
    nodes = plan_nodes(catalog.catalog_from_grids(spark, grids))
    assert faults(nodes, [absent("Scan ExistingRDD"), present("LocalTableScan")]) == []
    blobs = catalog.catalog_from_grids(spark, grids).drop("path")
    with pytest.raises(ValueError, match="catalog_from_grids"):
        ElevationEngine(spark, catalog=blobs)


def test_catalog_from_grids_ships_each_file_once(spark, monkeypatch):
    """A spilled tile file is shipped with addFile once per SparkContext:
    a second catalog over the same grids makes no addFile call (each would
    log an "added already" warning per tile), and a new grid is still
    shipped."""
    grids = {(35, 138): fixtures.tile_corners(), (36, 138): fixtures.tile_gradient()}
    catalog.catalog_from_grids(spark, grids)
    sc = spark.sparkContext
    shipped = []
    add_file = sc.addFile

    def spy(path, *args):
        shipped.append(path)
        return add_file(path, *args)

    monkeypatch.setattr(sc, "addFile", spy)
    catalog.catalog_from_grids(spark, grids)
    assert shipped == []
    new = np.random.default_rng(41).integers(0, 3000, size=(1201, 1201)).astype(np.int16)
    cat = catalog.catalog_from_grids(spark, {**grids, (50, 50): new})
    (path,) = shipped
    assert path.endswith(cat.where("tile_lat = 50").first().path)


def test_catalog_dir_engine_end_to_end(spark, tile_dir):
    eng = ElevationEngine(spark, tile_dir=tile_dir)
    assert eng.get_elevation(35.5, 138.5) == 500
    assert eng.get_elevation(36.5, 138.5) == 1000  # from the zip
    assert eng.get_elevation(50.0, 50.0) is None


def test_tile_inventory(spark, tile_dir):
    cat = catalog.catalog_from_dir(spark, tile_dir)
    inv = catalog.tile_inventory(cat).collect()
    assert len(inv) == 1
    assert inv[0].resolution == "SRTM3"
    assert inv[0].tile_count == 3
    assert inv[0].total_bytes == 3 * hgt.SRTM3_SIZE


def test_tile_info(spark):
    cat = catalog.catalog_from_grids(
        spark, {(35, 138): fixtures.tile_void(), (36, 138): fixtures.tile_gradient()}
    )
    info = {(r.tile_lat, r.tile_lon): r for r in catalog.tile_info(cat).collect()}
    v = info[(35, 138)]
    assert v.void_count == 1 and v.max_elev == 400 and v.min_elev == 0
    g = info[(36, 138)]
    # gradient max = (1200 + 1200) % 4000 = 2400
    assert g.void_count == 0 and g.min_elev == 0 and g.max_elev == 2400


def test_tile_batches_flushes_under_the_payload_cap():
    """map_tiles' body, without Spark: a RecordBatch is flushed once its
    binary/string payload (NULLs count 0) reaches flush_bytes, rows carry
    across input batches, and the flushed batches hold exactly the rows
    of the one unflushed batch, in order."""
    import pyarrow as pa

    inp = [
        pa.RecordBatch.from_pydict(
            {"tile_lat": [k, k + 1], "tile_lon": [0, 0], "data": [b"x" * 40] * 2}
        )
        for k in (0, 2)
    ]
    schema = pa.schema(
        [("tile_lat", pa.int32()), ("name", pa.string()), ("strip", pa.binary())]
    )

    def fn(row):
        # payloads 42 then 40 per tile row: 42, 82, 124 -> flush, ...
        yield row["tile_lat"], "ab", row["data"]
        yield row["tile_lat"], None, row["data"]

    whole = list(catalog._tile_batches(iter(inp), fn, schema, 1 << 40))
    flushed = list(catalog._tile_batches(iter(inp), fn, schema, 100))
    assert [b.num_rows for b in whole] == [8]
    assert [b.num_rows for b in flushed] == [3, 3, 2]
    assert all(b.schema == schema for b in flushed)
    assert pa.Table.from_batches(flushed).equals(pa.Table.from_batches(whole))


def test_srtm1_size_detection(spark, tmp_path):
    big = np.zeros((3601, 3601), dtype=np.int16)
    big[1800, 1800] = 1234
    (tmp_path / "N40E100.hgt").write_bytes(hgt.encode_tile(big))
    cat = catalog.catalog_from_dir(spark, str(tmp_path))
    r = cat.collect()[0]
    assert (r.tile_lat, r.tile_lon, r.samples) == (40, 100, 3601)
    eng = ElevationEngine(spark, catalog=cat)
    assert eng.get_elevation(40.5, 100.5) == 1234
