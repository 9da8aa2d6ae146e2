"""Tile catalog ingest tests: binaryFile scan, size-based resolution
detection, zip extraction, .hgt-over-zip dedupe, inventory and info
aggregations (reference: service.rs:626-650, tile.rs:125-129,
info.rs:49-71, list.rs:40-114)."""

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
    return str(d)


def test_catalog_from_dir(spark, tile_dir):
    cat = catalog.catalog_from_dir(spark, tile_dir)
    rows = {(r.tile_lat, r.tile_lon): r for r in cat.collect()}
    assert set(rows) == {(35, 138), (36, 138), (35, 139)}
    assert all(r.samples == 1201 for r in rows.values())
    # plain .hgt beat the zip: center of N35E139 is the interp tile (0 at center
    # would be 100 at (600,600)); the zip variant had 777
    grid = hgt.decode_tile(bytes(rows[(35, 139)].data))
    assert grid[600, 600] == 100
    # zip-only tile decoded correctly
    grid2 = hgt.decode_tile(bytes(rows[(36, 138)].data))
    assert grid2[600, 600] == 1000


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
