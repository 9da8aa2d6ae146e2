"""Tile catalog — ingest, dedupe, and catalog-level aggregations.

The catalog is a DataFrame with schema
``(tile_lat:int, tile_lon:int, samples:int, filename:string, data:binary)``
— one row per 1-degree tile, grid stored as the raw HGT blob (big-endian
int16, row-major, row 0 = north). Sources:

- in-memory grids (tests / synthetic corpora)
- a directory of ``*.hgt`` / ``*.hgt.zip`` files via ``binaryFile``
  (reference scan: ``htg/src/tile.rs:93-138``; zip fallback
  ``htg/src/service.rs:546-576``; directory scan + dedupe where the plain
  ``.hgt`` wins over the zip: ``service.rs:626-650``)

Aggregations mirror the CLI's ``info`` (per-tile min/max/void stats,
``htg-cli/src/commands/info.rs:49-71``) and ``list`` (inventory by
resolution, ``htg-cli/src/commands/list.rs:40-114``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window

from . import cells, hgt

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("tile_lat", T.IntegerType(), False),
        T.StructField("tile_lon", T.IntegerType(), False),
        T.StructField("samples", T.IntegerType(), False),
        T.StructField("filename", T.StringType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)

# directory-scanned catalogs additionally carry the source URI (binaryFile
# `path`), which the engine's path index reads tiles by; an in-memory
# catalog has no path column, so the engine spills its blobs to files once
# (ElevationEngine._path_index)
PATH_FIELD = T.StructField("path", T.StringType(), True)


# map_tiles flushes an output RecordBatch once its binary/string payload
# reaches this many bytes: Arrow offsets are int32, so a batch past 2^31
# payload bytes silently corrupts, and input batches can be huge because
# maxBytesPerBatch is pinned to Int.MaxValue (see CLAUDE.md)
_FLUSH_BYTES = 1 << 28


def _tile_batches(
    batches: Iterator[pa.RecordBatch], fn, schema: pa.Schema, flush_bytes: int
) -> Iterator[pa.RecordBatch]:
    """The body of ``map_tiles``' UDF: ``fn(row)`` over every row of the
    input batches (``row`` a dict of the row's values), the tuples it yields
    assembled into RecordBatches of ``schema``. A batch is emitted once its
    binary/string payload reaches ``flush_bytes``, and at the end."""
    sized = [
        i for i, f in enumerate(schema)
        if pa.types.is_binary(f.type) or pa.types.is_string(f.type)
    ]
    rows, payload = [], 0

    def flush():
        cols = zip(*rows)
        arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
        return pa.RecordBatch.from_arrays(arrays, schema=schema)

    for batch in batches:
        for i in range(batch.num_rows):
            for out in fn(batch.slice(i, 1).to_pylist()[0]):
                rows.append(out)
                payload += sum(len(out[j]) for j in sized if out[j] is not None)
                if payload >= flush_bytes:
                    yield flush()
                    rows, payload = [], 0
    if rows:
        yield flush()


def map_tiles(catalog: DataFrame, fn, schema: str, *cols: str) -> DataFrame:
    """Run a per-tile NumPy function over every row of ``catalog``: the one
    seam of every whole-tile raster product. Selects ``tile_lat, tile_lon,
    *cols, data`` into one map-only ``mapInArrow`` stage; ``fn(row)`` gets
    each tile row as a dict (``data`` as bytes) and yields output tuples in
    the order of ``schema``, a DDL string. Output batches are flushed under
    the int32-offset cap (``_FLUSH_BYTES``)."""
    struct = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    flush_bytes = _FLUSH_BYTES  # the driver's value, pickled with the UDF

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from _tile_batches(batches, fn, arrow_schema, flush_bytes)

    return catalog.select("tile_lat", "tile_lon", *cols, "data").mapInArrow(
        run, schema=struct
    )


def catalog_from_grids(spark: SparkSession, grids: dict) -> DataFrame:
    """Build a catalog DataFrame from {(tile_lat, tile_lon): int16 grid}."""
    rows = []
    for (tl, tn), grid in sorted(grids.items()):
        rows.append(
            (
                int(tl),
                int(tn),
                int(grid.shape[0]),
                hgt.coords_to_filename(int(tl), int(tn)),
                bytearray(hgt.encode_tile(grid)),
            )
        )
    return spark.createDataFrame(rows, CATALOG_SCHEMA)


def catalog_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory of .hgt / .hgt.zip files into a catalog.

    binaryFile scan -> filename parse -> zip extraction (first .hgt entry,
    service.rs:546-576) -> size validation -> dedupe with .hgt preferred
    over .hgt.zip (service.rs:626-650) -> sorted by filename.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.hgt*")
        .load(path)
        .select(F.col("path"), F.col("content"))
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"tile_lat": [], "tile_lon": [], "samples": [], "filename": [], "data": [], "path": [], "from_zip": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                name = p.rsplit("/", 1)[-1]
                from_zip = name.endswith(".hgt.zip")
                if from_zip:
                    try:
                        content = hgt.extract_hgt_from_zip(content)
                    except ValueError:
                        continue
                    name = name[: -len(".zip")]
                elif not name.endswith(".hgt"):
                    continue
                key = hgt.filename_to_lat_lon(name)
                if key is None:
                    continue
                try:
                    samples = hgt.samples_for_size(len(content))
                except ValueError:
                    continue
                out["tile_lat"].append(key[0])
                out["tile_lon"].append(key[1])
                out["samples"].append(samples)
                out["filename"].append(name)
                out["data"].append(bytes(content))
                out["path"].append(p)
                out["from_zip"].append(from_zip)
            yield pd.DataFrame(out)

    # StructType.add mutates in place — build a fresh copy each call
    schema = T.StructType(
        list(CATALOG_SCHEMA.fields) + [PATH_FIELD, T.StructField("from_zip", T.BooleanType())]
    )
    cat = raw.mapInPandas(extract, schema=schema)
    # dedupe: plain .hgt wins over zip (service.rs:634-645 HashSet ordering)
    w_cols = ["tile_lat", "tile_lon"]
    cat = (
        cat.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(*w_cols).orderBy(F.col("from_zip").asc(), F.col("filename").asc())
            ),
        )
        .where(F.col("rank") == 1)
        .drop("rank", "from_zip")
    )
    return cat.orderBy("filename")


def tile_info(catalog: DataFrame) -> DataFrame:
    """Per-tile stats: min/max over non-void samples, void count and void %
    (info.rs:49-71). Full-grid NumPy reduce per tile (``map_tiles``) — one
    decode per tile, no per-sample Python."""

    def stats(row):
        flat = hgt.decode_tile(row["data"]).ravel()
        void_n = int((flat == hgt.VOID_VALUE).sum())
        valid = flat[flat != hgt.VOID_VALUE]
        yield (
            row["tile_lat"],
            row["tile_lon"],
            row["filename"],
            row["samples"],
            int(valid.min()) if len(valid) else None,
            int(valid.max()) if len(valid) else None,
            void_n,
            void_n / float(len(flat)) * 100.0,
        )

    schema = (
        "tile_lat int, tile_lon int, filename string, samples int, "
        "min_elev int, max_elev int, void_count bigint, void_pct double"
    )
    return map_tiles(catalog, stats, schema, "filename", "samples")


def tile_inventory(catalog: DataFrame) -> DataFrame:
    """Inventory by resolution: tile count + total bytes, like the CLI `list`
    command (list.rs:40-114). resolution name from samples."""
    return (
        catalog.select(
            F.when(F.col("samples") == 3601, "SRTM1").otherwise("SRTM3").alias("resolution"),
            F.length("data").alias("nbytes"),
        )
        .groupBy("resolution")
        .agg(F.count("*").alias("tile_count"), F.sum("nbytes").alias("total_bytes"))
        .orderBy("resolution")
    )


def preload(
    catalog: DataFrame, boxes: list | None = None, skip_keys: set | None = None
):
    """Warm the catalog like SrtmService::preload (service.rs:685-722):
    optional bbox pruning (strict-inequality overlap, service.rs:102-110),
    then a per-tile decode check in ONE distributed pass — the warm job
    doubles as the per-tile error channel PreloadStats needs (service.rs:
    707-711 Ok/Err per load_tile). An unbounded preload persists the
    catalog first, so the check fills the cache that the engine's path
    index (or the spill of a path-less catalog) reads next; a bbox preload
    persists nothing, as nothing reads its filtered frame again. Returns
    [(tile_lat, tile_lon, ok), ...] where ok=False marks a tile whose blob
    failed to decode (matched count = len of the list).

    `skip_keys`: tiles the caller already knows are warm (the engine's
    preload ledger) — they still count as matched but their blobs are NOT
    re-decoded (the reference's moka-cache consult skips loads for cached
    tiles, service.rs:705-708); the check reports them ok=True."""
    if boxes:
        pred = None
        for (min_lat, min_lon, max_lat, max_lon) in boxes:
            p = cells.bbox_overlaps_tile(
                F.col("tile_lat"), F.col("tile_lon"), min_lat, min_lon, max_lat, max_lon
            )
            pred = p if pred is None else (pred | p)
        df = catalog.where(pred)
    else:
        df = catalog.persist()
    skip = frozenset(skip_keys or ())

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok = []
            for tl, tn, d in zip(pdf["tile_lat"], pdf["tile_lon"], pdf["data"]):
                if (int(tl), int(tn)) in skip:
                    ok.append(True)
                    continue
                try:
                    hgt.decode_tile(bytes(d))
                    ok.append(True)
                except Exception:
                    ok.append(False)
            yield pd.DataFrame(
                {"tile_lat": pdf["tile_lat"], "tile_lon": pdf["tile_lon"], "ok": ok}
            )

    # keys + a bool per tile — bounded by the 64,800-cell world, collect-safe
    rows = df.select("tile_lat", "tile_lon", "data").mapInPandas(
        check, schema="tile_lat int, tile_lon int, ok boolean"
    ).collect()
    return [(r.tile_lat, r.tile_lon, bool(r.ok)) for r in rows]
