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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
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
    (info.rs:49-71). Full-grid NumPy reduce inside an Arrow UDF — one decode
    per tile, no per-row Python."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                grid = hgt.decode_tile(bytes(r.data))
                flat = np.asarray(grid).ravel()
                void_n = int((flat == hgt.VOID_VALUE).sum())
                valid = flat[flat != hgt.VOID_VALUE]
                rows.append(
                    {
                        "tile_lat": r.tile_lat,
                        "tile_lon": r.tile_lon,
                        "filename": r.filename,
                        "samples": r.samples,
                        "min_elev": int(valid.min()) if len(valid) else None,
                        "max_elev": int(valid.max()) if len(valid) else None,
                        "void_count": void_n,
                        "void_pct": void_n / float(len(flat)) * 100.0,
                    }
                )
            yield pd.DataFrame(rows)

    schema = (
        "tile_lat int, tile_lon int, filename string, samples int, "
        "min_elev int, max_elev int, void_count bigint, void_pct double"
    )
    return catalog.mapInPandas(stats, schema=schema)


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
    then persist + a per-tile decode check in ONE distributed pass — the
    warm job doubles as the per-tile error channel PreloadStats needs
    (service.rs:707-711 Ok/Err per load_tile). Returns
    (persisted_df, [(tile_lat, tile_lon, ok), ...]) where ok=False marks a
    tile whose blob failed to decode (matched count = len of the list).

    `skip_keys`: tiles the caller already knows are warm (the engine's
    preload ledger) — they still count as matched but their blobs are NOT
    re-decoded (the reference's moka-cache consult skips loads for cached
    tiles, service.rs:705-708); the check reports them ok=True."""
    df = catalog
    if boxes:
        pred = None
        for (min_lat, min_lon, max_lat, max_lon) in boxes:
            p = cells.bbox_overlaps_tile(
                F.col("tile_lat"), F.col("tile_lon"), min_lat, min_lon, max_lat, max_lon
            )
            pred = p if pred is None else (pred | p)
        df = df.where(pred)
    df = df.persist()
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
    return df, [(r.tile_lat, r.tile_lon, bool(r.ok)) for r in rows]
