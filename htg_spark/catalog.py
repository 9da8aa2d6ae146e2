"""Tile catalog — the tile file format, ingest, dedupe, and catalog-level
aggregations.

A catalog is a DataFrame of ``CATALOG_SCHEMA``, ``(tile_lat, tile_lon,
samples, filename, path)``: one row per 1-degree tile, metadata only, a
JVM ``LocalRelation`` built on the driver with no Spark job. Every reader
opens ``path`` (raw HGT: big-endian int16, row-major, row 0 = north; or a
``.hgt.zip`` holding one) through the one grid reader, ``_read_grid``, as
the reference opens a tile's file when a query first needs it
(``htg/src/service.rs:546-576``, ``tile.rs:93-138``). Grid caches key a
tile by its file's stamp (``_file_stamp``: path, mtime, size).

A plain ``.hgt`` file is memory-mapped (``tile.rs:66-77`` maps every
tile). A file replaced with ``os.replace`` is always safe: live maps keep
the old inode, and the new stamp maps the new file. A file truncated
between two lookups gets a new stamp, so its next read raises ValueError
naming the size, and the old map is never touched again. One race
remains, as with the reference's ``Mmap``: a file truncated in place
*during* a kernel call that reads its map can raise SIGBUS in that worker.
Sources: in-memory grids (``catalog_from_grids``), each written once to a
file named by the SHA-256 of its bytes; or a directory of ``*.hgt`` /
``*.hgt.zip`` files (``catalog_from_dir``), listed and never read, the
plain ``.hgt`` winning over the zip (``service.rs:626-650``).

Aggregations mirror the CLI's ``info`` (per-tile min/max/void stats,
``htg-cli/src/commands/info.rs:49-71``) and ``list`` (inventory by
resolution, ``htg-cli/src/commands/list.rs:40-114``).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
import weakref
import zipfile
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import cells, hgt

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("tile_lat", T.IntegerType(), False),
        T.StructField("tile_lon", T.IntegerType(), False),
        T.StructField("samples", T.IntegerType(), False),
        T.StructField("filename", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
    ]
)


def _local_path(path: str) -> str:
    """The local filesystem path of a plain path or a ``file:`` URI (a
    binaryFile ``path`` or an ``inputFiles()`` entry, percent-decoded).
    Any other filesystem (hdfs://, s3a://, file://host, ...) raises a clear
    error rather than failing inside open(): on a real cluster plug an
    fsspec/Hadoop reader in here."""
    u = urlparse(path)
    if u.scheme == "":
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return unquote(u.path)
    raise NotImplementedError(
        f"tiles are read from a locally-mounted filesystem in this build, not "
        f"{path!r}: mount the store or plug an fsspec/Hadoop reader into "
        "catalog._local_path"
    )


def _tile_file(path: str) -> str:
    """The local file of the tile path ``path``: a bare file name is a
    spilled tile (``_spill_blob``), resolved with ``SparkFiles.get``; any
    other path goes through ``_local_path``."""
    if os.path.basename(path) == path:
        from pyspark import SparkFiles

        return SparkFiles.get(path)
    return _local_path(path)


def _read_grid(path: str) -> np.ndarray:
    """The decoded grid of the tile file ``path``: every whole-tile product
    and every grid cache decodes a tile here. A plain ``.hgt`` file (a
    spilled one too) is memory-mapped read-only, as the reference maps
    every tile (``tile.rs:66-77``): a miss costs an ``open`` and the
    workers of one host share the page cache's copy of the file. Its size
    is checked first (``hgt.samples_for_size``, the check
    ``hgt.decode_tile`` makes), so a truncated file raises ValueError
    naming its size. A ``.hgt.zip`` is read and its first .hgt entry
    extracted and decoded (service.rs:546-576)."""
    p = _tile_file(path)
    if p.endswith(".hgt.zip"):
        with open(p, "rb") as f:
            return hgt.decode_tile(hgt.extract_hgt_from_zip(f.read()))
    n = hgt.samples_for_size(os.path.getsize(p))
    return np.memmap(p, dtype=">i2", mode="r", shape=(n, n))


def _file_stamp(path: str) -> tuple:
    """The identity of the tile file ``path`` as a grid-cache key: (local
    path, st_mtime_ns, st_size). A file rewritten in place gets a new key,
    so no cache serves bytes the file no longer holds."""
    p = os.path.abspath(_tile_file(path))
    st = os.stat(p)
    return p, st.st_mtime_ns, st.st_size


# The spilled tiles of every in-memory catalog in this process: one
# directory, removed at exit. A file is named by the SHA-256 of its bytes,
# so catalogs of different grids never collide on a name (addFile refuses
# a second file of the same name with other contents) and catalogs of the
# same grids write and ship each tile once.
_SPILL_LOCK = threading.Lock()
_SPILL_DIR: str | None = None
# {SparkContext: names it already ships}: addFile of a shipped name only
# logs an "added already" warning, once per tile per catalog
_SHIPPED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _spill_blob(sc, blob: bytes) -> str:
    """Spill one tile: write ``blob`` to ``<sha256 hex of its bytes>.hgt``
    in ``_SPILL_DIR`` (made on first use) unless that file exists, ship it
    with ``sc.addFile`` unless ``sc`` already ships it, and return the
    name."""
    global _SPILL_DIR
    name = hashlib.sha256(blob).hexdigest() + ".hgt"
    with _SPILL_LOCK:
        if _SPILL_DIR is None:
            _SPILL_DIR = tempfile.mkdtemp(prefix="htg_spill_")
            atexit.register(shutil.rmtree, _SPILL_DIR, ignore_errors=True)
        path = os.path.join(_SPILL_DIR, name)
        if not os.path.exists(path):
            with open(path + ".tmp", "wb") as f:
                f.write(blob)
            os.replace(path + ".tmp", path)
        shipped = _SHIPPED.setdefault(sc, set())
        if name not in shipped:
            sc.addFile(path)
            shipped.add(name)
    return name


def _catalog_frame(spark: SparkSession, rows: list) -> DataFrame:
    """A catalog of ``rows`` (tuples in ``CATALOG_SCHEMA`` order) as a JVM
    LocalRelation: built from an Arrow table, so no Python RDD, and scanned
    as min(rows, parallelism) partitions."""
    schema = to_arrow_schema(CATALOG_SCHEMA)
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    return spark.createDataFrame(table)


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
    *cols, path`` into one map-only ``mapInArrow`` stage that reads and
    decodes each row's tile (``_read_grid``); ``fn(row, grid)``
    gets the row as a dict and the decoded grid, and yields output tuples
    in the order of ``schema``, a DDL string. Output batches are flushed
    under the int32-offset cap (``_FLUSH_BYTES``)."""
    struct = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    flush_bytes = _FLUSH_BYTES  # the driver's value, pickled with the UDF

    def per_tile(row):
        return fn(row, _read_grid(row["path"]))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from _tile_batches(batches, per_tile, arrow_schema, flush_bytes)

    return catalog.select("tile_lat", "tile_lon", *cols, "path").mapInArrow(
        run, schema=struct
    )


def catalog_from_grids(spark: SparkSession, grids: dict) -> DataFrame:
    """Build a catalog from {(tile_lat, tile_lon): int16 grid}: each grid is
    encoded and spilled on the driver, where the grids already are
    (``_spill_blob``: a file that already exists is not rewritten), and
    ``path`` holds the spilled file's name. Keys ascending."""
    sc = spark.sparkContext
    rows = [
        (
            int(tl),
            int(tn),
            int(grid.shape[0]),
            hgt.coords_to_filename(int(tl), int(tn)),
            _spill_blob(sc, hgt.encode_tile(grid)),
        )
        for (tl, tn), grid in sorted(grids.items())
    ]
    return _catalog_frame(spark, rows)


def _dir_entry(uri: str):
    """(tile_lat, tile_lon, samples, filename, from_zip, uri) of one file,
    or None for a file the catalog skips: a bad name, a size that is no
    HGT resolution, or a zip that cannot be read or holds no .hgt entry.
    A zip's size is its first .hgt entry's, read from the central
    directory without decompressing (service.rs:546-576)."""
    name = unquote(uri.rsplit("/", 1)[-1])
    from_zip = name.endswith(".hgt.zip")
    if from_zip:
        name = name[: -len(".zip")]
    elif not name.endswith(".hgt"):
        return None
    key = hgt.filename_to_lat_lon(name)
    if key is None:
        return None
    try:
        local = _local_path(uri)
        if from_zip:
            with zipfile.ZipFile(local) as zf:
                hgts = [n for n in zf.namelist() if n.endswith(".hgt")]
                if not hgts:
                    return None
                size = zf.getinfo(hgts[0]).file_size
        else:
            size = os.path.getsize(local)
        samples = hgt.samples_for_size(size)
    except (OSError, ValueError, zipfile.BadZipFile):
        return None
    return key[0], key[1], samples, name, from_zip, uri


def catalog_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """Catalog a directory of .hgt / .hgt.zip files without reading a tile.

    The ``binaryFile`` listing (``inputFiles()``, no Spark job) -> filename
    parse and size check per file (``_dir_entry``) -> dedupe with .hgt
    preferred over .hgt.zip, then filename ascending (service.rs:626-650)
    -> sorted by filename. A corrupt tile that passes the size check
    surfaces when it is read, as in the reference. Files are sized on the
    driver, so a directory on a non-local filesystem raises
    NotImplementedError (``_local_path``).
    """
    uris = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.hgt*")
        .load(path)
        .inputFiles()
    )
    best = {}
    for tl, tn, samples, name, from_zip, uri in filter(None, map(_dir_entry, uris)):
        rank = (from_zip, name, uri)
        if (tl, tn) not in best or rank < best[(tl, tn)][0]:
            best[(tl, tn)] = (rank, (tl, tn, samples, name, uri))
    rows = sorted((row for _, row in best.values()), key=lambda r: (r[3], r[4]))
    return _catalog_frame(spark, rows)


def tile_info(catalog: DataFrame) -> DataFrame:
    """Per-tile stats: min/max over non-void samples, void count and void %
    (info.rs:49-71). Full-grid NumPy reduce per tile (``map_tiles``) — one
    decode per tile, no per-sample Python."""

    def stats(row, grid):
        flat = grid.ravel()
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
    command (list.rs:40-114). Resolution name and byte count (samples² × 2,
    the raw HGT size) from ``samples``: no tile is read."""
    samples = F.col("samples").cast("long")
    return (
        catalog.select(
            F.when(F.col("samples") == 3601, "SRTM1").otherwise("SRTM3").alias("resolution"),
            (samples * samples * 2).alias("nbytes"),
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
    then a per-tile decode check in ONE distributed pass, each tile read by
    path (``_read_grid``) — the job doubles as the per-tile error
    channel PreloadStats needs (service.rs:707-711 Ok/Err per load_tile).
    Persists nothing. Returns [(tile_lat, tile_lon, ok), ...] where
    ok=False marks a tile whose file failed to read or decode (matched
    count = len of the list).

    `skip_keys`: tiles the caller already knows are warm (the engine's
    preload ledger) — they still count as matched but are NOT re-read (the
    reference's moka-cache consult skips loads for cached tiles,
    service.rs:705-708); the check reports them ok=True."""
    df = catalog
    if boxes:
        pred = None
        for (min_lat, min_lon, max_lat, max_lon) in boxes:
            p = cells.bbox_overlaps_tile(
                F.col("tile_lat"), F.col("tile_lon"), min_lat, min_lon, max_lat, max_lon
            )
            pred = p if pred is None else (pred | p)
        df = catalog.where(pred)
    skip = frozenset(skip_keys or ())

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok = []
            for tl, tn, p in zip(pdf["tile_lat"], pdf["tile_lon"], pdf["path"]):
                if (int(tl), int(tn)) in skip:
                    ok.append(True)
                    continue
                try:
                    _read_grid(p)
                    ok.append(True)
                except Exception:
                    ok.append(False)
            yield pd.DataFrame(
                {"tile_lat": pdf["tile_lat"], "tile_lon": pdf["tile_lon"], "ok": ok}
            )

    # keys + a bool per tile — bounded by the 64,800-cell world, collect-safe
    rows = df.select("tile_lat", "tile_lon", "path").mapInPandas(
        check, schema="tile_lat int, tile_lon int, ok boolean"
    ).collect()
    return [(r.tile_lat, r.tile_lon, bool(r.ok)) for r in rows]
