"""ElevationEngine — the bulk raster<->vector tile-kernel join.

Re-expresses the reference's one join — ``batch_with_tile_grouping``
(``htg/src/service.rs:409-480``: group points by tile key, load each tile
once, apply the kernel, reassemble in input order) — as one Python stage
over two row layouts. The stage takes the kernel as a parameter
(``TileKernel``: NumPy code over a batch of points plus its output struct)
and serves both kernels of this repo: elevation (``kernel_batch``, via
``elevation_join``) and the Horn terrain stencil
(``operators.terrain.terrain_join``). Both joins share one strategy
dispatch (``_tile_join``).

The stage is a scalar-iterator ``arrow_udf`` over ``(lat, lon)``
(``_kernel_udf``) that returns the kernel's columns as a struct — for
elevation ``(tile_lat, tile_lon, in_coverage, tile_found, knn_used,
elevation)``. Spark plans it as ``ArrowEvalPython``, which keeps every
other column of the row in the JVM: only the two float64 arguments
(16 B/row) cross into Python, never the image payload. The kernel groups
its rows by tile (``hgt.tile_groups``) and reads decoded grids from the
Python process's one LRU (``_GridCache``, the distributed analog of the
reference's moka cache, ``service.rs:168``). The UDF runs the kernel over
up to ``_KERNEL_BUFFER_ROWS`` rows at a time, not per Arrow batch, so a task
reads each of its tiles about once even when its rows arrive interleaved
and it holds more tiles than the cache.

One blob source: every tile is read by path, as the reference reads
every tile (``service.rs:546-576``). The catalog is metadata only,
``(tile_lat, tile_lon, samples, filename, path)`` (``catalog``): a
``tile_dir`` catalog names its own files, a ``grids`` one the
content-named files it was spilled to on the driver. The kernel UDF
looks a tile key up in a per-engine broadcast {tile key: path} index
(``_path_index``) and asks the process's grid cache for that path. The
cache keys a grid by its file's stamp (``catalog._file_stamp``: path,
mtime, size) and reads a miss with ``catalog._read_grid``, so engines over
the same files share decoded grids, and a tile file rewritten in place is
read again without any invalidation. A user ``catalog=`` frame must carry
``path`` too.

Two row layouts over that one cache:

- **map-side** (``strategy='broadcast'``; and ``'cogroup'`` / ``'auto'``
  when the catalog holds no more tiles than ``cache_size`` and
  ``spark.python.worker.reuse`` is on, Spark's default): the kernel UDF
  runs on the input partitions. Reused Python workers keep every decoded
  tile across tasks and passes, so grouping rows by tile buys nothing: no
  histogram job, no salting, no shuffle; ``n_salts`` is not read.
- **salted** (``'cogroup'`` / ``'auto'`` otherwise: more tiles than the
  cache, or workers not reused, so each task starts with an empty cache):
  the full input rows are salted with the 2% histogram (hot cells get up
  to ``n_salts`` salts, a row's salt hashed from ``id_col``) and
  repartitioned ONCE on the salted tile key, so each task sees few tiles.
  Tiles never ride the shuffle.

Semantics (exact parity with the reference; FIXTURES.md §6):
- out-of-coverage (|lat|>60, |lon|>180, inclusive bounds valid):
  skipped -> NULL/default (service.rs:456-459)
- missing tile: NULL/default (service.rs:466-469)
- void sample / any-void bilinear corner: NULL/default
  (service.rs:344-347, tile.rs:271-273)
- nearest = Rust f64::round (half away from zero); floor = srtm.py variant
- every input row comes out once with its payload untouched; no layout
  joins by ``id_col``, so duplicate ids stay rows of their own

kNN nearest-tile fallback (new, north rule): in-coverage points whose tile
is absent are assigned the catalog tile with the nearest center (squared
euclidean in degrees, ties by (tile_lat, tile_lon)), coordinates clamped
into that tile's [0,1] frac range — half-open boundary semantics preserved
via the explicit frac-based kernels. It runs in the kernel on both
layouts, against the index's tile keys.

NULL (or NaN) coordinates are out of coverage under both layouts and for
every kernel: lat/lon pass through unchanged, the tile key is NULL and the
kernel's values are NULL (elevation NULL/default; terrain_ok false).
"""

from __future__ import annotations

import functools
import numbers
import threading
from collections import OrderedDict
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import catalog as cat_mod
from . import cells, hgt

# columns the kernel appends after lat/lon, before elevation (in order)
_KERNEL = [
    ("tile_lat", T.IntegerType()),
    ("tile_lon", T.IntegerType()),
    ("in_coverage", T.BooleanType()),
    ("tile_found", T.BooleanType()),
    ("knn_used", T.BooleanType()),
]


# Largest n_salts whose packed group key (ElevationEngine._group_key) is
# exact in int32 for every valid latitude: the top cell (tile_lat 90,
# tile_lon 180) packs to 65,340 * n_salts + salt with salt < n_salts, so
# 65,341 * n_salts - 1 must stay below 2^31.
MAX_SALTS = (1 << 31) // (181 * 361)


def check_n_salts(n_salts) -> int:
    """``n_salts`` as an int in [1, MAX_SALTS], else ValueError. The joins
    that take ``n_salts`` check it up front on every plan, so a bad value
    fails the same way whichever plan would (or would not) read it."""
    if isinstance(n_salts, bool) or not isinstance(n_salts, numbers.Integral):
        raise ValueError(f"n_salts must be an int, got {n_salts!r}")
    if not 1 <= n_salts <= MAX_SALTS:
        raise ValueError(f"n_salts must be in [1, {MAX_SALTS}], got {n_salts}")
    return int(n_salts)


def _python_workers_reused(spark) -> bool:
    """``spark.python.worker.reuse`` (Spark's default: true). Read from the
    context's live conf, as the Python runners read it; ``getConf()``
    would copy every entry over Py4J on each join."""
    reuse = spark.sparkContext._conf.get("spark.python.worker.reuse", "true")
    return reuse.strip().lower() == "true"


class _GridCache:
    """Decoded-grid LRU keyed by tile file (``catalog._file_stamp``) — the
    analog of the reference's moka tile cache (service.rs:168, capacity in
    tiles)."""

    def __init__(self, capacity: int = 64):
        self.capacity = capacity
        self.data: OrderedDict = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, path: str | None):
        """The decoded grid of the tile file ``path``; None for None (a
        tile key the path index lacks). The stamp is taken before the
        read, so a file rewritten meanwhile is read again on its next
        lookup rather than served stale under its new stamp."""
        if path is None:
            return None
        key = cat_mod._file_stamp(path)
        if key in self.data:
            self.hits += 1
            self.data.move_to_end(key)
            return self.data[key]
        self.misses += 1
        grid = self.data[key] = cat_mod._read_grid(path)
        while len(self.data) > self.capacity:
            self.data.popitem(last=False)
        return grid


# The grid cache of this Python process, shared by the joins of every
# engine; a reused worker keeps it across tasks and passes.
_PROCESS_GRIDS = _GridCache()


def _process_grids(capacity: int) -> _GridCache:
    """This process's grid cache, its capacity set to ``capacity`` (the
    calling engine's ``cache_size``). The kernel UDF reaches the cache
    through this module function, which is pickled by reference: a global
    named in the UDF's closure would be pickled by value, a fresh cache per
    task."""
    _PROCESS_GRIDS.capacity = capacity
    return _PROCESS_GRIDS


def assign_nearest_center(
    lat: np.ndarray, lon: np.ndarray, centers: np.ndarray, chunk: int = 4096,
    point_chunk: int = 8192,
) -> np.ndarray:
    """Nearest catalog tile per point: squared euclidean distance to tile
    centers, ties broken by lowest (tile_lat, tile_lon). Returns (n, 2)
    int64 tile keys.

    BOTH axes are chunked so the transient distance matrix is bounded at
    point_chunk x chunk doubles (~256 MB) regardless of Arrow batch size
    and catalog size — a full 14k-tile SRTM catalog against a 64k-row
    batch would otherwise materialize a 7 GB matrix. First-minimum
    semantics are preserved across center chunks by the strict `<` update
    (within a chunk np.argmin already returns the first = lowest sorted
    key)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    order = np.lexsort((centers[:, 1], centers[:, 0]))
    sc = centers[order].astype(np.float64)
    n = len(lat)
    best_i = np.zeros(n, dtype=np.int64)
    for ps in range(0, n, point_chunk):
        pe = min(ps + point_chunk, n)
        plat = lat[ps:pe, None]
        plon = lon[ps:pe, None]
        best_d = np.full(pe - ps, np.inf)
        rows = np.arange(pe - ps)
        for s in range(0, len(sc), chunk):
            blk = sc[s : s + chunk]
            d = (plat - (blk[:, 0] + 0.5)) ** 2 + (plon - (blk[:, 1] + 0.5)) ** 2
            bi = np.argmin(d, axis=1)
            bd = d[rows, bi]
            upd = bd < best_d
            best_d[upd] = bd[upd]
            best_i[ps:pe][upd] = bi[upd] + s
    return sc[best_i].astype(np.int64)


def _elevations(grid: np.ndarray, row_pos, col_pos, mode: str) -> np.ndarray:
    """Float64 elevations of ``grid`` at continuous grid positions, NaN
    where void: bilinear, or nearest/floor (``mode``) with the void
    sentinel mapped to NaN."""
    if mode == "bilinear":
        return hgt.lookup_bilinear_pos(grid, row_pos, col_pos)[0]
    vals = hgt.lookup_nearest_pos(grid, row_pos, col_pos, rounding=mode)
    return np.where(vals == hgt.VOID_VALUE, np.nan, vals.astype(np.float64))


def kernel_batch(
    lat: np.ndarray,
    lon: np.ndarray,
    get_grid,
    mode: str,
    knn_centers: np.ndarray | None = None,
):
    """Vectorized batch kernel over arbitrary points (NumPy only).

    get_grid((tile_lat, tile_lon)) -> int16 grid or None.
    Returns dict of column arrays: elevation (float64; NaN == NULL),
    tile_lat/tile_lon (assigned tile after any kNN fallback), in_coverage,
    tile_found, knn_used.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = len(lat)
    elev = np.full(n, np.nan, dtype=np.float64)
    in_cov = np.asarray(hgt.is_valid_srtm_coord(lat, lon))
    klat, klon = hgt.tile_key(lat, lon)
    found = np.zeros(n, dtype=bool)
    knn_used = np.zeros(n, dtype=bool)

    idx = np.nonzero(in_cov)[0]
    missing_pts: list[np.ndarray] = []
    for key, pos in hgt.tile_groups(klat[idx], klon[idx]):
        gi = idx[pos]
        grid = get_grid(key)
        if grid is None:
            missing_pts.append(gi)
            continue
        found[gi] = True
        row_pos, col_pos = hgt.grid_position(lat[gi], lon[gi], grid.shape[0])
        elev[gi] = _elevations(grid, row_pos, col_pos, mode)

    # kNN nearest-tile fallback for in-coverage points with no tile (J6)
    if missing_pts and knn_centers is not None and len(knn_centers):
        mi = np.concatenate(missing_pts)
        tsel = assign_nearest_center(lat[mi], lon[mi], knn_centers)
        klat[mi] = tsel[:, 0]
        klon[mi] = tsel[:, 1]
        knn_used[mi] = True
        # clamp coordinates into the assigned tile -> frac in [0, 1]
        fr_lat = np.clip(lat[mi] - tsel[:, 0], 0.0, 1.0)
        fr_lon = np.clip(lon[mi] - tsel[:, 1], 0.0, 1.0)
        for key, sub in hgt.tile_groups(tsel[:, 0], tsel[:, 1]):
            grid = get_grid(key)
            if grid is None:  # cannot happen: centers come from catalog
                continue
            gi = mi[sub]
            found[gi] = True
            nm1 = grid.shape[0] - 1.0
            elev[gi] = _elevations(grid, (1.0 - fr_lat[sub]) * nm1, fr_lon[sub] * nm1, mode)

    return {
        "lat": lat,
        "lon": lon,
        "tile_lat": klat.astype(np.int32),
        "tile_lon": klon.astype(np.int32),
        "in_coverage": in_cov,
        "tile_found": found,
        "knn_used": knn_used,
        "elevation": elev,
    }


class TileKernel(NamedTuple):
    """A tile kernel, the one parameter of the join plans: NumPy code over
    the points of a batch plus its output struct.

    ``columns(lat, lon, get_grid)`` takes float64 coordinate arrays (NaN
    for a NULL coordinate) and ``get_grid((tile_lat, tile_lon)) -> int16
    grid or None``, and returns one NumPy array per field of ``fields`` (a
    masked array marks NULL entries). ``fields`` is the struct the plans
    append after lat/lon; it starts with the tile key (tile_lat,
    tile_lon), which every plan nulls where a coordinate is NaN.
    ``knn``: the kernel falls back to the nearest catalog tile; the plans
    bind the tile centres with ``with_centers``."""

    columns: Callable
    fields: tuple
    knn: bool = False

    @property
    def names(self) -> list[str]:
        return [n for n, _t in self.fields]

    def struct(self) -> T.StructType:
        return T.StructType([T.StructField(n, t) for n, t in self.fields])

    def with_centers(self, centers: np.ndarray) -> "TileKernel":
        """This kNN kernel with its fallback tile centres bound."""
        return self._replace(columns=functools.partial(self.columns, knn_centers=centers))


def _elevation_columns(lat, lon, get_grid, *, mode: str, knn_centers=None) -> dict:
    res = kernel_batch(lat, lon, get_grid, mode, knn_centers=knn_centers)
    e = res["elevation"]
    void = np.isnan(e)
    if mode != "bilinear":
        e = np.where(void, 0, e).astype(np.int32)
    res["elevation"] = np.ma.masked_array(e, void)
    return res


def _elevation_kernel(mode: str, knn: bool = False) -> TileKernel:
    """``kernel_batch`` as a tile kernel: ``_KERNEL`` + elevation (Int32
    for nearest/floor, Double for bilinear; NULL where NaN)."""
    elev = T.DoubleType() if mode == "bilinear" else T.IntegerType()
    fields = (*_KERNEL, ("elevation", elev))
    return TileKernel(functools.partial(_elevation_columns, mode=mode), fields, knn)


def _kernel_arrays(
    lat: pa.Array, lon: pa.Array, kernel: TileKernel, get_grid
) -> list[pa.Array]:
    """``kernel`` over two Arrow float64 columns, returned as the Arrow
    arrays of its fields. A NULL (or NaN) coordinate reads as NaN: out of
    coverage, with a NULL tile key."""
    lat_np = lat.to_numpy(zero_copy_only=False)
    lon_np = lon.to_numpy(zero_copy_only=False)
    cols = kernel.columns(lat_np, lon_np, get_grid)
    no_key = np.isnan(lat_np) | np.isnan(lon_np)
    for k in ("tile_lat", "tile_lon"):
        cols[k] = np.ma.masked_array(cols[k], no_key)
    return [pa.array(cols[n]) for n in kernel.names]


# Rows the kernel UDF gathers before it runs the kernel (8 default Arrow
# batches). A shuffled partition reaches the UDF with its tiles
# interleaved, so every batch touches every tile of the task; run per
# batch, a task holding more tiles than the grid cache would re-read and
# re-decode each tile on every batch. Over the buffer each tile is read
# once, and _kernel_partitions sizes tasks to ~400k rows, so a task is
# usually one buffer. A Spark sort on the tile key cannot do this: the
# optimizer drops a sortWithinPartitions under an aggregate or join
# consumer. Cost: a full buffer peaks at ~40 MB of NumPy + Arrow arrays in
# the Python worker (measured, bilinear elevation), and the JVM queues the
# buffered rows (spillable) until their results return.
_KERNEL_BUFFER_ROWS = 1 << 19


def _kernel_batches(
    batches: Iterator[tuple[pa.Array, pa.Array]],
    get_grid,
    kernel: TileKernel,
    buffer_rows: int = _KERNEL_BUFFER_ROWS,
) -> Iterator[pa.StructArray]:
    """The kernel UDF's body: the kernel's fields as one struct array per
    input (lat, lon) batch, computed over buffers of up to ``buffer_rows``
    rows (see ``_KERNEL_BUFFER_ROWS``)."""

    def run(buf):
        lat = pa.concat_arrays([b[0] for b in buf])
        lon = pa.concat_arrays([b[1] for b in buf])
        arrays = _kernel_arrays(lat, lon, kernel, get_grid)
        out = pa.StructArray.from_arrays(arrays, names=kernel.names)
        start = 0
        for b_lat, _b_lon in buf:
            yield out.slice(start, len(b_lat))
            start += len(b_lat)

    buf, n = [], 0
    for lat, lon in batches:
        buf.append((lat, lon))
        n += len(lat)
        if n >= buffer_rows:
            yield from run(buf)
            buf, n = [], 0
    if buf:
        yield from run(buf)


def _kernel_udf(paths, kernel: TileKernel, cache_cap: int):
    """The one Python stage of both row layouts: a scalar-iterator
    ``arrow_udf`` over (lat, lon) returning the kernel's fields as a
    struct. Spark plans it as ArrowEvalPython, which keeps every other
    column in the JVM, so only the two float64 arguments cross into Python
    and the payload never counts toward an Arrow batch. A tile key's path
    comes from the broadcast {tile key: path} index ``paths``; its grid
    from the process's grid cache, at capacity ``cache_cap``."""
    buffer_rows = _KERNEL_BUFFER_ROWS  # the driver's value, pickled with the UDF

    def tile_kernel(
        batches: Iterator[tuple[pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        cache = _process_grids(cache_cap)
        index = paths.value

        def get_grid(key):
            return cache.get(index.get(key))

        yield from _kernel_batches(batches, get_grid, kernel, buffer_rows)

    return F.arrow_udf(tile_kernel, kernel.struct())


def _by_tile_key(items) -> dict:
    """{tile key: value} over (tile key, value) pairs; ValueError naming
    the first tile key seen twice."""
    out = {}
    for key, value in items:
        if key in out:
            raise ValueError(f"the catalog holds more than one row for tile key {key}")
        out[key] = value
    return out


def _quoted(name: str):
    return F.col("`" + name.replace("`", "``") + "`")


def _append_kernel(frame: DataFrame, kernel_udf, names: list[str]) -> DataFrame:
    """frame minus (lat, lon), then lat, lon (as double) and the kernel's
    fields ``names`` — the output shape of every plan."""
    keep = [_quoted(c) for c in frame.columns if c not in ("lat", "lon")]
    lat = F.col("lat").cast("double")
    lon = F.col("lon").cast("double")
    return frame.select(
        *keep, lat.alias("lat"), lon.alias("lon"), kernel_udf(lat, lon).alias("_k")
    ).select(*keep, "lat", "lon", *[F.col("_k")[n].alias(n) for n in names])


class ElevationEngine:
    """DataFrame-level elevation service — the `SrtmService` analog
    (API parity table: SURVEY.md §2.8; htg-python/src/lib.rs:110-316)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: DataFrame | None = None,
        grids: dict | None = None,
        tile_dir: str | None = None,
        cache_size: int = 64,
    ):
        self.spark = spark
        self.cache_size = cache_size
        if catalog is not None:
            if "path" not in catalog.columns:
                raise ValueError(
                    "a catalog= frame needs a `path` column naming each tile's "
                    "file; build one with catalog_from_grids or catalog_from_dir"
                )
            self.catalog = catalog
        elif grids is not None:
            self.catalog = cat_mod.catalog_from_grids(spark, grids)
        elif tile_dir is not None:
            self.catalog = cat_mod.catalog_from_dir(spark, tile_dir)
        else:
            raise ValueError("one of catalog / grids / tile_dir is required")
        # broadcast {tile key: path} (_path_index)
        self._paths = None
        # tiles warmed by previous preload() calls — the driver-side ledger
        # behind PreloadStats.tiles_already_cached (service.rs:705-708).
        # The reference consults the LIVE moka cache, whose capacity
        # eviction means already_cached reflects actual residency; a plain
        # unbounded set would keep reporting tiles long since LRU-evicted.
        # Approximate the moka behavior by bounding the ledger to the
        # decoded-grid cache capacity with the same LRU order (dict keeps
        # insertion order; preload() refreshes touched keys to the back and
        # evicts from the front past cache_size). Evicted keys are simply
        # re-checked/re-warmed by the next preload — exactly what the
        # reference does after a capacity eviction.
        self._preloaded_keys: dict[tuple[int, int], None] = {}
        # serializes the lazy one-time catalog work (the path index) against
        # preload(blocking=False)'s background thread — without it two
        # threads can each collect the catalog and leak one broadcast
        self._prep_lock = threading.Lock()
        # the point API's decoded-grid cache (cache_stats reads its counters)
        self._driver_cache = _GridCache(cache_size)
        # preload(blocking=False): the background thread, and what it
        # returned or raised, for wait_preload
        self._preload_thread = None
        self._preload_stats = None
        self._preload_error: BaseException | None = None
        # the Observation of the last elevation_join(observe=True)
        self.last_observation = None

    # -- srtm_rs-parity point API (SURVEY.md §2.8; htg-python/src/lib.rs) ----
    #
    # Single-point and small-batch lookups run driver-side, reading tiles
    # through the same path index as the joins (launching a cluster job per
    # point would be absurd); they share the exact same NumPy kernels as
    # the distributed path, so semantics are identical by construction.

    def _local_get_grid(self, key):
        return self._driver_cache.get(self._path_index().value.get(key))

    def get_elevation(self, lat: float, lon: float, rounding: str = "nearest"):
        """Optional[int] — void/missing -> None; out-of-coverage raises
        (single-point strict contract, service.rs:485-490; lib.rs:132-159)."""
        if not bool(hgt.is_valid_srtm_coord(lat, lon)):
            raise ValueError(f"coordinates out of SRTM coverage: ({lat}, {lon})")
        res = kernel_batch(
            np.array([lat]), np.array([lon]), self._local_get_grid, rounding
        )
        e = res["elevation"][0]
        return None if np.isnan(e) else int(e)

    def get_elevation_floor(self, lat: float, lon: float):
        return self.get_elevation(lat, lon, rounding="floor")

    def get_elevation_interpolated(self, lat: float, lon: float):
        """Optional[float] (lib.rs:237-246)."""
        if not bool(hgt.is_valid_srtm_coord(lat, lon)):
            raise ValueError(f"coordinates out of SRTM coverage: ({lat}, {lon})")
        res = kernel_batch(
            np.array([lat]), np.array([lon]), self._local_get_grid, "bilinear"
        )
        e = res["elevation"][0]
        return None if np.isnan(e) else float(e)

    def get_elevations_batch(self, coords, default: int = 0, rounding: str = "nearest"):
        """Order-preserving list[int]; ooc/missing/void -> default
        (lib.rs:175-201, service.rs:409-480)."""
        if not coords:
            return []
        arr = np.asarray(coords, dtype=np.float64)
        res = kernel_batch(arr[:, 0], arr[:, 1], self._local_get_grid, rounding)
        e = res["elevation"]
        return [int(default) if np.isnan(v) else int(v) for v in e]

    def get_elevations_batch_interpolated(self, coords, default: float = 0.0):
        if not coords:
            return []
        arr = np.asarray(coords, dtype=np.float64)
        res = kernel_batch(arr[:, 0], arr[:, 1], self._local_get_grid, "bilinear")
        return [float(default) if np.isnan(v) else float(v) for v in res["elevation"]]

    def preload(self, bounds=None, blocking: bool = True):
        """Warm the catalog (service.rs:685-722): a per-tile decode check by
        path, optional bbox pruning (``catalog.preload``, one Spark job),
        then the path index (no job on a ``tile_dir`` or ``grids``
        catalog). Returns the full PreloadStats dict
        (service.rs:114-126): tiles_matched / tiles_loaded /
        tiles_already_cached / tiles_failed / elapsed_ms. A repeat preload
        reports already_cached=matched, loaded=0 (service.rs preload tests:
        test_preload_already_cached); a tile whose file fails to read or
        decode counts in tiles_failed and will be retried by the next
        preload.

        blocking=False reproduces the reference's background-thread variant
        (htg-python/src/lib.rs:297-300): the warm-up runs on a daemon
        thread and this call returns None immediately; wait_preload()
        joins the thread and returns the stats. Only one background preload
        may be in flight at a time — a second call while one is running
        raises (two unguarded threads would race each other's stats)."""
        import time as _time

        if not blocking:
            # InheritableThread propagates the py4j auth/session context
            # (plain threading.Thread can race SparkContext shutdown)
            from pyspark import InheritableThread

            def _bg():
                try:
                    self._preload_stats = self.preload(bounds, blocking=True)
                except BaseException as e:  # surfaced by wait_preload
                    self._preload_error = e

            # check-and-start under the lock: two concurrent non-blocking
            # callers must not both pass the is_alive() check and spawn
            # racing threads (the exact race the guard exists to prevent)
            with self._prep_lock:
                prev = self._preload_thread
                if prev is not None and prev.is_alive():
                    raise RuntimeError(
                        "a background preload is already in flight; call "
                        "wait_preload() before starting another"
                    )
                self._preload_stats = None
                self._preload_error = None
                t = InheritableThread(target=_bg, daemon=True)
                self._preload_thread = t
                t.start()
            return None

        t0 = _time.perf_counter()
        boxes = None
        if bounds is not None:
            boxes = bounds if isinstance(bounds, list) else [bounds]
        # warm only: tiles outside the boxes stay queryable (the reference's
        # preload fills the cache, it never narrows coverage). Tiles the
        # ledger already holds skip the decode re-check entirely.
        with self._prep_lock:
            known_warm = set(self._preloaded_keys)
        tile_checks = cat_mod.preload(self.catalog, boxes, skip_keys=known_warm)
        loaded = already = failed = 0
        with self._prep_lock:
            warmed_keys = self._preloaded_keys
            for tl, tn, ok in tile_checks:
                if (tl, tn) in warmed_keys:
                    already += 1
                    # touch refreshes LRU position, like a moka cache hit
                    warmed_keys[(tl, tn)] = warmed_keys.pop((tl, tn))
                elif ok:
                    loaded += 1
                    warmed_keys[(tl, tn)] = None
                else:
                    failed += 1
            # bound the ledger to the decoded-grid cache capacity so
            # already_cached approximates actual residency (see __init__)
            while len(warmed_keys) > self.cache_size:
                warmed_keys.pop(next(iter(warmed_keys)))
        # the joins' one-time catalog prep
        self._path_index()
        return {
            "tiles_matched": len(tile_checks),
            "tiles_loaded": loaded,
            "tiles_already_cached": already,
            "tiles_failed": failed,
            "elapsed_ms": round((_time.perf_counter() - t0) * 1000, 1),
        }

    def wait_preload(self, timeout: float | None = None):
        """Join a preload(blocking=False) thread; returns its stats dict
        (None if no background preload ran or it has not finished). An
        exception raised inside the background thread re-raises HERE — the
        non-blocking variant must not silently lose the error signal its
        blocking twin would have delivered."""
        t = self._preload_thread
        if t is not None:
            t.join(timeout)
        err = self._preload_error
        if err is not None and not (t is not None and t.is_alive()):
            self._preload_error = None
            raise err
        return self._preload_stats

    def cache_stats(self):
        """Driver-side decoded-grid cache counters (CacheStats analog,
        service.rs:41-63)."""
        c = self._driver_cache
        total = c.hits + c.misses
        return {
            "entry_count": len(c.data),
            "hit_count": c.hits,
            "miss_count": c.misses,
            "hit_rate": (c.hits / total) if total else 0.0,
        }

    def clear_cache(self):
        """Empty the point API's decoded-grid cache (service.rs:617; the
        reference KEEPS the cumulative hit/miss counters — test_clear_cache
        asserts miss_count continues at 2 after a clear). The preload
        ledger resets too: after a clear, the next preload() re-loads every
        tile rather than reporting it already_cached (matching the
        reference, where preload consults the just-emptied moka cache).
        Executor grid caches need no invalidation: they key a grid by its
        file's stamp, so a rewritten tile file is read again anyway."""
        self._driver_cache.data.clear()
        with self._prep_lock:
            self._preloaded_keys.clear()

    def cache_capacity(self) -> int:
        """service.rs:1174-1180."""
        return self.cache_size

    @classmethod
    def from_env(cls, spark: SparkSession) -> "ElevationEngine":
        """Construct from the reference's environment contract
        (service.rs:773-822): HTG_DATA_DIR (required — error if unset),
        HTG_CACHE_SIZE (default 100). HTG_PRELOAD bounds parsing lives in
        operators.geo_misc.parse_preload_bounds (htg-service main.rs)."""
        import os

        data_dir = os.environ.get("HTG_DATA_DIR")
        if not data_dir:
            raise ValueError(
                "HTG_DATA_DIR environment variable is not set (service.rs:817-822)"
            )
        cache_size = int(os.environ.get("HTG_CACHE_SIZE", "100"))
        return cls(spark, tile_dir=data_dir, cache_size=cache_size)

    # -- catalog helpers ---------------------------------------------------

    def n_tiles(self) -> int:
        return len(self._path_index().value)

    def _path_index(self):
        """Broadcast {(tile_lat, tile_lon): path} over the catalog, built
        once per engine; its keys are the kNN centres. Only keys and paths
        are collected, so it broadcasts at any catalog size; a ``tile_dir``
        or ``grids`` catalog is a LocalRelation, collected with no job.

        The index names one file per tile, so a catalog with two rows for
        one tile key raises ValueError naming the key."""
        if self._paths is None:
            with self._prep_lock:
                if self._paths is None:
                    rows = self.catalog.select("tile_lat", "tile_lon", "path").collect()
                    paths = _by_tile_key(
                        ((r.tile_lat, r.tile_lon), str(r.path)) for r in rows
                    )
                    self._paths = self.spark.sparkContext.broadcast(paths)
        return self._paths

    def tile_centers(self) -> np.ndarray:
        """(n, 2) int64 catalog tile keys — the kNN centres, taken from the
        path index's keys."""
        return np.array(list(self._path_index().value), dtype=np.int64).reshape(-1, 2)

    # -- the join ------------------------------------------------------------

    def elevation_join(
        self,
        points: DataFrame,
        mode: str = "nearest",
        strategy: str = "auto",
        id_col: str = "image_id",
        default=None,
        knn_fallback: bool = False,
        n_salts: int = 8,
        strict: bool = False,
        observe: bool = False,
    ) -> DataFrame:
        """Append elevation columns to `points`.

        points must carry either (lat, lon) columns or a `phash` column (the
        geotag derivation is then done JVM-side from phash). Appended:
        lat, lon, tile_lat, tile_lon, in_coverage, tile_found, knn_used,
        elevation (Int32 for nearest/floor, Double for bilinear; NULL for
        void/missing/out-of-coverage unless `default` is given).

        strict=True replicates the single-point API contract: raise on any
        out-of-coverage row (service.rs:485-490) instead of defaulting.

        strategy picks the row layout (module docstring). Every plan reads
        tiles by path through the executor grid cache, and all return the
        same rows:

        - 'broadcast': map-side, the kernel UDF on the input partitions,
          no shuffle. (The name is kept from the plan that broadcast the
          tile blobs.)
        - 'cogroup' and 'auto' (default): map-side too when the catalog
          holds no more tiles than ``cache_size`` and
          ``spark.python.worker.reuse`` is on: every reused Python worker
          then keeps every tile in its grid cache. Otherwise the input rows
          are salted by tile (salt hashed from ``id_col``, which must then
          exist) and shuffled once, so each task sees few tiles. Tiles
          never enter a shuffle: at 100 TB of rasters that is the plan.

        n_salts: the most salt buckets a hot cell fans out to, an int in
        [1, MAX_SALTS]; checked on every plan, read only by the salted
        layout.

        Eager Spark jobs (launched while the plan is built, before any
        action on the result):

        - strict=True: 1 job per call (the out-of-coverage check).
        - the salted layout: the salt histogram (``_salt_table``), 2 jobs
          per call.
        - once per engine, then cached: the path index (``_path_index``),
          which collects the catalog's keys and paths: no job for a
          ``tile_dir`` or ``grids`` catalog (a LocalRelation), whatever a
          user ``catalog=`` frame's plan takes otherwise.

        The map-side layout launches none after the engine's first join.
        """
        if mode not in ("nearest", "floor", "bilinear"):
            raise ValueError(f"bad mode {mode!r}")
        n_salts = check_n_salts(n_salts)
        pts = points
        if "lat" not in pts.columns or "lon" not in pts.columns:
            if "phash" not in pts.columns:
                raise ValueError("points need (lat, lon) or phash")
            pts = pts.withColumn("lat", cells.lat_from_phash(F.col("phash"))).withColumn(
                "lon", cells.lon_from_phash(F.col("phash"))
            )

        if strict:
            bad = pts.where(~cells.in_coverage(F.col("lat"), F.col("lon"))).limit(1).count()
            if bad:
                raise ValueError("coordinates out of SRTM coverage (strict mode)")

        kernel = _elevation_kernel(mode, knn_fallback)
        out = self._tile_join(pts, kernel, strategy, id_col, n_salts)

        if observe:
            # observed before `default` fills the NULLs, so void_hits
            # counts voids with or without a default
            from pyspark.sql import Observation

            obs = Observation("elevation_join")
            out = out.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum((~F.col("in_coverage")).cast("long")).alias("out_of_coverage"),
                F.sum(
                    (F.col("in_coverage") & ~F.col("tile_found")).cast("long")
                ).alias("missing_tile"),
                F.sum(F.col("knn_used").cast("long")).alias("knn_fallbacks"),
                F.sum(
                    (F.col("tile_found") & F.col("elevation").isNull()).cast("long")
                ).alias("void_hits"),
            )
            self.last_observation = obs
        if default is not None:
            out = out.withColumn(
                "elevation", F.coalesce(F.col("elevation"), F.lit(default))
            )
        return out

    def _tile_join(
        self,
        pts: DataFrame,
        kernel: TileKernel,
        strategy: str,
        id_col: str,
        n_salts: int,
    ) -> DataFrame:
        """The strategy dispatch shared by every tile-kernel join
        (``elevation_join``, ``terrain.terrain_join``): runs ``kernel`` on
        one of the two row layouts, tiles read by path through the executor
        grid cache. ``pts`` carries (lat, lon); ``n_salts`` is already
        checked.

        'broadcast' runs map-side. 'cogroup' and 'auto' run map-side when
        the whole catalog fits the grid cache and Python workers are
        reused: a worker then keeps every tile across tasks and passes, and
        ``n_salts`` is not read. Otherwise the FULL input rows are salted
        by cell and repartitioned once on the salted tile key, so each task
        sees few tiles: with reuse off every task starts with an empty
        cache."""
        if strategy not in ("auto", "broadcast", "cogroup"):
            raise ValueError(f"bad strategy {strategy!r}")
        paths = self._path_index()
        rows = pts
        if strategy != "broadcast" and not (
            len(paths.value) <= self.cache_size and _python_workers_reused(pts.sparkSession)
        ):
            if id_col not in pts.columns:
                raise ValueError(f"the salted layout needs an id column {id_col!r}")
            keyed, est_rows = self._salted_key(pts, id_col, n_salts)
            n_parts = self._kernel_partitions(pts.sparkSession, est_rows)
            rows = keyed.repartition(n_parts, "_gk").drop("_gk")
        if kernel.knn:
            kernel = kernel.with_centers(self.tile_centers())
        udf = _kernel_udf(paths, kernel, self.cache_size)
        return _append_kernel(rows, udf, kernel.names)

    # -- the salted layout -----------------------------------------------------

    # histogram pre-pass sample rate: k_salt needs only order-of-magnitude
    # per-cell counts (it is clamped to [1, n_salts] and the target is a
    # RATIO of sampled counts, so the 1/f scale factors cancel) — a 2%
    # sample makes the pre-pass ~free instead of a second full scan of the
    # points table per join call. Cells the sample misses default to
    # k_salt=1 via the coalesce in _salt, which is exactly
    # right: a cell too cold to appear in a 2% sample is not a skew cell.
    HIST_SAMPLE_FRACTION = 0.02

    def _salt_table(self, keys: DataFrame, n_salts: int) -> tuple[DataFrame, float]:
        """Adaptive salt counts from the histogram pre-pass over `keys`
        (tile_lat, tile_lon per input row): returns (salt table
        (tile_lat int, tile_lon int, k_salt int), estimated input rows).
        The pre-pass counts a HIST_SAMPLE_FRACTION sample per 1-degree cell
        (output bounded by 64,800 cells — safe to collect; this collect is
        the plan's one intended eager job) and gives each cell
        k(cell) = clamp(ceil(count / target_rows_per_salt), 1, n_salts)
        salt buckets, so only hot cells fan out. The table is built from a
        pyarrow.Table: a JVM LocalRelation, where createDataFrame(list)
        would parallelize a Python RDD and run a Python-worker job on every
        use just to broadcast it."""
        import math

        hist = (
            keys.sample(fraction=self.HIST_SAMPLE_FRACTION, seed=42)
            .groupBy("tile_lat", "tile_lon")
            .count()
            .collect()
        )
        # scale sampled counts to FULL-scale estimates before any absolute
        # threshold: the 1.0-row floor on `target` must bind on estimated
        # real counts, not on 2% sampled counts (a uniform 300-row input
        # would otherwise read target=1 sampled row and salt everything)
        f = self.HIST_SAMPLE_FRACTION
        est = [(r["tile_lat"], r["tile_lon"], r["count"] / f) for r in hist]
        total_rows = sum(c for _, _, c in est) or 1
        slots = keys.sparkSession.sparkContext.defaultParallelism
        target = max(total_rows / max(slots * 2, 1), 1.0)
        # salt only cells ABOVE 2x the per-slot target: a cell under 2x is
        # ordinary partition imbalance, not skew, and the 2x guard band also
        # absorbs the sampling noise of borderline-cold cells (a cell whose
        # sampled count is within noise of the target must not flap into
        # k_salt=2 and needlessly split its rows)
        k_salt = [
            1 if c <= 2 * target else int(min(math.ceil(c / target), n_salts))
            for _, _, c in est
        ]
        table = pa.table(
            {
                "tile_lat": pa.array([e[0] for e in est], pa.int32()),
                "tile_lon": pa.array([e[1] for e in est], pa.int32()),
                "k_salt": pa.array(k_salt, pa.int32()),
            }
        )
        return keys.sparkSession.createDataFrame(table), total_rows

    @staticmethod
    def _kernel_partitions(spark: SparkSession, est_rows: float) -> int:
        """Explicit partition count of the salted layout's kernel stage, sized
        from the histogram's row estimate: AQE's byte-based coalescing
        merges the kernel stage below core count (measured 23 tasks on 32
        cores at 48M rows) and straggler groups serialize; conversely a
        count pinned high wastes per-task Arrow setup at small volume.
        ~400k rows per task measured best across both bench volumes (48M
        rows: 32 parts 8.0s / 64 parts 6.1s / 128 parts 4.7s; 4.8M rows:
        32 parts 2.2s / 64 parts 2.6s, interleaved minima), floored at the
        configured shuffle parallelism and capped against task explosion."""
        floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return min(4096, max(floor, int(est_rows // 400_000)))

    @staticmethod
    def _salt(id_col: str, k_salt):
        """Row salt in [0, k_salt): xxhash64 of the row id, so a recompute
        puts every row in the same bucket (cells missing from the salt
        table get k_salt = 1)."""
        k = F.coalesce(k_salt, F.lit(1))
        return F.pmod(F.xxhash64(_quoted(id_col)), k).cast("int")

    @staticmethod
    def _group_key(tile_lat, tile_lon, salt, n_salts: int):
        """ONE packed int key instead of (tile_lat, tile_lon, salt):
        mixed-radix gk = ((tile_lat+90) * 361 + (tile_lon+180)) * n_salts
        + salt — collision-free (salt < n_salts, lon+180 < 361), exact in
        int32 for n_salts up to MAX_SALTS, and 8 fewer bytes on every row
        through the exchange. NULL for a NULL coordinate."""
        return (
            ((tile_lat + 90).cast("long") * 361 + (tile_lon + 180).cast("long"))
            * n_salts
            + salt
        ).cast("int")

    def _salted_key(self, frame: DataFrame, id_col: str, n_salts: int):
        """The salted layout's one salting step: returns (frame + ``_gk``,
        estimated input rows). ``_gk`` is the packed (tile_lat, tile_lon,
        salt) key of each row, its salt drawn from the row's cell in the
        histogram's salt table (``_salt_table``)."""
        tl = cells.tile_lat(F.col("lat"))
        tn = cells.tile_lon(F.col("lon"))
        salt_df, est_rows = self._salt_table(
            frame.select(tl.alias("tile_lat"), tn.alias("tile_lon")), n_salts
        )
        salt = F.broadcast(salt_df.toDF("_salt_lat", "_salt_lon", "_k_salt"))
        keyed = frame.join(
            salt, (tl == F.col("_salt_lat")) & (tn == F.col("_salt_lon")), "left"
        )
        gk = self._group_key(tl, tn, self._salt(id_col, F.col("_k_salt")), n_salts)
        keyed = keyed.select(*[_quoted(c) for c in frame.columns], gk.alias("_gk"))
        return keyed, est_rows
