"""Raster overview pyramid: multi-level 2x average-pooled downsamples of
every catalog tile, emitted as real image rows.

The classic map-tile/overview structure (GDAL overviews, COG reduced-
resolution layers, web-map zoom levels) the reference's point-lookup
engine stops short of: one decode of each HGT blob (tile.rs:299-318
treats tiles as independent, same here) serves EVERY pyramid level in a
single map-only ``mapInArrow`` pass (``catalog.map_tiles``) — zero
shuffle Exchanges, so the plan is the same one the broadcast joins
already proved scales.

Pooling contract (all exact integer arithmetic, order-free):

- The pooled base is the (n-1)x(n-1) top-left core of the n x n grid —
  SRTM tiles duplicate their last row/col in the neighbor tile, so the
  core is the non-overlapping content (1200x1200 for SRTM3).
- Level L cell (R, C) aggregates the 2^L x 2^L base block. VOID samples
  are EXCLUDED (nodata-excluded mean, what real DEM overviews do):
      s   = sum of non-void samples in the block      (int64)
      cnt = number of non-void samples
      q   = sign(s) * ((2*|s| + cnt) // (2*cnt))
  — the round-half-AWAY-FROM-ZERO mean of the rational s/cnt (the same
  tile.rs rounding convention every kernel here uses), expressed so every
  division has non-negative operands: NumPy's floor-div and DuckDB's
  truncating `//` agree there, so the formula is engine-portable even for
  below-sea-level means. An all-void block emits VOID_VALUE and counts as
  n_void.
- The payload is the pooled grid as big-endian int16 row-major
  (fmt='gray16be') — the same wire format as the source HGT, so a pyramid
  level is itself a valid mini-raster.

Per-level exact stats (n_valid / n_void / sum_val / min_val / max_val)
ride along so a closed-form SQL oracle can value-check the entire pooling
arithmetic against the analytic gradient catalog without shipping pixels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import hgt
from ..catalog import map_tiles

DEFAULT_LEVELS = 3


def pool_level(base: np.ndarray, valid: np.ndarray, level: int):
    """One 2^level x 2^level nodata-excluded average pool.

    base: (m0, m0) int64 values with void samples ALREADY zeroed;
    valid: (m0, m0) bool. Returns (q, cnt): (m, m) int64 pooled values
    (VOID_VALUE where cnt == 0) and the per-block valid-sample counts.
    """
    b = 1 << level
    m0 = base.shape[0]
    if m0 % b:
        raise ValueError(f"base size {m0} not divisible by block {b}")
    m = m0 // b
    s = base.reshape(m, b, m, b).sum(axis=(1, 3))
    cnt = valid.reshape(m, b, m, b).sum(axis=(1, 3), dtype=np.int64)
    # round-half-away-from-zero mean of the rational s/cnt in pure ints
    # (see module docstring: non-negative operands only, engine-portable);
    # the np.maximum only dodges a div-by-zero warning — cnt==0 cells are
    # replaced by VOID_VALUE in the same expression
    q = np.sign(s) * ((2 * np.abs(s) + cnt) // (2 * np.maximum(cnt, 1)))
    return np.where(cnt > 0, q, np.int64(hgt.VOID_VALUE)), cnt


def _pool_base(row, grid):
    """The decoded tile's pooled base (see the module docstring): the
    (n-1)x(n-1) core with void samples zeroed, its validity mask, and the
    file-name stem the image ids start from."""
    n = grid.shape[0]
    core = grid[: n - 1, : n - 1]
    valid = core != hgt.VOID_VALUE
    base = np.where(valid, core.astype(np.int64), np.int64(0))
    return base, valid, row["filename"].rsplit(".", 1)[0]


def tile_pyramid(catalog: DataFrame, levels: int = DEFAULT_LEVELS) -> DataFrame:
    """Render every catalog tile's overview pyramid: one image row per
    (tile, level) in the input_hint shape (image_id, bytes, w, h, fmt)
    plus the tile key, the level, and exact pooled-value stats.

    Map-only: tile blobs never shuffle; one decode per tile feeds all
    `levels` poolings (each from the base grid, NOT mean-of-means — block
    means with nodata exclusion and rounding do not compose exactly).
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")

    def pyramid(row, grid):
        base, valid, stem = _pool_base(row, grid)
        for lvl in range(1, levels + 1):
            q, cnt = pool_level(base, valid, lvl)
            ok = cnt > 0
            vq = q[ok]
            m = q.shape[0]
            yield (
                f"pyr_{stem}_L{lvl}",
                row["tile_lat"],
                row["tile_lon"],
                lvl,
                m,
                m,
                "gray16be",
                q.astype(">i2").tobytes(),
                int(ok.sum()),
                int((~ok).sum()),
                int(vq.sum()),
                int(vq.min()) if len(vq) else None,
                int(vq.max()) if len(vq) else None,
            )

    schema = (
        "image_id string, tile_lat int, tile_lon int, level int, w int, "
        "h int, fmt string, bytes binary, n_valid bigint, n_void bigint, "
        "sum_val bigint, min_val int, max_val int"
    )
    return map_tiles(catalog, pyramid, schema, "filename")


def pyramid_hillshade(
    catalog: DataFrame, levels: int = DEFAULT_LEVELS
) -> DataFrame:
    """Multi-resolution hillshade: render the Horn hillshade AT every
    pyramid level — the webmap zoom-stack (one gray8 image row per
    (tile, level)). Pure composition of bit-exact kernels already proven
    separately: ``pool_level`` (nodata-excluded integer-mean downsample)
    -> ``terrain.tile_horn_grids`` (exact int64 stencil over the pooled
    grid; pooled all-void cells carry VOID_VALUE, so void propagation is
    the same rule as the base render) -> ``terrain.hillshade_bytes``
    (documented float order + round-half-away byte quantization).

    Slope/shade are per-POOLED-CELL rise (the same per-cell convention as
    the base hillshade — no cellsize rescale), so each zoom level shows
    progressively generalized relief, exactly like GDAL overview shading.

    Still one map-only pass: one decode per tile feeds every level; zero
    shuffle Exchanges.
    """
    from . import terrain

    if levels < 1:
        raise ValueError("levels must be >= 1")

    def zoom_stack(row, grid):
        base, valid, stem = _pool_base(row, grid)
        for lvl in range(1, levels + 1):
            q, _cnt = pool_level(base, valid, lvl)
            gxs, gys, ok = terrain.tile_horn_grids(q.astype(np.int16))
            img, byte = terrain.hillshade_bytes(gxs, gys, ok)
            vb = byte[byte >= 0]
            m = img.shape[0]
            yield (
                f"hillshade_{stem}_L{lvl}",
                row["tile_lat"],
                row["tile_lon"],
                lvl,
                m,
                m,
                "gray8",
                img.tobytes(),
                vb.size,
                int(vb.sum()),
                int(vb.min()) if vb.size else None,
                int(vb.max()) if vb.size else None,
            )

    schema = (
        "image_id string, tile_lat int, tile_lon int, level int, w int, "
        "h int, fmt string, bytes binary, n_valid bigint, sum_byte bigint, "
        "min_byte int, max_byte int"
    )
    return map_tiles(catalog, zoom_stack, schema, "filename")


def pyramid_reference(grid: np.ndarray, level: int):
    """From-scratch scalar reference for tests (independent of the
    vectorized reshape pooling): returns the (m, m) pooled int list-of-
    lists with VOID_VALUE at all-void blocks."""
    n = grid.shape[0]
    b = 1 << level
    m = (n - 1) // b
    out = []
    for bigr in range(m):
        row = []
        for bigc in range(m):
            s = cnt = 0
            for r in range(bigr * b, (bigr + 1) * b):
                for c in range(bigc * b, (bigc + 1) * b):
                    v = int(grid[r, c])
                    if v != hgt.VOID_VALUE:
                        s += v
                        cnt += 1
            if cnt:
                sign = -1 if s < 0 else 1
                row.append(sign * ((2 * abs(s) + cnt) // (2 * cnt)))
            else:
                row.append(hgt.VOID_VALUE)
        out.append(row)
    return out
