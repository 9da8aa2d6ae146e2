"""Small geo operators completing the SURVEY.md §2 inventory: the continent
router (S5), the HTG_PRELOAD bounds grammar (P4), and the broadcast top-k
nearest-points join (J11)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# priority-ordered bbox rules (htg/src/download.rs:553-581); inclusive bounds
_CONTINENT_RULES = [
    ("North_America", 15.0, 60.0, -170.0, -50.0),
    ("South_America", -60.0, 15.0, -90.0, -30.0),
    ("Australia", -50.0, -10.0, 110.0, 180.0),
    ("Africa", -35.0, 35.0, -20.0, 55.0),
    ("Eurasia", 0.0, 60.0, -15.0, 180.0),
]


def coords_to_continent(lat: float, lon: float):
    """Pure-Python mirror (download.rs:553-581). None for oceans/Antarctica."""
    for name, lat0, lat1, lon0, lon1 in _CONTINENT_RULES:
        if lat0 <= lat <= lat1 and lon0 <= lon <= lon1:
            return name
    return None


def continent_col(lat: Column, lon: Column) -> Column:
    """Column expression with the same priority-ordered CASE chain."""
    expr = F.lit(None).cast("string")
    for name, lat0, lat1, lon0, lon1 in reversed(_CONTINENT_RULES):
        expr = F.when(lat.between(lat0, lat1) & lon.between(lon0, lon1), name).otherwise(expr)
    return expr


def knn_points_join(
    pts: DataFrame,
    pois: Sequence[tuple[int, float, float]],
    k: int = 3,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Top-k nearest-neighbor join of every point against a small reference
    point set (POIs) — the 2-D spatial analog of the embedding ANN top-k,
    generalizing the engine's nearest-TILE-center kNN fallback
    (engine.py:154-189, service parity htg/src/service.rs nearest-tile) to
    an arbitrary point table and k > 1.

    Scale shape (the broadcast side of the trade): the POI set rides into
    the plan as an inline array literal, so the whole query is ONE
    zero-shuffle codegen projection over the points scan — per point, an
    array of (d2, poi_id) structs, array_sort (lexicographic: distance
    first, poi_id tie-break), slice k, posexplode. 10^12 points stream
    through map-only; nothing is collected or shuffled. For POI sets too
    large to inline (>~10^3), the scale path is the covering-cell
    equi-join family (operators/polygon.py) — bucket POIs by cell, join
    candidates by neighboring cells, and fall back to ring expansion —
    exactly the IVF trade in 2-D.

    Distances are squared planar degrees computed in a FIXED op order
    ((lat-plat)*(lat-plat) + (lon-plon)*(lon-plon)) so every engine agrees
    bit-for-bit; sorting on (d2, poi_id) makes ranks total and
    reproducible even when two POIs tie exactly (perpendicular-bisector
    points).

    Output: (id, lat, lon, rank 1..k, poi_id, d2).
    """
    from ..partitioning import spread_scan

    lat, lon = F.col(lat_col), F.col(lon_col)
    arr = F.array(
        *[
            F.struct(
                (
                    (lat - F.lit(plat)) * (lat - F.lit(plat))
                    + (lon - F.lit(plon)) * (lon - F.lit(plon))
                ).alias("d2"),
                F.lit(int(pid)).cast("int").alias("poi_id"),
            )
            for pid, plat, plon in pois
        ]
    )
    # spread_scan: the per-point array-sort over |pois| structs is the
    # dominant cost and is embarrassingly parallel — a single-row-group
    # scan would run it on one core (measured 3.4s -> 1.5s at 100k points)
    pts = spread_scan(pts)
    exploded = pts.select(
        id_col,
        lat_col,
        lon_col,
        F.posexplode(F.slice(F.array_sort(arr), 1, k)).alias("pos", "nn"),
    )
    return exploded.select(
        id_col,
        lat_col,
        lon_col,
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("nn.poi_id").alias("poi_id"),
        F.col("nn.d2").alias("d2"),
    )


def radius_neighbors(
    pts: DataFrame,
    scale: int = 2048,
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Grid-bucketed radius self-join: for every point, the count of other
    points within planar distance r = 1/scale degrees, plus the squared
    distance to the closest one — the neighborhood-density primitive under
    DBSCAN, spatial dedup, and POI-clustering jobs (the 2-D analog of the
    embedding near-dup candidate join, operators/ann.py).

    Scale shape: bucket every point into a grid of cell size exactly r
    (gx = floor(x*scale)); the PROBE side explodes to its 3x3 neighboring
    cells (9x fan-out of four narrow columns — no payload), the BUILD side
    keeps its home cell, and one equi-join on (jx, jy) yields every
    candidate pair exactly once per direction. The exact d2 <= r2 filter
    runs inside the join stage, and only surviving (id) hits reach the
    single count/min aggregation — so this is ONE shuffle of narrow
    columns at any corpus size, never an all-pairs product. Dense-cluster
    skew (many points in one cell) is the AQE skew-join case. `scale` MUST be a power of two so x*scale and r*r are exact
    IEEE doubles — both engines and the SQL oracle agree bit-for-bit.

    Output: (id, n_neighbors, min_d2 — NULL when no neighbor in range).
    """
    if scale & (scale - 1) != 0:
        raise ValueError(f"scale must be a power of two, got {scale}")
    r = 1.0 / scale
    x, y = F.col(x_col), F.col(y_col)
    # base feeds THREE plan branches (probe, build, the zero-count left
    # join); Spark has no cross-branch subtree reuse, so materialize it
    # lazily once instead of re-running the upstream plan per branch.
    # spread_scan: the checkpoint pins the scan's partitioning, and a
    # single-row-group input would otherwise run the 9x explode, the
    # candidate join, and the aggregation all on one core.
    from ..partitioning import spread_scan

    base = spread_scan(
        pts.select(
            id_col,
            x_col,
            y_col,
            F.floor(x * F.lit(float(scale))).cast("long").alias("gx"),
            F.floor(y * F.lit(float(scale))).cast("long").alias("gy"),
        )
    ).localCheckpoint(eager=False)
    # HALF-PLANE candidate generation (see colocation_pairs): the distance
    # predicate is symmetric, so each unordered pair needs to be tested
    # only once. The probe explodes to (0,0) + the 4 lexicographically-
    # positive neighbor offsets instead of all 9; same-cell pairs are
    # deduped by the id tiebreak on the (0,0) offset. The per-point
    # directed view this operator aggregates is then reconstructed by
    # MIRRORING each surviving hit (both endpoints get a row) — identical
    # multiset to the once-per-direction join at half the candidate pairs.
    half = [(0, 0)] + [
        (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) > (0, 0)
    ]
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in half
        ]
    )
    probe = base.select(
        id_col, x_col, y_col, "gx", "gy", F.explode(offsets).alias("o")
    ).select(
        id_col,
        x_col,
        y_col,
        (F.col("gx") + F.col("o.dx")).alias("jx"),
        (F.col("gy") + F.col("o.dy")).alias("jy"),
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("_oz"),
    )
    build = base.select(
        F.col(id_col).alias("_bid"),
        F.col(x_col).alias("_bx"),
        F.col(y_col).alias("_by"),
        F.col("gx").alias("jx"),
        F.col("gy").alias("jy"),
    )
    dx = F.col(x_col) - F.col("_bx")
    dy = F.col(y_col) - F.col("_by")
    upairs = (
        probe.join(build, on=["jx", "jy"])
        .where(
            (F.col(id_col) != F.col("_bid"))
            & (~F.col("_oz") | (F.col(id_col) < F.col("_bid")))
            & (dx * dx + dy * dy <= F.lit(r * r))
        )
        .select(id_col, "_bid", (dx * dx + dy * dy).alias("d2"))
    )
    mirrored = upairs.select(
        F.explode(
            F.array(F.col(id_col), F.col("_bid"))
        ).alias(id_col),
        "d2",
    )
    hits = mirrored.groupBy(id_col).agg(
        F.count("*").alias("n_neighbors"), F.min("d2").alias("min_d2")
    )
    return (
        base.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_neighbors"), F.lit(0)).cast("long").alias("n_neighbors"),
            F.col("min_d2"),
        )
    )


def idw_interpolate(
    samples: DataFrame,
    grid: DataFrame,
    scale: int = 16,
    eps: float = 2.0 ** -24,
    id_col: str = "event_id",
    value_col: str = "value",
    x_col: str = "lon",
    y_col: str = "lat",
    qid_col: str = "query_id",
    qx_col: str = "qlon",
    qy_col: str = "qlat",
) -> DataFrame:
    """Inverse-distance-weighted interpolation of a scattered sample field
    onto a query grid (the gridding/kriging-lite primitive under heatmap
    rendering, sensor-field rasterization, and elevation-from-sparse-GPS
    jobs): for every grid point, idw = sum(v_i/(d2_i+eps)) /
    sum(1/(d2_i+eps)) over the samples within planar radius r = 1/scale.

    Scale shape: the GRID side (tiny — one row per output pixel) explodes
    to its 3x3 covering cells and broadcasts; the sample CORPUS computes
    its home cell map-side and BroadcastHashJoins — so the 100-TB sample
    table never shuffles for the candidate join, the exact d2 <= r2 filter
    runs inside the join stage, and ONE narrow Exchange on query_id
    carries only (query_id, d2, id, value) survivors to the aggregation.
    Per-query neighbor lists are bounded by local sample density times
    r^2; hotspot cells are the AQE skew-join case.

    Bit parity: `scale` must be a power of two (x*scale and r*r exact),
    `eps` exactly representable (default 2^-24 — regularizes d2 == 0 when
    a sample sits on a grid point); the two weighted sums fold the
    neighbor list in ascending (d2, id) order left-to-right, each term a
    single IEEE divide — the same fold a SQL engine's ordered list_reduce
    produces, so the float result is reproducible bit-for-bit at any
    partitioning (same discipline as curation.mixture_weights).

    Output: (query_id, qlat, qlon, n_samples, idw) — idw NULL where no
    sample is in range.
    """
    if scale & (scale - 1) != 0:
        raise ValueError(f"scale must be a power of two, got {scale}")
    r = 1.0 / scale
    qx, qy = F.col(qx_col), F.col(qy_col)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = grid.select(
        qid_col,
        qy_col,
        qx_col,
        F.floor(qx * F.lit(float(scale))).cast("long").alias("gx"),
        F.floor(qy * F.lit(float(scale))).cast("long").alias("gy"),
        F.explode(offsets).alias("o"),
    ).select(
        qid_col,
        qy_col,
        qx_col,
        (F.col("gx") + F.col("o.dx")).alias("jx"),
        (F.col("gy") + F.col("o.dy")).alias("jy"),
    )
    x, y = F.col(x_col), F.col(y_col)
    build = samples.select(
        F.col(id_col).alias("_sid"),
        value_col,
        F.floor(x * F.lit(float(scale))).cast("long").alias("jx"),
        F.floor(y * F.lit(float(scale))).cast("long").alias("jy"),
        x.alias("_sx"),
        y.alias("_sy"),
    )
    dx = F.col(qx_col) - F.col("_sx")
    dy = F.col(qy_col) - F.col("_sy")
    d2 = dx * dx + dy * dy
    hits = (
        build.join(F.broadcast(probe), on=["jx", "jy"])
        .where(d2 <= F.lit(r * r))
        .select(
            qid_col,
            d2.alias("_d2"),
            F.col("_sid"),
            F.col(value_col).alias("_v"),
        )
    )
    e = F.lit(float(eps))
    lst = F.sort_array(
        F.collect_list(F.struct(F.col("_d2"), F.col("_sid"), F.col("_v")))
    )
    agg = hits.groupBy(qid_col).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.aggregate(
            lst,
            F.struct(F.lit(0.0).alias("n"), F.lit(0.0).alias("d")),
            lambda a, s: F.struct(
                (a["n"] + s["_v"] / (s["_d2"] + e)).alias("n"),
                (a["d"] + F.lit(1.0) / (s["_d2"] + e)).alias("d"),
            ),
            lambda a: a["n"] / a["d"],
        ).alias("idw"),
    )
    return (
        grid.select(qid_col, qy_col, qx_col)
        # agg is bounded by the grid size (one row per output pixel) at any
        # corpus scale — broadcast it so the backfill join can never SMJ
        .join(F.broadcast(agg), on=qid_col, how="left")
        .select(
            qid_col,
            qy_col,
            qx_col,
            F.coalesce(F.col("n_samples"), F.lit(0)).cast("long").alias("n_samples"),
            F.col("idw"),
        )
    )


# 3x3 binomial-ish smoothing kernel: center 4, edges 2, corners 1 (sum 16
# over interior cells) — all-integer so the smoothed counts are exact
SMOOTH_KERNEL = [
    (dx, dy, 4 if dx == 0 and dy == 0 else (2 if dx == 0 or dy == 0 else 1))
    for dx in (-1, 0, 1)
    for dy in (-1, 0, 1)
]


def smooth_cell_counts(pts: DataFrame, level: int = 4) -> DataFrame:
    """K-ring smoothed spatial density (the heatmap-blur service query):
    count points per level-`level` cell (cells.cell_id_at_level scheme),
    then convolve the counts with the integer 3x3 SMOOTH_KERNEL on the
    global fine grid — the aggregate-then-convolve pattern that turns a
    raster blur over 10^12 points into two TINY shuffles.

    Scale shape: shuffle 1 is the density rollup — map-side partial
    combine bounds it by DISTINCT cell count (<= 64800 * 4^level), not by
    corpus rows; shuffle 2 re-keys each cell's 9 weighted contributions by
    RECEIVER cell (the same halo-exchange shape as terrain.mosaic_horn_
    stats) and is bounded by 9x the cell count. All arithmetic is exact
    integers. Cells outside the globe's fine grid are dropped (no
    antimeridian wrap — documented, matching the tile scheme).

    Output: (cell, n_own, smoothed) for every cell receiving at least one
    contribution; n_own = the cell's own count (0 for halo-only cells),
    smoothed = sum of kernel-weighted neighbor counts.
    """
    k = 1 << level
    lat, lon = F.col("lat"), F.col("lon")
    # MUST mirror cells.cell_id_at_level's decomposition (tile + fractional
    # subcell, NOT floor((lat+90)*k) — the one-multiply form rounds
    # differently for some doubles)
    gy = (F.floor(lat).cast("long") + 90) * k + F.floor(
        (lat - F.floor(lat)) * k
    ).cast("long")
    gx = (F.floor(lon).cast("long") + 180) * k + F.floor(
        (lon - F.floor(lon)) * k
    ).cast("long")
    counts = pts.select(gy.alias("gy"), gx.alias("gx")).groupBy("gy", "gx").agg(
        F.count(F.lit(1)).alias("n")
    )
    kern = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(w).alias("w")
            )
            for dx, dy, w in SMOOTH_KERNEL
        ]
    )
    contrib = counts.select(
        "gy", "gx", "n", F.explode(kern).alias("o")
    ).select(
        (F.col("gy") + F.col("o.dy")).alias("ry"),
        (F.col("gx") + F.col("o.dx")).alias("rx"),
        (F.col("n") * F.col("o.w")).alias("wn"),
        F.when((F.col("o.dx") == 0) & (F.col("o.dy") == 0), F.col("n"))
        .otherwise(F.lit(0))
        .alias("own"),
    ).where(
        (F.col("ry") >= 0)
        & (F.col("ry") < 180 * k)
        & (F.col("rx") >= 0)
        & (F.col("rx") < 360 * k)
    )
    sm = contrib.groupBy("ry", "rx").agg(
        F.sum("own").alias("n_own"), F.sum("wn").alias("smoothed")
    )
    ry, rx = F.col("ry"), F.col("rx")
    cell = (
        (ry / k).cast("long") * 360 + (rx / k).cast("long")
    ) * (k * k) + (ry % k) * k + (rx % k)
    return sm.select(
        cell.alias("cell"),
        F.col("n_own").cast("long").alias("n_own"),
        F.col("smoothed").cast("long").alias("smoothed"),
    )


def dbscan_clusters(
    pts: DataFrame,
    scale: int = 8192,
    min_pts: int = 2,
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
    stats: dict | None = None,
) -> DataFrame:
    """Deterministic grid-DBSCAN: density-based spatial clustering with
    eps = 1/scale degrees (planar) — POI discovery, hotspot extraction,
    GPS-noise grouping. Composes the repo's two scale primitives: the
    radius_neighbors covering-cell candidate join (one narrow-column
    shuffle, never all-pairs) and dedup.connected_components (size-adaptive:
    driver NumPy solve under the edge threshold, O(log diameter)
    pointer-doubling rounds above it).

    Semantics (fully deterministic, unlike visit-order DBSCAN):
    - core: n_neighbors (excluding self) >= min_pts (classic minPts - 1);
    - core clusters: connected components of the core-core eps-graph,
      labeled by the component's minimum id;
    - border: non-core within eps of >= 1 core — assigned the MINIMUM
      cluster label among its in-range cores (visit-order DBSCAN assigns
      whichever core claims it first; min is the canonical tie-break);
    - noise: everything else (cluster_id NULL).

    Scale shape: candidate edges come from ONE (jx, jy) equi-join of four
    narrow columns (probe side explodes 3x3 covering cells, build side
    keeps its home cell); the directed hit list is lazily checkpointed
    once and feeds all three consumers (degree count, core-core edges,
    border assignment) — Spark has no cross-branch subtree reuse, so
    without it the join would run three times. Core-core edges are a
    sliver of the corpus (dup pairs always are), so CC takes the collect
    path at test scale and the distributed loop at 10^9+ edges. `scale`
    MUST be a power of two so grid floors and r*r are exact IEEE doubles —
    the SQL oracle states the range predicate directly (naive bbox join)
    and still agrees bit-for-bit.

    Output: (id, n_neighbors, role 'core'|'border'|'noise',
    cluster_id — NULL for noise)."""
    from .dedup import connected_components

    if scale & (scale - 1) != 0:
        raise ValueError(f"scale must be a power of two, got {scale}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    r = 1.0 / scale
    x, y = F.col(x_col), F.col(y_col)
    # no spread_scan here (unlike radius_neighbors): at the dbscan eps the
    # candidate fan-out is small, the per-row work is light, and the many
    # downstream consumers multiply per-stage scheduling cost — interleaved
    # A/B measured unspread 3.4s vs spread 5.3s at 100k points
    base = pts.select(
        id_col,
        x_col,
        y_col,
        F.floor(x * F.lit(float(scale))).cast("long").alias("gx"),
        F.floor(y * F.lit(float(scale))).cast("long").alias("gy"),
    ).localCheckpoint(eager=False)
    # HALF-PLANE candidate generation + mirror (see radius_neighbors): the
    # candidate join tests each unordered pair once; the directed (id, nid)
    # hit list all three consumers expect is rebuilt by emitting both
    # orientations of every surviving pair — identical multiset at half
    # the join work.
    half = [(0, 0)] + [
        (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) > (0, 0)
    ]
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in half
        ]
    )
    probe = base.select(
        id_col, x_col, y_col, "gx", "gy", F.explode(offsets).alias("o")
    ).select(
        id_col,
        x_col,
        y_col,
        (F.col("gx") + F.col("o.dx")).alias("jx"),
        (F.col("gy") + F.col("o.dy")).alias("jy"),
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("_oz"),
    )
    build = base.select(
        F.col(id_col).alias("_bid"),
        F.col(x_col).alias("_bx"),
        F.col(y_col).alias("_by"),
        F.col("gx").alias("jx"),
        F.col("gy").alias("jy"),
    )
    dx = F.col(x_col) - F.col("_bx")
    dy = F.col(y_col) - F.col("_by")
    # directed (id, nid) hit list — one row per ordered in-range pair
    hits = (
        probe.join(build, on=["jx", "jy"])
        .where(
            (F.col(id_col) != F.col("_bid"))
            & (~F.col("_oz") | (F.col(id_col) < F.col("_bid")))
            & (dx * dx + dy * dy <= F.lit(r * r))
        )
        .select(
            F.explode(
                F.array(
                    F.struct(F.col(id_col).alias("a"), F.col("_bid").alias("b")),
                    F.struct(F.col("_bid").alias("a"), F.col(id_col).alias("b")),
                )
            ).alias("_e")
        )
        .select(F.col("_e.a").alias(id_col), F.col("_e.b").alias("nid"))
        .localCheckpoint(eager=False)
    )
    flags = (
        base.select(id_col)
        .join(hits.groupBy(id_col).agg(F.count("*").alias("_n")), on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_neighbors"),
        )
        .withColumn("is_core", F.col("n_neighbors") >= min_pts)
        .localCheckpoint(eager=False)
    )
    cores = flags.where(F.col("is_core")).select(id_col)
    core_pairs = (
        hits.where(F.col(id_col) < F.col("nid"))
        .join(cores, on=id_col, how="leftsemi")
        .join(cores.select(F.col(id_col).alias("nid")), on="nid", how="leftsemi")
        .select(F.col(id_col).alias("id_a"), F.col("nid").alias("id_b"))
    )
    core_lab = connected_components(core_pairs, cores, id_col=id_col, stats=stats).select(
        id_col, F.col("group_id").alias("_core_cluster")
    )
    border = (
        hits.join(flags.where(~F.col("is_core")).select(id_col), on=id_col, how="leftsemi")
        .join(
            core_lab.select(
                F.col(id_col).alias("nid"), F.col("_core_cluster").alias("_nbr_cluster")
            ),
            on="nid",
        )
        .groupBy(id_col)
        .agg(F.min("_nbr_cluster").alias("_border_cluster"))
    )
    return (
        flags.join(core_lab, on=id_col, how="left")
        .join(border, on=id_col, how="left")
        .select(
            id_col,
            "n_neighbors",
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("_border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.when(F.col("is_core"), F.col("_core_cluster"))
            .otherwise(F.col("_border_cluster"))
            .alias("cluster_id"),
        )
    )


def parse_preload_bounds(value: str):
    """HTG_PRELOAD grammar (htg-service/src/main.rs:165-204):
    'true'/'all'/'1' -> None (all tiles); ';'-separated
    'min_lat,min_lon,max_lat,max_lon' quadruples -> list of boxes;
    unparseable -> None (fall back to all, with the reference's semantics)."""
    trimmed = value.strip()
    if trimmed.lower() in ("true", "all", "1"):
        return None
    boxes = []
    for part in trimmed.split(";"):
        nums = []
        for s in part.split(","):
            try:
                nums.append(float(s.strip()))
            except ValueError:
                pass
        if len(nums) == 4:
            boxes.append((nums[0], nums[1], nums[2], nums[3]))
    return boxes or None


def density_tiles(
    pts: DataFrame,
    zoom: int = 12,
    tile_px: int = 64,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Vector -> raster tile rendering: rasterize a point corpus into
    web-mercator density tiles (the tile-server product behind every
    "heatmap layer"): per z/x/y tile, a tile_px x tile_px gray8 image whose
    pixel value is the point count clipped to 255, plus exact integer
    stats (n_pts, nonzero_px, max_count, sum_clipped) so a closed-form SQL
    oracle can value-check the render arithmetic without shipping pixels.

    Scale shape: the corpus collapses FIRST — groupBy (tile, pixel) is ONE
    map-side-combined shuffle whose output is bounded by tiles x tile_px^2
    regardless of corpus rows; the applyInPandas render then reshapes
    <= tile_px^2 aggregated rows per tile into the payload (second shuffle
    moves only the aggregated counts, never points). Pixel assignment
    shares the mercator expression with the tile key (cells.
    mercator_fractional), so tile and pixel can never disagree."""
    import numpy as np
    import pandas as pd

    from .. import cells

    fx, fy = cells.mercator_fractional(F.col(lon_col), F.col(lat_col), zoom)
    d = pts.select(fx.alias("_fx"), fy.alias("_fy"))
    hi = (1 << zoom) - 1
    zx = F.greatest(F.least(F.floor(F.col("_fx")).cast("long"), F.lit(hi)), F.lit(0))
    zy = F.greatest(F.least(F.floor(F.col("_fy")).cast("long"), F.lit(hi)), F.lit(0))
    keyed = d.select(zx.alias("zx"), zy.alias("zy"), "_fx", "_fy")
    px = cells.tile_pixel(F.col("_fx"), F.col("zx"), tile_px)
    py = cells.tile_pixel(F.col("_fy"), F.col("zy"), tile_px)
    counts = (
        keyed.select("zx", "zy", px.alias("px"), py.alias("py"))
        .groupBy("zx", "zy", "px", "py")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    schema = (
        "zx long, zy long, bytes binary, w int, h int, fmt string, "
        "n_pts long, nonzero_px long, max_count long, sum_clipped long"
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        img = np.zeros(tile_px * tile_px, dtype=np.uint8)
        cnt = pdf["cnt"].to_numpy()
        clipped = np.minimum(cnt, 255)
        img[pdf["py"].to_numpy() * tile_px + pdf["px"].to_numpy()] = clipped
        return pd.DataFrame(
            {
                "zx": [int(pdf["zx"].iloc[0])],
                "zy": [int(pdf["zy"].iloc[0])],
                "bytes": [img.tobytes()],
                "w": [tile_px],
                "h": [tile_px],
                "fmt": ["gray8"],
                "n_pts": [int(cnt.sum())],
                "nonzero_px": [len(pdf)],
                "max_count": [int(cnt.max())],
                "sum_clipped": [int(clipped.sum())],
            }
        )

    # explicit-count repartition on the tile key: the aggregated counts are
    # ~1 MB at bench scale, so AQE's byte-based coalescing would hand the
    # per-group pandas render (the dominant cost — ~3ms/group of Arrow +
    # DataFrame overhead) to ONE task (measured: 4.9s single-task render).
    # The pinned hash partitioning satisfies applyInPandas' distribution
    # requirement, so no extra Exchange is introduced.
    n_parts = int(pts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        counts.repartition(n_parts, "zx", "zy")
        .groupBy("zx", "zy")
        .applyInPandas(render, schema)
    )


def snap_to_segments(
    pts: DataFrame,
    segments: DataFrame,
    scale: int = 256,
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Point -> nearest-segment snapping within radius r = 1/scale (the
    map-matching / road-snapping primitive): for every point, the closest
    segment among (seg_id, ax, ay, bx, by) whose point-to-segment distance
    is <= r, with the squared distance and the projection parameter t
    (0 = at A, 1 = at B, clamped).

    Scale shape: cell size exactly r. Points keep their home cell; each
    SEGMENT explodes to its r-padded bbox cover (floor(min*scale)-1 ..
    floor(max*scale)+1 per axis — a superset of every cell within r of the
    segment, so candidate generation is COMPLETE). One (gx, gy) equi-join
    yields candidates; the exact distance runs inside the join stage; only
    qualifying (point, seg, d2, t) rows reach the min-struct aggregation.
    Never points x segments. Long polylines must be pre-split into
    cell-scale segments or their bbox cover fans out quadratically — the
    standard chunking rule for spatial joins on linear features.

    Float parity: +,-,*,/ on doubles only, in THIS op order (mirrored by
    the SQL oracle): vx=bx-ax, len2=vx*vx+vy*vy, dot=(px-ax)*vx+(py-ay)*vy,
    t=clamp(dot/len2), qx=ax+t*vx, d2=(px-qx)^2+(py-qy)^2. `scale` must be
    a power of two so x*scale and r*r are exact. Zero-length segments get
    t=0 (pure point distance) instead of a 0/0 NaN.

    Ties (equal d2 to two segments) resolve to the LOWEST seg_id via the
    (d2, seg_id) struct-min — visit-order-free on every engine.

    Output: one row per point — (id, seg_id, snap_d2, snap_t), NULLs when
    nothing is in range."""
    if scale & (scale - 1) != 0:
        raise ValueError(f"scale must be a power of two, got {scale}")
    r = 1.0 / scale
    s = float(scale)
    x, y = F.col(x_col), F.col(y_col)
    # no spread_scan: the per-candidate distance math is light and the
    # segment table is tiny — interleaved A/B measured unspread 0.93s vs
    # spread 1.52s at 100k points (scheduling cost outweighs parallelism)
    base = pts.select(
        id_col,
        x.alias("px"),
        y.alias("py"),
        F.floor(x * F.lit(s)).cast("long").alias("gx"),
        F.floor(y * F.lit(s)).cast("long").alias("gy"),
    ).localCheckpoint(eager=False)

    seg = segments.select(
        "seg_id",
        "ax",
        "ay",
        "bx",
        "by",
        F.explode(
            F.sequence(
                F.floor(F.least("ax", "bx") * F.lit(s)).cast("long") - 1,
                F.floor(F.greatest("ax", "bx") * F.lit(s)).cast("long") + 1,
            )
        ).alias("gx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.least("ay", "by") * F.lit(s)).cast("long") - 1,
                F.floor(F.greatest("ay", "by") * F.lit(s)).cast("long") + 1,
            )
        ).alias("gy"),
    )

    j = base.join(seg, ["gx", "gy"])
    vx = F.col("bx") - F.col("ax")
    vy = F.col("by") - F.col("ay")
    len2 = vx * vx + vy * vy
    dot = (F.col("px") - F.col("ax")) * vx + (F.col("py") - F.col("ay")) * vy
    t = F.when(
        len2 > F.lit(0.0), F.greatest(F.least(dot / len2, F.lit(1.0)), F.lit(0.0))
    ).otherwise(F.lit(0.0))
    cand = j.select(id_col, "seg_id", t.alias("t"), "px", "py", "ax", "ay", "bx", "by")
    qx = F.col("ax") + F.col("t") * (F.col("bx") - F.col("ax"))
    qy = F.col("ay") + F.col("t") * (F.col("by") - F.col("ay"))
    dx = F.col("px") - qx
    dy = F.col("py") - qy
    d2 = dx * dx + dy * dy
    hits = (
        cand.select(id_col, "seg_id", "t", d2.alias("d2"))
        .where(F.col("d2") <= F.lit(r * r))
        .groupBy(id_col)
        .agg(F.min(F.struct("d2", "seg_id", "t")).alias("_m"))
    )
    return base.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.col("_m.seg_id").alias("seg_id"),
        F.col("_m.d2").alias("snap_d2"),
        F.col("_m.t").alias("snap_t"),
    )


def convex_hulls(
    pings: DataFrame,
    user_col: str = "user_id",
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-trajectory convex hull (gift wrapping / Jarvis march): the
    activity-range primitive — each user's ping cloud reduced to its hull
    vertices, from which range area / perimeter / containment all derive.

    Degenerate-float discipline: convex hulls on lattice-like coordinates
    hinge on orientation tests of NEARLY collinear triples, where the
    sign is pure rounding noise — so the kernel and the DuckDB oracle run
    the SAME algorithm with a token-mirrored cross product
    ``(px-cx)*(qy-cy) - (py-cy)*(qx-cx)`` on identical input bits,
    making every degenerate decision identical rather than "close".
    Duplicate coordinates are deduped first (min event id per (lon, lat)
    — deterministic); the march starts at the lexicographic (lon, lat)
    minimum and picks as next vertex the unique point with NO other point
    strictly right of the ray (collinear ties -> farthest), so true
    collinear interiors are dropped and a fully collinear cloud reduces
    to its two endpoints. O(n·h) per group — bound n by sessionizing
    first (same note as simplify_trajectories).

    Scale shape: one groupBy(user).agg for the dedupe and ONE
    applyInPandas over the user key, both served by a single hash
    Exchange (explicit-count repartition pins the parallelism — the AQE
    byte-coalescing trap documented on simplify_trajectories).

    Output: (user_id, hull_rank, event_id, lon, lat, n_pts) — hull
    vertices in march order (rank 0 = start), n_pts = distinct
    coordinates in the user's cloud."""
    import numpy as np
    import pandas as pd

    schema = (
        f"{user_col} long, hull_rank long, {id_col} long, "
        f"{lon_col} double, {lat_col} double, n_pts long"
    )

    def march(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([lon_col, lat_col]).reset_index(drop=True)
        xs = pdf[lon_col].to_numpy()
        ys = pdf[lat_col].to_numpy()
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        user = pdf[user_col].iloc[0]
        hull = [0]  # lexicographic min = row 0 after the sort
        if n > 1:
            cur = 0
            while True:
                cx, cy = xs[cur], ys[cur]
                best = -1
                for p in range(n):
                    if p == cur:
                        continue
                    if best < 0:
                        best = p
                        continue
                    # is p strictly right of ray cur->best (or collinear
                    # and farther)? then p replaces best. Scalar float
                    # ops in the oracle's token order.
                    cr = (xs[best] - cx) * (ys[p] - cy) - (ys[best] - cy) * (
                        xs[p] - cx
                    )
                    if cr < 0.0:
                        best = p
                    elif cr == 0.0:
                        db = (xs[best] - cx) ** 2 + (ys[best] - cy) ** 2
                        dp = (xs[p] - cx) ** 2 + (ys[p] - cy) ** 2
                        if dp > db:
                            best = p
                if best >= 0:
                    # verify the tournament winner against the quantified
                    # definition the oracle uses (NO q strictly right of
                    # the ray, no collinear-farther q): near-collinear
                    # float noise can in principle break the tournament's
                    # transitivity — turn that into an error, never a
                    # silent oracle divergence
                    crs = (xs[best] - cx) * (ys - cy) - (ys[best] - cy) * (xs - cx)
                    d2 = (xs - cx) ** 2 + (ys - cy) ** 2
                    bad = (crs < 0.0) | ((crs == 0.0) & (d2 > d2[best]))
                    bad[cur] = False
                    bad[best] = False
                    if bad.any():
                        raise ValueError(
                            f"convex_hulls: non-transitive orientation at "
                            f"user={user} step={len(hull)}"
                        )
                if best < 0 or best == hull[0]:
                    break
                hull.append(best)
                cur = best
        out = pd.DataFrame(
            {
                user_col: np.full(len(hull), user, dtype=np.int64),
                "hull_rank": np.arange(len(hull), dtype=np.int64),
                id_col: ids[hull],
                lon_col: xs[hull],
                lat_col: ys[hull],
                "n_pts": np.full(len(hull), n, dtype=np.int64),
            }
        )
        return out

    sess = pings.sparkSession
    n_parts = int(sess.conf.get("spark.sql.shuffle.partitions"))
    deduped = (
        pings.repartition(n_parts, user_col)
        .groupBy(user_col, lon_col, lat_col)
        .agg(F.min(id_col).alias(id_col))
    )
    return deduped.groupBy(user_col).applyInPandas(march, schema)


def colocation_pairs(
    pings: DataFrame,
    scale: int = 2048,
    window_us: int = 86_400_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Spatio-temporal co-location join (contact tracing / co-movement
    mining): per unordered user pair, how many times the two streams put
    them within planar distance r = 1/scale degrees AND within
    `window_us` microseconds of each other, with the closest approach and
    the first contact instant.

    Scale shape: the radius_neighbors grid join extended with a time
    axis — every ping buckets to (gx, gy, tb) where the cell size is
    exactly r and the bucket length exactly `window_us`, so any
    qualifying pair differs by at most 1 in each key; the probe side
    explodes to its 3x3x3 = 27 neighbor keys (four narrow columns, no
    payload), the build side keeps its home key, and ONE equi-join on
    (jx, jy, jt) yields each cross-user candidate exactly once per
    direction. The exact d2/dt filters run inside the join stage;
    `user_probe < user_build` keeps exactly one direction of every
    unordered pair; only narrow hit columns reach the single (a, b)
    rollup. Never an all-pairs product; hotspot cells are the standard
    AQE-skew / salting case. `scale` MUST be a power of two (exact IEEE
    r*r); time math is exact integer microseconds.

    Output: (user_a, user_b, n_contacts, min_d2, first_us) with
    user_a < user_b; first_us = naive epoch micros of the earlier ping of
    the earliest contact."""
    if scale & (scale - 1) != 0:
        raise ValueError(f"scale must be a power of two, got {scale}")
    w = int(window_us)
    if w <= 0:
        raise ValueError(f"window_us must be positive, got {window_us}")
    r = 1.0 / scale
    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col(ts_col).cast("timestamp_ntz"),
    )
    # time bucket via exact BIGINT div (epoch micros never touch doubles);
    # base feeds the probe AND build branches — lazy-materialize once
    # (no cross-branch subtree reuse in Spark SQL). spread_scan: the 27x
    # explode and the candidate join read this checkpoint, so a
    # single-row-group scan would pin them to one core.
    from ..partitioning import spread_scan

    base = spread_scan(
        pings.select(
            user_col,
            id_col,
            lat_col,
            lon_col,
            us.alias("_us"),
            F.floor(F.col(lon_col) * F.lit(float(scale))).cast("long").alias("gx"),
            F.floor(F.col(lat_col) * F.lit(float(scale))).cast("long").alias("gy"),
        )
    ).localCheckpoint(eager=False)
    tb = F.expr(f"_us div {w}")
    # HALF-PLANE candidate generation: the predicate is symmetric, so an
    # unordered ping pair does not need to be found from both sides. The
    # probe explodes to (0,0,0) plus only the 13 lexicographically-POSITIVE
    # of the 26 neighbor offsets — a pair in buckets differing by delta is
    # matched exactly once, from whichever side sees a positive delta
    # (the other side would need the negative offset, which is not
    # generated). Same-bucket pairs are seen from both sides through
    # (0,0,0); the `_pid < _bid` tiebreak (applied to that offset only,
    # via the `_oz` flag) keeps exactly one. This halves the probe-side
    # explode (27x -> 14x shuffle rows) AND the candidate join output.
    # Orientation becomes arbitrary, so the rollup canonicalizes with
    # least/greatest on the user ids — every aggregated quantity (count,
    # d2, earlier-ping instant) is symmetric, so results are identical.
    half = [(0, 0, 0)] + [
        (dx, dy, dt)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        for dt in (-1, 0, 1)
        if (dx, dy, dt) > (0, 0, 0)
    ]
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(dt).alias("dt")
            )
            for dx, dy, dt in half
        ]
    )
    probe = base.select(
        F.col(user_col).alias("_pu"),
        F.col(id_col).alias("_pid"),
        F.col(lat_col).alias("_py"),
        F.col(lon_col).alias("_px"),
        F.col("_us").alias("_pus"),
        "gx",
        "gy",
        tb.alias("_tb"),
        F.explode(offsets).alias("o"),
    ).select(
        "_pu",
        "_pid",
        "_py",
        "_px",
        "_pus",
        (F.col("gx") + F.col("o.dx")).alias("jx"),
        (F.col("gy") + F.col("o.dy")).alias("jy"),
        (F.col("_tb") + F.col("o.dt")).alias("jt"),
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0) & (F.col("o.dt") == 0)).alias("_oz"),
    )
    build = base.select(
        F.col(user_col).alias("_bu"),
        F.col(id_col).alias("_bid"),
        F.col(lat_col).alias("_by"),
        F.col(lon_col).alias("_bx"),
        F.col("_us").alias("_bus"),
        F.col("gx").alias("jx"),
        F.col("gy").alias("jy"),
        tb.alias("jt"),
    )
    dx = F.col("_px") - F.col("_bx")
    dy = F.col("_py") - F.col("_by")
    dt = F.col("_pus") - F.col("_bus")
    # explicit-count repartition on the join key: the shuffled columns are
    # narrow, so AQE's byte-based coalescing would run the (compute-heavy)
    # candidate join as ~1 task (the simplify_trajectories trap); the
    # pinned hash partitioning satisfies both join children's distribution
    n_parts = int(pings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    probe = probe.repartition(n_parts, "jx", "jy", "jt")
    hits = probe.join(build, on=["jx", "jy", "jt"]).where(
        (F.col("_pu") != F.col("_bu"))
        & (~F.col("_oz") | (F.col("_pid") < F.col("_bid")))
        & (dx * dx + dy * dy <= F.lit(r * r))
        & (dt >= -F.lit(w))
        & (dt <= F.lit(w))
    )
    return (
        hits.select(
            F.least(F.col("_pu"), F.col("_bu")).alias("user_a"),
            F.greatest(F.col("_pu"), F.col("_bu")).alias("user_b"),
            (dx * dx + dy * dy).alias("d2"),
            F.least(F.col("_pus"), F.col("_bus")).alias("_cus"),
        )
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("n_contacts"),
            F.min("d2").alias("min_d2"),
            F.min("_cus").alias("first_us"),
        )
    )
