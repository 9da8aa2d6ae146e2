"""Point-in-polygon driver query + DuckDB oracle.

Fixture: 25 deterministic concave star polygons (4-spike octagons) derived
from the `nation` table via exact closed forms (integer-mod centers, radii
in {0.25, 0.75, 1.25, 1.75} degrees — up to 4x4 half-degree cells each), and
a point set derived from `events` that is half clustered around the stars
(dense-cluster skew, the north rule's case) and half spread over the globe.
Every coordinate is an integer-mod-then-divide closed form, so the Spark
side and the DuckDB oracle compute bitwise-identical doubles, and the
PNPOLY crossing expression (operators/polygon.py) matches exactly.

The oracle is *independent*: it prunes candidates by the polygon bbox
(a range join) instead of mirroring the covering-cell equi-join, then
applies the same ray-crossing parity — so a covering-cell bug (a missed
cell, a wrong index) shows up as a value mismatch, not a shared blind spot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import polygon as poly_op

# concave 4-spike star: unit offsets scaled by r; every value is an exact
# binary fraction so cx + dx*r is bit-identical across Spark/DuckDB/Python
STAR_OFFSETS = [
    (1.0, 0.0),
    (0.25, 0.25),
    (0.0, 1.0),
    (-0.25, 0.25),
    (-1.0, 0.0),
    (-0.25, -0.25),
    (0.0, -1.0),
    (0.25, -0.25),
]

PIP_LEVEL = 1  # half-degree cells


def derive_polygons(nation: DataFrame) -> DataFrame:
    """(poly_id, ring) star polygons — MUST mirror the SQL in oracle_sql()."""
    nk = F.col("n_nationkey").cast("long")
    cx = ((F.lit(-170) + (nk * 29) % 340).cast("double") + F.lit(0.5)).alias("cx")
    cy = ((F.lit(-55) + (nk * 37) % 110).cast("double") + F.lit(0.25)).alias("cy")
    r = (F.lit(0.25) + (nk % 4).cast("double") * F.lit(0.5)).alias("r")
    base = nation.select(nk.alias("poly_id"), cx, cy, r)
    ring = F.array(
        *[
            F.struct(
                (F.col("cx") + F.lit(dx) * F.col("r")).alias("x"),
                (F.col("cy") + F.lit(dy) * F.col("r")).alias("y"),
            )
            for dx, dy in STAR_OFFSETS
        ]
    )
    return base.select("poly_id", ring.alias("ring"))


def derive_pip_points(
    events: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(event_id, px, py) — half clustered at the star of event_id%25
    (within +-2 deg of its center), half spread globally. Mirrors _SQL_PTS."""
    e = F.col("event_id")
    u = F.col("user_id")
    nk = e % 25
    cxe = (F.lit(-170) + (nk * 29) % 340).cast("double") + F.lit(0.5)
    cye = (F.lit(-55) + (nk * 37) % 110).cast("double") + F.lit(0.25)
    px = F.when(
        e % 2 == 0,
        (cxe - F.lit(2.0)) + ((e * 7 + u) % 4000).cast("double") / F.lit(1000.0),
    ).otherwise(
        F.lit(-178.0) + ((e * 17 + u) % 356000).cast("double") / F.lit(1000.0)
    )
    py = F.when(
        e % 2 == 0,
        (cye - F.lit(2.0)) + ((e * 11 + u * 3) % 4000).cast("double") / F.lit(1000.0),
    ).otherwise(
        F.lit(-58.0) + ((e * 13 + u) % 116000).cast("double") / F.lit(1000.0)
    )
    return events.select("event_id", *extra_cols, px.alias("px"), py.alias("py"))


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-pruned PNPOLY join, broadcast strategy + fold exact test —
    map-only over the points scan (the J1 shape, applied to vector geometry)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return poly_op.point_in_polygon_join(
        derive_pip_points(events),
        derive_polygons(nation),
        level=PIP_LEVEL,
        strategy="broadcast",
        exact="fold",
    )


_SQL_POLYS = """
polys AS (
  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
         CAST(-170 + (CAST(n_nationkey AS BIGINT) * 29) % 340 AS DOUBLE) + 0.5 AS cx,
         CAST(-55 + (CAST(n_nationkey AS BIGINT) * 37) % 110 AS DOUBLE) + 0.25 AS cy,
         0.25 + CAST(CAST(n_nationkey AS BIGINT) % 4 AS DOUBLE) * 0.5 AS r
  FROM nation
)
"""

_SQL_PTS = """
pts AS (
  SELECT event_id,
    CASE WHEN event_id % 2 = 0
         THEN (CAST(-170 + ((event_id % 25) * 29) % 340 AS DOUBLE) + 0.5 - 2.0)
              + CAST((event_id * 7 + user_id) % 4000 AS DOUBLE) / 1000.0
         ELSE -178.0 + CAST((event_id * 17 + user_id) % 356000 AS DOUBLE) / 1000.0
    END AS px,
    CASE WHEN event_id % 2 = 0
         THEN (CAST(-55 + ((event_id % 25) * 37) % 110 AS DOUBLE) + 0.25 - 2.0)
              + CAST((event_id * 11 + user_id * 3) % 4000 AS DOUBLE) / 1000.0
         ELSE -58.0 + CAST((event_id * 13 + user_id) % 116000 AS DOUBLE) / 1000.0
    END AS py
  FROM events
)
"""


def _edges_values_sql() -> str:
    """VALUES rows (dx1, dy1, dx2, dy2) for the closed star ring, generated
    from STAR_OFFSETS — the single source of truth for both sides."""
    rows = []
    n = len(STAR_OFFSETS)
    for i in range(n):
        dx1, dy1 = STAR_OFFSETS[i]
        dx2, dy2 = STAR_OFFSETS[(i + 1) % n]
        rows.append(f"({dx1!r}, {dy1!r}, {dx2!r}, {dy2!r})")
    return ",\n          ".join(rows)


def _pip_oracle_sql() -> str:
    return f"""
WITH {_SQL_POLYS.strip()},
{_SQL_PTS.strip()},
edges AS (
  SELECT poly_id, cx, cy, r,
         cx + o.dx1 * r AS x1, cy + o.dy1 * r AS y1,
         cx + o.dx2 * r AS x2, cy + o.dy2 * r AS y2
  FROM polys
  CROSS JOIN (VALUES {_edges_values_sql()}) AS o(dx1, dy1, dx2, dy2)
),
cand AS (
  SELECT p.event_id, p.px, p.py, e.poly_id, e.x1, e.y1, e.x2, e.y2
  FROM pts p JOIN edges e
    ON p.px >= e.cx - e.r AND p.px <= e.cx + e.r
   AND p.py >= e.cy - e.r AND p.py <= e.cy + e.r
),
hits AS (
  SELECT event_id, px, py, poly_id,
         SUM(CASE WHEN (y1 > py) <> (y2 > py)
                  THEN CASE WHEN px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
                            THEN 1 ELSE 0 END
                  ELSE 0 END) AS crossings
  FROM cand
  GROUP BY event_id, px, py, poly_id
)
SELECT event_id, px, py, poly_id FROM hits WHERE crossings % 2 = 1
"""


# --- zonal statistics: the composed raster<->vector rollup ------------------
#
# point_in_polygon_join (broadcast, map-only) -> nearest-elevation kernel
# (broadcast, map-only) -> ONE narrow groupBy(poly_id) with partial
# aggregation. At 100 TB this is two chained broadcast joins over the point
# scan plus one shuffle of five numeric columns — the classic zonal-stats
# plan shape. All aggregates are exact-integer (sum/count of int elevations;
# avg is one exact-int division), so Spark and DuckDB agree bitwise with no
# float-summation-order hazard.


def derive_zonal_polygons(nation: DataFrame) -> DataFrame:
    """Stars over the engine's 3-tile catalog region (lat 35-37, lon
    138-140); every coordinate is an exact binary fraction. Mirrors the
    zpolys CTE in the oracle."""
    nk = F.col("n_nationkey").cast("long")
    base = nation.select(
        nk.alias("poly_id"),
        (F.lit(138.0) + ((nk * 5) % 16).cast("double") * F.lit(0.125)).alias("cx"),
        (F.lit(35.0) + ((nk * 11) % 16).cast("double") * F.lit(0.125)).alias("cy"),
        (F.lit(0.125) + (nk % 3).cast("double") * F.lit(0.125)).alias("r"),
    )
    ring = F.array(
        *[
            F.struct(
                (F.col("cx") + F.lit(dx) * F.col("r")).alias("x"),
                (F.col("cy") + F.lit(dy) * F.col("r")).alias("y"),
            )
            for dx, dy in STAR_OFFSETS
        ]
    )
    return base.select("poly_id", ring.alias("ring"))


def q_polygon_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon elevation rollup of the contained points (zonal stats)."""
    from .driver_queries import derive_points, get_engine

    eng = get_engine(spark)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    contained = poly_op.point_in_polygon_join(
        derive_points(events),
        derive_zonal_polygons(nation),
        x_col="lon",
        y_col="lat",
        level=PIP_LEVEL,
        strategy="broadcast",
        exact="fold",
    )
    enriched = eng.elevation_join(contained, mode="nearest", strategy="broadcast")
    elev = F.col("elevation").cast("int")
    n_elev = F.count(elev)
    return enriched.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_pts"),
        n_elev.alias("n_elev"),
        F.coalesce(F.sum(elev), F.lit(0)).cast("long").alias("sum_elev"),
        F.min(elev).alias("min_elev"),
        F.max(elev).alias("max_elev"),
        F.when(
            n_elev > 0, F.sum(elev).cast("double") / n_elev.cast("double")
        ).alias("avg_elev"),
    )


def _zonal_oracle_sql() -> str:
    from .driver_queries import _SQL_NEAREST_ELEV, _SQL_PTS, _SQL_ROUND_RC

    # _SQL_PTS opens the WITH and yields pts/keyed/pos; _SQL_ROUND_RC adds rc
    return f"""
{_SQL_PTS.strip()},
{_SQL_ROUND_RC.strip().rstrip()},
zpolys AS (
  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
         138.0 + CAST((CAST(n_nationkey AS BIGINT) * 5) % 16 AS DOUBLE) * 0.125 AS cx,
         35.0 + CAST((CAST(n_nationkey AS BIGINT) * 11) % 16 AS DOUBLE) * 0.125 AS cy,
         0.125 + CAST(CAST(n_nationkey AS BIGINT) % 3 AS DOUBLE) * 0.125 AS r
  FROM nation
),
zedges AS (
  SELECT poly_id, cx, cy, r,
         cx + o.dx1 * r AS x1, cy + o.dy1 * r AS y1,
         cx + o.dx2 * r AS x2, cy + o.dy2 * r AS y2
  FROM zpolys
  CROSS JOIN (VALUES {_edges_values_sql()}) AS o(dx1, dy1, dx2, dy2)
),
zcand AS (
  SELECT p.event_id, p.lon AS px, p.lat AS py, e.poly_id, e.x1, e.y1, e.x2, e.y2
  FROM pts p JOIN zedges e
    ON p.lon >= e.cx - e.r AND p.lon <= e.cx + e.r
   AND p.lat >= e.cy - e.r AND p.lat <= e.cy + e.r
),
zhits AS (
  SELECT event_id, poly_id,
         SUM(CASE WHEN (y1 > py) <> (y2 > py)
                  THEN CASE WHEN px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
                            THEN 1 ELSE 0 END
                  ELSE 0 END) AS crossings
  FROM zcand
  GROUP BY event_id, poly_id
),
contained AS (
  SELECT event_id, poly_id FROM zhits WHERE crossings % 2 = 1
),
elev AS (
  SELECT event_id, {_SQL_NEAREST_ELEV.strip()} AS elevation FROM rc
)
SELECT c.poly_id,
       COUNT(*) AS n_pts,
       COUNT(e.elevation) AS n_elev,
       CAST(COALESCE(SUM(e.elevation), 0) AS BIGINT) AS sum_elev,
       MIN(e.elevation) AS min_elev,
       MAX(e.elevation) AS max_elev,
       CASE WHEN COUNT(e.elevation) > 0
            THEN CAST(SUM(e.elevation) AS DOUBLE) / CAST(COUNT(e.elevation) AS DOUBLE)
            ELSE NULL END AS avg_elev
FROM contained c JOIN elev e USING (event_id)
GROUP BY c.poly_id
"""


def q_images_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule input path through the PIP join: input_hint-shaped
    (image_id, phash) rows -> JVM-side phash bit-extraction geotags -> star
    polygons over the catalog region. Same map-only broadcast shape."""
    from . import cells
    from .driver_queries import derive_image_phash

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    imgs = derive_image_phash(events).withColumns(
        {
            "lat": cells.lat_from_phash(F.col("phash")),
            "lon": cells.lon_from_phash(F.col("phash")),
        }
    )
    return poly_op.point_in_polygon_join(
        imgs,
        derive_zonal_polygons(nation),
        x_col="lon",
        y_col="lat",
        level=PIP_LEVEL,
        strategy="broadcast",
        exact="fold",
    )


def _images_pip_oracle_sql() -> str:
    from .driver_queries import images_pts_cte

    return f"""
{images_pts_cte().strip()},
zpolys AS (
  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
         138.0 + CAST((CAST(n_nationkey AS BIGINT) * 5) % 16 AS DOUBLE) * 0.125 AS cx,
         35.0 + CAST((CAST(n_nationkey AS BIGINT) * 11) % 16 AS DOUBLE) * 0.125 AS cy,
         0.125 + CAST(CAST(n_nationkey AS BIGINT) % 3 AS DOUBLE) * 0.125 AS r
  FROM nation
),
zedges AS (
  SELECT poly_id, cx, cy, r,
         cx + o.dx1 * r AS x1, cy + o.dy1 * r AS y1,
         cx + o.dx2 * r AS x2, cy + o.dy2 * r AS y2
  FROM zpolys
  CROSS JOIN (VALUES {_edges_values_sql()}) AS o(dx1, dy1, dx2, dy2)
),
icand AS (
  SELECT i.image_id, i.phash, i.lat, i.lon, e.poly_id, e.x1, e.y1, e.x2, e.y2
  FROM ipts i JOIN zedges e
    ON i.lon >= e.cx - e.r AND i.lon <= e.cx + e.r
   AND i.lat >= e.cy - e.r AND i.lat <= e.cy + e.r
),
ihits AS (
  SELECT image_id, phash, lat, lon, poly_id,
         SUM(CASE WHEN (y1 > lat) <> (y2 > lat)
                  THEN CASE WHEN lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
                            THEN 1 ELSE 0 END
                  ELSE 0 END) AS crossings
  FROM icand
  GROUP BY image_id, phash, lat, lon, poly_id
)
SELECT image_id, phash, lat, lon, poly_id FROM ihits WHERE crossings % 2 = 1
"""


# --- GeoJSON containment: the parse path + hole / multi-part semantics ------
#
# Even nationkeys become a donut Polygon (outer square + hole), odd ones a
# two-part MultiPolygon — so the oracle exercises BOTH even-odd compositions
# (a hole subtracting, disjoint parts unioning). Corner offsets are in units
# of r and are the single source of truth for the Python JSON builder AND the
# oracle's VALUES edge table; every coordinate is (exact binary fraction) *
# (exact binary fraction) + (exact double), so Spark's parsed-ring PNPOLY and
# DuckDB's closed-form edges agree bitwise.

GEOJSON_RING_CORNERS = {
    0: [
        [(-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)],  # outer (CCW)
        [(-0.5, -0.5), (-0.5, 0.5), (0.5, 0.5), (0.5, -0.5)],  # hole (CW)
    ],
    1: [
        [(-1.5, -0.5), (-0.5, -0.5), (-0.5, 0.5), (-1.5, 0.5)],  # west part
        [(0.5, -0.5), (1.5, -0.5), (1.5, 0.5), (0.5, 0.5)],  # east part
    ],
}


def derive_geojson_features(nation: DataFrame) -> DataFrame:
    """(feature_id, geometry_json) GeoJSON features from `nation` closed
    forms — same centers/radii as `derive_polygons`. The JSON round trip is
    exact: json.dumps emits repr, which parses back to the identical double."""
    import json
    from collections.abc import Iterator

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fids, geoms = [], []
            for nk in pdf["n_nationkey"]:
                nk = int(nk)
                cx = float(-170 + (nk * 29) % 340) + 0.5
                cy = float(-55 + (nk * 37) % 110) + 0.25
                r = 0.25 + float(nk % 4) * 0.5
                rings = [
                    [[cx + dx * r, cy + dy * r] for dx, dy in corners]
                    for corners in GEOJSON_RING_CORNERS[nk % 2]
                ]
                closed = [ring + [list(ring[0])] for ring in rings]
                if nk % 2 == 0:
                    geom = {"type": "Polygon", "coordinates": closed}
                else:
                    geom = {
                        "type": "MultiPolygon",
                        "coordinates": [[rg] for rg in closed],
                    }
                fids.append(nk)
                geoms.append(json.dumps(geom))
            yield pd.DataFrame({"feature_id": fids, "geometry_json": geoms})

    return nation.select("n_nationkey").mapInPandas(
        gen, "feature_id long, geometry_json string"
    )


def q_geojson_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON (Multi)Polygon containment over the pip point set: JSON parse
    -> per-ring cell-pruned PNPOLY (map-only broadcast) -> ring-count parity."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return poly_op.geojson_point_in_polygon(
        derive_pip_points(events),
        derive_geojson_features(nation),
        level=PIP_LEVEL,
        strategy="broadcast",
        exact="fold",
    )


def _geojson_edges_values_sql() -> str:
    """VALUES rows (par, rid, dx1, dy1, dx2, dy2) — closed ring edges in
    units of r, generated from GEOJSON_RING_CORNERS."""
    rows = []
    for par, rings in GEOJSON_RING_CORNERS.items():
        for rid, corners in enumerate(rings):
            n = len(corners)
            for i in range(n):
                dx1, dy1 = corners[i]
                dx2, dy2 = corners[(i + 1) % n]
                rows.append(f"({par}, {rid}, {dx1!r}, {dy1!r}, {dx2!r}, {dy2!r})")
    return ",\n          ".join(rows)


def _geojson_oracle_sql() -> str:
    # Independent of the Spark plan: bbox range-join pruning (the feature-wide
    # bbox, x +-1.5r / y +-r, a superset of every ring), per-ring crossing
    # parity, then the even-odd ring count.
    return f"""
WITH {_SQL_POLYS.strip()},
{_SQL_PTS.strip()},
gedges AS (
  SELECT poly_id, cx, cy, r, o.rid,
         cx + o.dx1 * r AS x1, cy + o.dy1 * r AS y1,
         cx + o.dx2 * r AS x2, cy + o.dy2 * r AS y2
  FROM polys JOIN (VALUES {_geojson_edges_values_sql()})
         AS o(par, rid, dx1, dy1, dx2, dy2)
    ON polys.poly_id % 2 = o.par
),
gcand AS (
  SELECT p.event_id, p.px, p.py, e.poly_id, e.rid, e.x1, e.y1, e.x2, e.y2
  FROM pts p JOIN gedges e
    ON p.px >= e.cx - 1.5 * e.r AND p.px <= e.cx + 1.5 * e.r
   AND p.py >= e.cy - e.r AND p.py <= e.cy + e.r
),
rhits AS (
  SELECT event_id, px, py, poly_id, rid,
         SUM(CASE WHEN (y1 > py) <> (y2 > py)
                  THEN CASE WHEN px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
                            THEN 1 ELSE 0 END
                  ELSE 0 END) AS crossings
  FROM gcand
  GROUP BY event_id, px, py, poly_id, rid
)
SELECT event_id, px, py, poly_id AS feature_id
FROM rhits WHERE crossings % 2 = 1
GROUP BY event_id, px, py, poly_id
HAVING COUNT(*) % 2 = 1
"""


def q_polygon_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace area / centroid / perimeter for every star polygon
    (poly_op.polygon_metrics): one JVM fold over the closed edge ring,
    map-only, zero Exchanges. The oracle rebuilds each per-edge term from
    the star closed form and folds it left-to-right with list_reduce —
    the documented bit-parity order — so every float output (signed
    area2, area, centroid, perimeter) hash-matches bitwise. The fixture
    centroids land back on (cx, cy) and area2 > 0 proves the ring
    convention is CCW."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return poly_op.polygon_metrics(derive_polygons(nation))


def _metrics_oracle_sql() -> str:
    """Per-edge terms inlined from STAR_OFFSETS (single source of truth)
    into ordered DuckDB lists, folded with list_reduce (left-to-right,
    seeded with the first element == Spark's 0.0-seeded F.aggregate)."""
    n = len(STAR_OFFSETS)
    cl, sxl, syl, pll = [], [], [], []
    for i in range(n):
        dx1, dy1 = STAR_OFFSETS[i]
        dx2, dy2 = STAR_OFFSETS[(i + 1) % n]
        x1 = f"(cx + {dx1!r} * r)"
        y1 = f"(cy + {dy1!r} * r)"
        x2 = f"(cx + {dx2!r} * r)"
        y2 = f"(cy + {dy2!r} * r)"
        cross = f"(({x1} * {y2}) - ({x2} * {y1}))"
        cl.append(cross)
        sxl.append(f"(({x1} + {x2}) * {cross})")
        syl.append(f"(({y1} + {y2}) * {cross})")
        pll.append(
            f"sqrt(({x2} - {x1}) * ({x2} - {x1})"
            f" + ({y2} - {y1}) * ({y2} - {y1}))"
        )

    def lst(items):
        return "[" + ", ".join(items) + "]"

    return f"""
WITH {_SQL_POLYS.strip()},
folds AS (
  SELECT poly_id,
    list_reduce({lst(cl)}, (a, b) -> a + b) AS area2,
    list_reduce({lst(sxl)}, (a, b) -> a + b) AS sx,
    list_reduce({lst(syl)}, (a, b) -> a + b) AS sy,
    list_reduce({lst(pll)}, (a, b) -> a + b) AS perimeter
  FROM polys
)
SELECT poly_id, CAST({n} AS INTEGER) AS n_vertices,
  area2, abs(area2) / 2.0 AS area,
  CASE WHEN area2 <> 0.0 THEN sx / (area2 * 3.0) END AS cx,
  CASE WHEN area2 <> 0.0 THEN sy / (area2 * 3.0) END AS cy,
  perimeter
FROM folds
"""



def q_geofence_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, fence) dwell time + visit count over the pip fixture
    (poly_op.geofence_dwell): PNPOLY broadcast join composed with the
    sessionization windows; exact integer-microsecond dwell."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    pts = derive_pip_points(events, extra_cols=("user_id", "ts"))
    return poly_op.geofence_dwell(
        pts, derive_polygons(nation), level=PIP_LEVEL
    )



def _dwell_oracle_sql() -> str:
    """Token-mirror of geofence_dwell: the user timeline (row_number +
    lead on exact epoch micros, ties by event id) built BEFORE the PNPOLY
    parity test; entry = predecessor-on-full-timeline not inside the same
    fence; all sums exact BIGINT."""
    return f"""
WITH {_SQL_POLYS.strip()},
{_SQL_PTS.strip()},
tl AS (
  SELECT e.user_id, p.event_id, p.px, p.py,
    epoch_us(e.ts) AS us,
    row_number() OVER w AS rn,
    lead(epoch_us(e.ts)) OVER w AS nus
  FROM pts p JOIN events e USING (event_id)
  WINDOW w AS (PARTITION BY e.user_id ORDER BY epoch_us(e.ts) ASC, e.event_id ASC)
),
edges AS (
  SELECT poly_id, cx, cy, r,
         cx + o.dx1 * r AS x1, cy + o.dy1 * r AS y1,
         cx + o.dx2 * r AS x2, cy + o.dy2 * r AS y2
  FROM polys
  CROSS JOIN (VALUES {_edges_values_sql()}) AS o(dx1, dy1, dx2, dy2)
),
cand AS (
  SELECT t.user_id, t.rn, t.us, t.nus, t.px, t.py,
         e.poly_id, e.x1, e.y1, e.x2, e.y2
  FROM tl t JOIN edges e
    ON t.px >= e.cx - e.r AND t.px <= e.cx + e.r
   AND t.py >= e.cy - e.r AND t.py <= e.cy + e.r
),
hits AS (
  SELECT user_id, rn, us, nus, poly_id,
         SUM(CASE WHEN (y1 > py) <> (y2 > py)
                  THEN CASE WHEN px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
                            THEN 1 ELSE 0 END
                  ELSE 0 END) AS crossings
  FROM cand
  GROUP BY user_id, rn, us, nus, poly_id, px, py
),
flagged AS (
  SELECT user_id, poly_id, us, nus,
    CASE WHEN lag(rn) OVER w2 IS NULL OR lag(rn) OVER w2 <> rn - 1
         THEN 1 ELSE 0 END AS entry
  FROM hits WHERE crossings % 2 = 1
  WINDOW w2 AS (PARTITION BY user_id, poly_id ORDER BY rn ASC)
)
SELECT user_id, poly_id,
  count(*) AS n_inside,
  CAST(sum(entry) AS BIGINT) AS n_entries,
  CAST(sum(CASE WHEN nus IS NOT NULL THEN nus - us ELSE 0 END) AS BIGINT) AS dwell_us
FROM flagged GROUP BY user_id, poly_id
"""


def queries():
    return {
        "point_in_polygon": q_point_in_polygon,
        "polygon_metrics": q_polygon_metrics,
        "polygon_zonal_stats": q_polygon_zonal_stats,
        "images_in_polygon": q_images_in_polygon,
        "geojson_containment": q_geojson_containment,
        "geofence_dwell": q_geofence_dwell,
    }


def oracle_sql():
    return {
        "point_in_polygon": _pip_oracle_sql(),
        "polygon_metrics": _metrics_oracle_sql(),
        "polygon_zonal_stats": _zonal_oracle_sql(),
        "images_in_polygon": _images_pip_oracle_sql(),
        "geojson_containment": _geojson_oracle_sql(),
        "geofence_dwell": _dwell_oracle_sql(),
    }
