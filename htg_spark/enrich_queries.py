"""Driver-contract queries for the enrichment pipelines (S6 CSV, S7 GeoJSON,
F6 formatting) with DuckDB oracle SQL — the reference's main CLI workflow
(htg-cli/src/commands/batch.rs:52-300) value-checked end-to-end.

CSV semantics under test (batch.rs:101-141): lat/lon columns located by
name among string-typed CSV columns, appended `elevation` column, literal
"void" on missing/void/out-of-coverage (batch.rs:119,126), {:.2}
formatting for interpolated values (batch.rs:118 — correctly-rounded
decimal formatting, identical across Rust {:.2} / Python %.2f / DuckDB
printf because all three are correctly rounded).

GeoJSON semantics under test (htg/src/geojson.rs:131-169, batch.rs:225-229):
every position of every geometry type gains a Z in depth-first document
order, existing Z overwritten, missing data -> z=0. The oracle embeds the
walk order as a HAND-WRITTEN VALUES table (independent of the pipeline's
_walk_positions recursion), so an ordering bug surfaces as a value
mismatch, not a self-fulfilling comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .csv_pipeline import enrich_csv_df
from .driver_queries import (
    _SQL_BILINEAR_ELEV,
    _SQL_BILINEAR_RC,
    _SQL_NEAREST_ELEV,
    _SQL_PTS,
    _SQL_ROUND_RC,
    _events,
    get_engine,
    derive_points,
)
from .geojson_pipeline import explode_positions, features_to_df


# --- S6: CSV enrichment ----------------------------------------------------------


def q_csv_enrich(spark, sf_dir):
    """CSV batch enrichment, non-interpolated: string-typed input columns
    with non-default names ('latitude'/'longitude', main.rs:64-70), output
    elevation as integer string or the literal "void"."""
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    csv_df = pts.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("lat").cast("string").alias("latitude"),
        F.col("lon").cast("string").alias("longitude"),
    )
    out = enrich_csv_df(eng, csv_df, lat_col="latitude", lon_col="longitude")
    return out.select(F.col("id").cast("long").alias("event_id"), "elevation")


def q_csv_enrich_interp(spark, sf_dir):
    """CSV batch enrichment, interpolated: bilinear elevations formatted
    {:.2} (batch.rs:118), any-void-corner/missing -> "void"."""
    eng = get_engine(spark)
    pts = derive_points(_events(spark, sf_dir))
    csv_df = pts.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("lat").cast("string").alias("lat"),
        F.col("lon").cast("string").alias("lon"),
    )
    out = enrich_csv_df(eng, csv_df, interpolate=True)
    return out.select(F.col("id").cast("long").alias("event_id"), "elevation")


# --- S7: GeoJSON enrichment ------------------------------------------------------
#
# One fixed document covering all 7 geometry types plus the semantic edge
# cases: missing tile (50.x), out-of-coverage (lat 75.x), an existing Z to
# overwrite, and a void cell. Coordinates are short exact decimals so both
# engines parse identical doubles.

GEOJSON_DOC = {
    "type": "FeatureCollection",
    "features": [
        {"type": "Feature", "properties": {"name": "pt"},
         "geometry": {"type": "Point", "coordinates": [138.5, 35.5]}},
        {"type": "Feature", "properties": None,
         "geometry": {"type": "MultiPoint",
                      "coordinates": [[138.25, 35.25], [50.5, 50.5]]}},
        {"type": "Feature", "properties": {"name": "ls"},
         "geometry": {"type": "LineString",
                      "coordinates": [[139.1, 35.9], [10.0, 75.5], [138.0, 36.5]]}},
        {"type": "Feature", "properties": None,
         "geometry": {"type": "MultiLineString",
                      "coordinates": [[[138.6, 35.1], [138.7, 35.2]],
                                      [[139.4, 35.6], [139.5, 35.7]]]}},
        {"type": "Feature", "properties": {"name": "poly"},
         "geometry": {"type": "Polygon",
                      "coordinates": [[[138.2, 35.8, 999.0], [138.3, 35.8],
                                       [138.3, 35.9], [138.2, 35.8]]]}},
        {"type": "Feature", "properties": None,
         "geometry": {"type": "MultiPolygon",
                      "coordinates": [[[[138.9, 36.1], [138.95, 36.1],
                                        [138.9, 36.2]]]]}},
        {"type": "Feature", "properties": {"name": "gc"},
         "geometry": {"type": "GeometryCollection",
                      "geometries": [
                          {"type": "Point", "coordinates": [138.05, 36.05]},
                          {"type": "LineString",
                           "coordinates": [[139.8, 35.3], [139.9, 35.4]]},
                      ]}},
    ],
}

# HAND-WRITTEN depth-first position order (geojson.rs:131-154): the
# independent specification the pipeline's walk is checked against.
_GEOJSON_POSITIONS = [
    # (feature_id, pos_idx, lon, lat)
    (0, 0, 138.5, 35.5),
    (1, 0, 138.25, 35.25),
    (1, 1, 50.5, 50.5),          # missing tile -> z=0
    (2, 0, 139.1, 35.9),
    (2, 1, 10.0, 75.5),          # out of coverage -> z=0
    (2, 2, 138.0, 36.5),
    (3, 0, 138.6, 35.1),
    (3, 1, 138.7, 35.2),
    (3, 2, 139.4, 35.6),
    (3, 3, 139.5, 35.7),
    (4, 0, 138.2, 35.8),         # had z=999.0 -> overwritten
    (4, 1, 138.3, 35.8),
    (4, 2, 138.3, 35.9),
    (4, 3, 138.2, 35.8),
    (5, 0, 138.9, 36.1),
    (5, 1, 138.95, 36.1),
    (5, 2, 138.9, 36.2),
    (6, 0, 138.05, 36.05),
    (6, 1, 139.8, 35.3),
    (6, 2, 139.9, 35.4),
]


def q_geojson_enrich(spark, sf_dir):
    """GeoJSON enrichment, exploded view: (feature_id, pos_idx, lon, lat, z)
    for every position of every geometry type in depth-first order, z from
    the nearest kernel with the missing/void/ooc -> 0 rule
    (geojson.rs:166). Row count is fixed by the document (like
    bbox_preload); re-nesting back to geometry JSON is covered by
    tests/test_enrich_pipelines.py."""
    eng = get_engine(spark)
    feats = features_to_df(spark, GEOJSON_DOC)
    pts = explode_positions(feats)
    joined = eng.elevation_join(pts, mode="nearest", strategy="broadcast")
    return joined.select(
        "feature_id",
        "pos_idx",
        "lon",
        "lat",
        F.coalesce(F.col("elevation").cast("int"), F.lit(0)).alias("z"),
    )


# --- oracle SQL ------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    csv_nearest = (
        _SQL_PTS
        + ", "
        + _SQL_ROUND_RC
        + f"""
SELECT event_id,
  COALESCE(CAST({_SQL_NEAREST_ELEV} AS VARCHAR), 'void') AS elevation
FROM rc
"""
    )
    # bilinear closed form (the SHARED _SQL_BILINEAR_* fragments — one copy
    # of the bit-parity-critical expression) then {:.2} formatting;
    # printf('%.2f') is correctly-rounded in DuckDB (fmt) exactly like
    # Python's %.2f (PyOS_double_to_string)
    csv_interp = (
        _SQL_PTS
        + ", "
        + _SQL_BILINEAR_RC
        + f""",
e AS (
  SELECT event_id, {_SQL_BILINEAR_ELEV} AS elev FROM rc
)
SELECT event_id,
  CASE WHEN elev IS NULL THEN 'void' ELSE printf('%.2f', elev) END AS elevation
FROM e
"""
    )
    vals = ",\n  ".join(
        f"({fid}, {pidx}, {lon!r}, {lat!r})"
        for fid, pidx, lon, lat in _GEOJSON_POSITIONS
    )
    geojson = f"""
WITH gpos(feature_id, pos_idx, lon, lat) AS (VALUES
  {vals}
),
gk AS (
  SELECT *,
    CAST(floor(lat) AS INTEGER) AS tl, CAST(floor(lon) AS INTEGER) AS tn,
    (lat >= -60.0 AND lat <= 60.0 AND lon >= -180.0 AND lon <= 180.0) AS in_cov,
    ((CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 138)
     OR (CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 139)
     OR (CAST(floor(lat) AS INTEGER) = 36 AND CAST(floor(lon) AS INTEGER) = 138)) AS has_tile,
    (1.0 - (lat - floor(lat))) * 1200.0 AS rp,
    (lon - floor(lon)) * 1200.0 AS cp
  FROM gpos
),
grc AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c
  FROM gk
)
SELECT feature_id, pos_idx, lon, lat,
  COALESCE(CASE WHEN in_cov AND has_tile AND ((r * 1201 + c) % 97 <> 0)
                THEN CAST((r + c) % 4000 AS INTEGER) ELSE NULL END, 0) AS z
FROM grc
"""
    return {
        "csv_enrich": csv_nearest,
        "csv_enrich_interp": csv_interp,
        "geojson_enrich": geojson,
    }


def queries():
    return {
        "csv_enrich": q_csv_enrich,
        "csv_enrich_interp": q_csv_enrich_interp,
        "geojson_enrich": q_geojson_enrich,
    }
