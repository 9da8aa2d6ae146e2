"""Point-in-polygon join (operators/polygon.py).

Ground truth is an independent pure-Python PNPOLY (same crossing construction,
W. Randolph Franklin's), evaluated per (point, polygon) pair over ALL pairs —
so a covering-cell bug (missed cell, wrong index, bbox slip) shows up as a
set difference, never a shared blind spot with the Spark side.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from htg_spark.operators.polygon import point_in_polygon_join
from htg_spark.polygon_queries import STAR_OFFSETS


def _pnpoly(px, py, ring):
    """Reference PNPOLY: crossing parity, strict > on y, < on x-intersect."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            if px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                inside = not inside
    return inside


POLY_SCHEMA = StructType(
    [
        StructField("poly_id", LongType()),
        StructField(
            "ring",
            ArrayType(
                StructType(
                    [StructField("x", DoubleType()), StructField("y", DoubleType())]
                )
            ),
        ),
    ]
)

PT_SCHEMA = StructType(
    [
        StructField("pt_id", LongType()),
        StructField("px", DoubleType()),
        StructField("py", DoubleType()),
    ]
)

# Polygons chosen to stress the covering-cell enumeration: a unit square
# straddling a degree boundary, a concave 4-spike star (points inside the
# bbox but OUTSIDE the polygon), a thin sliver spanning 3 degrees of lon,
# a triangle fully inside one half-degree cell, and a square in the
# negative-coordinate quadrant (floor() on negatives).
POLYGONS = [
    (0, [(-0.5, -0.5), (0.5, -0.5), (0.5, 0.5), (-0.5, 0.5)]),
    (1, [((10.0 + dx * 1.75), (5.0 + dy * 1.75)) for dx, dy in STAR_OFFSETS]),
    (2, [(20.0, 0.1), (23.0, 0.2), (23.0, 0.3), (20.0, 0.2)]),
    (3, [(40.25, 40.25), (40.4, 40.25), (40.3, 40.45)]),
    (4, [(-10.5, -20.5), (-9.5, -20.5), (-9.5, -19.5), (-10.5, -19.5)]),
]

# A deterministic point lattice covering every polygon's neighborhood plus
# far-away points (candidate join must drop them cheaply).
POINTS = []
_pid = 0
for cx, cy in [(0.0, 0.0), (10.0, 5.0), (21.5, 0.2), (40.3, 40.35), (-10.0, -20.0), (120.0, -60.0)]:
    for i in range(-4, 5):
        for j in range(-4, 5):
            POINTS.append((_pid, cx + i * 0.55, cy + j * 0.55))
            _pid += 1

EXPECTED = sorted(
    (pt, pid)
    for pt, px, py in POINTS
    for pid, ring in POLYGONS
    if _pnpoly(px, py, ring)
)


@pytest.fixture(scope="module")
def frames(spark):
    polys = spark.createDataFrame(
        [(pid, [{"x": float(x), "y": float(y)} for x, y in ring]) for pid, ring in POLYGONS],
        POLY_SCHEMA,
    )
    pts = spark.createDataFrame(POINTS, PT_SCHEMA)
    return pts, polys


def _run(frames, **kw):
    pts, polys = frames
    out = point_in_polygon_join(pts, polys, **kw)
    return sorted((r["pt_id"], r["poly_id"]) for r in out.collect())


def test_broadcast_fold_matches_reference(frames):
    assert _run(frames, strategy="broadcast", exact="fold") == EXPECTED
    assert len(EXPECTED) > 20  # the fixture actually exercises containment


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
@pytest.mark.parametrize("exact", ["fold", "explode"])
def test_all_strategy_exact_combinations_agree(frames, strategy, exact):
    assert _run(frames, strategy=strategy, exact=exact) == EXPECTED


def test_level_invariance(frames):
    # the covering level changes candidate counts, never the answer
    for level in (0, 2):
        assert _run(frames, level=level) == EXPECTED


def test_concave_star_bbox_interior_is_outside(spark):
    """Points inside the star's bbox but in a concave notch must NOT match —
    this is what separates PNPOLY from the bbox prune."""
    ring = [(0.0 + dx, 0.0 + dy) for dx, dy in STAR_OFFSETS]
    polys = spark.createDataFrame(
        [(7, [{"x": x, "y": y} for x, y in ring])], POLY_SCHEMA
    )
    # (0.7, 0.7): inside bbox [-1,1]^2, outside the 4-spike star
    # (0.0, 0.0): dead center, inside; (0.8, 0.05): inside the east spike
    # (the spike edge (1,0)->(0.25,0.25) crosses y=0.05 at x=0.85)
    cases = [(0, 0.7, 0.7), (1, 0.0, 0.0), (2, 0.8, 0.05)]
    assert [pid for pid, x, y in cases if _pnpoly(x, y, ring)] == [1, 2]
    pts = spark.createDataFrame(cases, PT_SCHEMA)
    got = sorted(
        (r["pt_id"], r["poly_id"])
        for r in point_in_polygon_join(pts, polys).collect()
    )
    assert got == [(1, 7), (2, 7)]


def test_ring_with_hole_parity(spark):
    """A hole expressed as a second ring concatenated into the same edges
    array: crossing parity composes (outer odd + inner odd = even = outside
    the holed region). Donut = square [0,4]^2 minus square [1,3]^2."""
    outer = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    inner = [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)]
    # concatenating the two closed rings into one ring column would add a
    # spurious bridge edge outer[-1]->inner[0]; instead express the donut as
    # TWO polygon rows sharing poly_id via parity of total matches — here we
    # just assert each ring behaves independently and composes by parity.
    polys = spark.createDataFrame(
        [
            (0, [{"x": x, "y": y} for x, y in outer]),
            (1, [{"x": x, "y": y} for x, y in inner]),
        ],
        POLY_SCHEMA,
    )
    pts = spark.createDataFrame(
        [(0, 2.0, 2.0), (1, 0.5, 0.5), (2, 5.0, 5.0)], PT_SCHEMA
    )
    got = sorted(
        (r["pt_id"], r["poly_id"])
        for r in point_in_polygon_join(pts, polys).collect()
    )
    # point 0 is in BOTH rings (even parity across them -> in the hole);
    # point 1 only in the outer; point 2 in neither
    assert got == [(0, 0), (0, 1), (1, 0)]
    by_pt = {}
    for pt, _ in got:
        by_pt[pt] = by_pt.get(pt, 0) + 1
    assert by_pt.get(0, 0) % 2 == 0  # hole: even parity
    assert by_pt.get(1, 0) % 2 == 1  # solid: odd parity


def test_invalid_args(frames):
    pts, polys = frames
    with pytest.raises(ValueError):
        point_in_polygon_join(pts, polys, exact="nope")
    with pytest.raises(ValueError):
        point_in_polygon_join(pts, polys, strategy="nope")


def test_zonal_stats_matches_pure_python(spark):
    """polygon_zonal_stats at sf0.001 vs a from-scratch Python reference:
    derive points + polygons by the same closed forms, PNPOLY over ALL
    pairs, closed-form nearest elevation (gradient catalog (r+c)%4000,
    voids at (r*1201+c)%97==0, tiles {35/138, 35/139, 36/138}), exact-int
    rollup. Independent of both the Spark operators and the DuckDB oracle."""
    import math

    import pandas as pd

    from htg_spark.polygon_queries import q_polygon_zonal_stats

    sf_dir = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[["event_id", "user_id"]]

    def pt(e, u):
        if e % 37 == 0:
            return 75.0 + (e % 1000) / 1000.0, 10.0 + (u % 1000) / 1000.0
        if e % 11 == 0:
            return 50.0 + (e % 900) / 1000.0, 50.0 + (u % 900) / 1000.0
        if e % 3 == 0:
            return 35.42 + (e % 100) / 10000.0, 138.77 + (u % 100) / 10000.0
        return 35.0 + (e % 2000) / 1000.0, 138.0 + ((e * 7 + u) % 2000) / 1000.0

    def elev(lat, lon):
        tl, tn = math.floor(lat), math.floor(lon)
        if not (-60.0 <= lat <= 60.0 and -180.0 <= lon <= 180.0):
            return None
        if (tl, tn) not in {(35, 138), (35, 139), (36, 138)}:
            return None
        rp = (1.0 - (lat - tl)) * 1200.0
        cp = (lon - tn) * 1200.0
        r = int(math.floor(rp)) + (1 if rp - math.floor(rp) >= 0.5 else 0)
        c = int(math.floor(cp)) + (1 if cp - math.floor(cp) >= 0.5 else 0)
        return None if (r * 1201 + c) % 97 == 0 else (r + c) % 4000

    polys = {}
    for nk in range(25):
        cx = 138.0 + ((nk * 5) % 16) * 0.125
        cy = 35.0 + ((nk * 11) % 16) * 0.125
        r = 0.125 + (nk % 3) * 0.125
        polys[nk] = [(cx + dx * r, cy + dy * r) for dx, dy in STAR_OFFSETS]

    agg = {}
    for e, u in ev.itertuples(index=False):
        lat, lon = pt(int(e), int(u))
        for pid, ring in polys.items():
            if _pnpoly(lon, lat, ring):
                z = elev(lat, lon)
                a = agg.setdefault(pid, [0, 0, 0, None, None])
                a[0] += 1
                if z is not None:
                    a[1] += 1
                    a[2] += z
                    a[3] = z if a[3] is None else min(a[3], z)
                    a[4] = z if a[4] is None else max(a[4], z)
    expected = {
        pid: (n, ne, s, mn, mx, (s / ne if ne else None))
        for pid, (n, ne, s, mn, mx) in agg.items()
    }

    got = {
        r["poly_id"]: (
            r["n_pts"], r["n_elev"], r["sum_elev"], r["min_elev"],
            r["max_elev"], r["avg_elev"],
        )
        for r in q_polygon_zonal_stats(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(expected) >= 3  # the sf0.001 fixture really hits polygons


def test_refine_false_matches_reference(frames):
    for strategy in ("broadcast", "shuffle"):
        assert _run(frames, strategy=strategy, refine=False) == EXPECTED


def test_refinement_prunes_cells_conservatively(spark, frames):
    """The refined covering is strictly smaller on the concave fixture, and
    never drops a cell that holds an actually-contained point (checked
    against an independent pure-Python cell computation)."""
    import math

    from htg_spark.operators.polygon import (
        polygon_cells,
        refined_cell_flag,
        with_edges,
    )

    _pts, polys = frames
    cells = polygon_cells(with_edges(polys), 1)
    n_all = cells.count()
    kept = {
        (r["poly_id"], r["pip_cell"])
        for r in cells.where(
            refined_cell_flag(F.col("edges"), F.col("pip_cell"), 1)
        ).collect()
    }
    # the star bbox corners / sliver corners really get pruned
    assert len(kept) < n_all - 5

    def cell_py(x, y, level=1):
        k = 1 << level
        gy = (math.floor(y) + 90) * k + math.floor((y - math.floor(y)) * k)
        gx = (math.floor(x) + 180) * k + math.floor((x - math.floor(x)) * k)
        return gy * (361 * k) + gx

    pts_by_id = {pid: (x, y) for pid, x, y in POINTS}
    for pt, poly in EXPECTED:
        x, y = pts_by_id[pt]
        assert (poly, cell_py(x, y)) in kept, (pt, poly)


def test_geojson_point_in_polygon_even_odd(spark):
    """GeoJSON (Multi)Polygon containment: donut hole excluded (even-odd),
    both MultiPolygon parts included, closed rings stripped, non-polygon
    geometries ignored."""
    import json

    from htg_spark.operators.polygon import (
        geojson_point_in_polygon,
        rings_from_geojson,
    )

    donut = {
        "type": "Polygon",
        "coordinates": [
            [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
            [[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0], [1.0, 1.0]],
        ],
    }
    two_parts = {
        "type": "MultiPolygon",
        "coordinates": [
            [[[10.0, 10.0], [11.0, 10.0], [11.0, 11.0], [10.0, 11.0], [10.0, 10.0]]],
            [[[20.0, 20.0], [21.0, 20.0], [21.0, 21.0], [20.0, 21.0], [20.0, 20.0]]],
        ],
    }
    line = {"type": "LineString", "coordinates": [[0.0, 0.0], [9.0, 9.0]]}
    collection = {
        "type": "GeometryCollection",
        "geometries": [
            {"type": "Point", "coordinates": [30.0, 30.0]},
            {
                "type": "GeometryCollection",  # nested collection recurses
                "geometries": [
                    {
                        "type": "Polygon",
                        "coordinates": [
                            [[30.0, 30.0], [31.0, 30.0], [31.0, 31.0], [30.0, 31.0], [30.0, 30.0]]
                        ],
                    }
                ],
            },
        ],
    }
    features = spark.createDataFrame(
        [
            (0, json.dumps(donut)),
            (1, json.dumps(two_parts)),
            (2, json.dumps(line)),
            (3, json.dumps(collection)),
        ],
        "feature_id long, geometry_json string",
    )

    rings = rings_from_geojson(features).collect()
    assert sorted((r["feature_id"], r["ring_id"]) for r in rings) == [
        (0, 0), (0, 1), (1, 0), (1, 1), (3, 0),
    ]
    assert all(len(r["ring"]) == 4 for r in rings)  # closing position stripped

    pts = spark.createDataFrame(
        [
            (0, 0.5, 0.5),    # donut solid part
            (1, 2.0, 2.0),    # donut hole -> excluded
            (2, 10.5, 10.5),  # multipolygon part 1
            (3, 20.5, 20.5),  # multipolygon part 2
            (4, 50.0, 50.0),  # nowhere
            (5, 30.5, 30.5),  # inside the collection's nested polygon
        ],
        "pt_id long, px double, py double",
    )
    got = sorted(
        (r["pt_id"], r["feature_id"])
        for r in geojson_point_in_polygon(pts, features).collect()
    )
    assert got == [(0, 0), (2, 1), (3, 1), (5, 3)]


def test_polygon_metrics_exact_and_plan(spark):
    """Shoelace fold vs an independent pure-Python left-to-right
    recompute (same documented op order) on polygons the closed forms
    never touch: a unit square (area 1, centroid at its center), a CW
    triangle (negative area2), and a concave ring. Plan must stay
    map-only (zero Exchanges)."""
    from htg_spark.operators.polygon import polygon_metrics
    from htg_spark.profile import absent, faults, plan_nodes, render

    rings = {
        1: [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)],  # CCW square
        2: [(0.0, 0.0), (0.0, 2.0), (3.0, 0.0)],  # CW triangle
        3: [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, 1.0), (0.0, 4.0)],  # concave
    }
    df = spark.createDataFrame(
        [(k, [{"x": x, "y": y} for x, y in v]) for k, v in rings.items()],
        "poly_id long, ring array<struct<x double, y double>>",
    )
    out = polygon_metrics(df)

    nodes = plan_nodes(out)
    assert not faults(nodes, [absent("Exchange")]), render(nodes)

    got = {r.poly_id: r for r in out.collect()}
    for k, ring in rings.items():
        a2 = sx = sy = pl = 0.0
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            cross = (x1 * y2) - (x2 * y1)
            a2 = a2 + cross
            sx = sx + (x1 + x2) * cross
            sy = sy + (y1 + y2) * cross
            pl = pl + math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
        r = got[k]
        assert r.n_vertices == n
        assert r.area2 == a2 and r.area == abs(a2) / 2.0
        assert r.cx == sx / (a2 * 3.0) and r.cy == sy / (a2 * 3.0)
        assert r.perimeter == pl
    assert got[1].area == 1.0 and got[1].cx == 0.5 and got[1].cy == 0.5
    assert got[2].area2 < 0 and got[2].area == 3.0  # CW ring, signed negative
    assert got[1].perimeter == 4.0

    degen = spark.createDataFrame(
        [(9, [{"x": 1.0, "y": 1.0}, {"x": 2.0, "y": 2.0}, {"x": 3.0, "y": 3.0}])],
        "poly_id long, ring array<struct<x double, y double>>",
    )
    d = polygon_metrics(degen).collect()[0]
    assert d.area == 0.0 and d.cx is None and d.cy is None  # no IEEE inf leak


# --- geofence dwell -----------------------------------------------------------


def test_geofence_dwell_semantics(spark):
    import datetime as dt

    from htg_spark.operators.polygon import geofence_dwell

    # two unit squares; square 1 overlaps square 0 on its right half
    polys = spark.createDataFrame(
        [
            (0, [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]),
            (1, [(1.0, 0.0), (3.0, 0.0), (3.0, 2.0), (1.0, 2.0)]),
        ],
        POLY_SCHEMA,
    )
    base = dt.datetime(2026, 1, 1)
    # user 0 walk (seconds, x, y):
    #   0s  (0.5, 1.0)  in 0 only
    #  10s  (1.5, 1.0)  in both           (entry into 1)
    #  25s  (5.0, 5.0)  outside           (exit both)
    #  40s  (0.5, 0.5)  in 0 only         (re-entry into 0)
    #  60s  (0.5, 1.5)  in 0 only         (continuation; last ping -> 0 dwell)
    # user 1: single ping inside 1 only -> n_inside 1, dwell 0, 1 entry
    rows = [
        (0, 1, base, 0.5, 1.0),
        (0, 2, base + dt.timedelta(seconds=10), 1.5, 1.0),
        (0, 3, base + dt.timedelta(seconds=25), 5.0, 5.0),
        (0, 4, base + dt.timedelta(seconds=40), 0.5, 0.5),
        (0, 5, base + dt.timedelta(seconds=60), 0.5, 1.5),
        (1, 6, base, 2.5, 0.5),
    ]
    pings = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, px double, py double"
    )
    out = {
        (r["user_id"], r["poly_id"]): (r["n_inside"], r["n_entries"], r["dwell_us"])
        for r in geofence_dwell(pings, polys).collect()
    }
    assert out == {
        # poly 0: pings 1,2 (one visit, 10+15 s) + 4,5 (second visit, 20 s + last-ping 0)
        (0, 0): (4, 2, 45_000_000),
        # poly 1: ping 2 only (one visit, 15 s until ping 3)
        (0, 1): (1, 1, 15_000_000),
        # user 1: single ping in poly 1, no successor -> 0 dwell
        (1, 1): (1, 1, 0),
    }
