"""Continent router (S5, download.rs:553-581) and HTG_PRELOAD grammar
(P4, htg-service/src/main.rs:165-204) parity tests."""

import pandas as pd

from htg_spark.operators.geo_misc import (
    continent_col,
    coords_to_continent,
    parse_preload_bounds,
)

CASES = [
    (39.7392, -104.9903, "North_America"),  # Denver
    (-16.5, -68.15, "South_America"),  # La Paz
    (-33.87, 151.21, "Australia"),  # Sydney
    (-1.29, 36.82, "Africa"),  # Nairobi
    (35.68, 139.65, "Eurasia"),  # Tokyo
    (51.5, -0.13, "Eurasia"),  # London (lon >= -15 -> Eurasia)
    (10.0, -60.0, "South_America"),  # overlap resolved by priority order
    (0.0, -150.0, None),  # mid-Pacific
    (-75.0, 0.0, None),  # Antarctica
]


def test_coords_to_continent_python():
    for lat, lon, want in CASES:
        assert coords_to_continent(lat, lon) == want, (lat, lon)


def test_continent_column_matches_python(spark):
    pdf = pd.DataFrame([(i, c[0], c[1]) for i, c in enumerate(CASES)], columns=["i", "lat", "lon"])
    df = spark.createDataFrame(pdf)
    got = (
        df.select("i", continent_col(df.lat, df.lon).alias("c"))
        .orderBy("i")
        .toPandas()["c"]
        .tolist()
    )
    want = [c[2] for c in CASES]
    assert [g if pd.notna(g) else None for g in got] == want


def test_parse_preload_bounds():
    assert parse_preload_bounds("true") is None
    assert parse_preload_bounds("ALL") is None
    assert parse_preload_bounds(" 1 ") is None
    assert parse_preload_bounds("35,138,36,139") == [(35.0, 138.0, 36.0, 139.0)]
    assert parse_preload_bounds("35,138,36,139; -10,-20,0,0") == [
        (35.0, 138.0, 36.0, 139.0),
        (-10.0, -20.0, 0.0, 0.0),
    ]
    # malformed chunks dropped; fully-unparseable -> None (preload all)
    assert parse_preload_bounds("35,138,36,139;bogus") == [(35.0, 138.0, 36.0, 139.0)]
    assert parse_preload_bounds("bogus") is None


def test_knn_points_join_exact_and_zero_shuffle(spark):
    """Top-k nearest POIs: brute-force NumPy agreement on ranks and
    distances, deterministic poi_id tie-break for an equidistant point,
    and a zero-Exchange map-only plan."""
    import numpy as np

    from htg_spark.operators.geo_misc import knn_points_join
    from htg_spark.profile import JOINS, absent, faults, partitioned, plan_nodes, render, shuffles

    pois = [(0, 0.0, 0.0), (1, 0.0, 10.0), (2, 10.0, 0.0), (3, 10.0, 10.0)]
    # (5,5) ties ALL FOUR pois at d2=50 -> ranks must follow poi_id order
    pts_rows = [("a", 1.0, 2.0), ("b", 9.0, 9.5), ("tie", 5.0, 5.0)]
    pts = spark.createDataFrame(
        pd.DataFrame(pts_rows, columns=["image_id", "lat", "lon"])
    )
    out = (
        knn_points_join(pts, pois, k=3)
        .orderBy("image_id", "rank")
        .toPandas()
    )
    P = np.array([[plat, plon] for _, plat, plon in pois])
    for iid, lat, lon in pts_rows:
        d2 = (lat - P[:, 0]) ** 2 + (lon - P[:, 1]) ** 2
        order = np.lexsort((np.arange(len(pois)), d2))[:3]
        got = out[out.image_id == iid]
        assert got["poi_id"].tolist() == [pois[j][0] for j in order]
        assert got["d2"].tolist() == [float(d2[j]) for j in order]
        assert got["rank"].tolist() == [1, 2, 3]
    assert out[out.image_id == "tie"]["poi_id"].tolist() == [0, 1, 2]

    # zero shuffle Exchanges EXCEPT the scale-adaptive scan spread (a
    # round-robin repartition that fires only because this test input has
    # fewer partitions than cores; absent at production partition counts)
    nodes = plan_nodes(knn_points_join(pts, pois, k=3))
    gates = [shuffles(0), partitioned("RoundRobinPartitioning", 0, 1), absent(*JOINS)]
    assert not faults(nodes, gates), render(nodes)


def test_dbscan_clusters_hand_case(spark):
    """Deterministic grid-DBSCAN at scale=8 (eps=0.125), min_pts=3:
    colocated quad + attached core + single border; a chain cluster; a
    between-two-clusters border whose tie-break is the MIN cluster label
    (visit-order DBSCAN would pick whichever core claimed it first); a
    singleton and a non-core pair as noise."""
    import numpy as np
    import pytest

    from htg_spark.operators.geo_misc import dbscan_clusters

    rows = [
        # colocated quad (all core, cluster 1) + core 5 + border 6 + noise 7
        (1, 0.0, 0.0), (2, 0.0, 0.0), (3, 0.0, 0.0), (4, 0.0, 0.0),
        (5, 0.0, 0.1), (6, 0.0, 0.2), (7, 0.0, 0.35),
        # left blob+core, the tie-break border 15, right core+blob
        (11, 3.0, 2.8), (12, 3.02, 2.8), (13, 2.98, 2.8),
        (14, 3.0, 2.9),
        (15, 3.0, 3.0),
        (16, 3.0, 3.1),
        (17, 3.0, 3.2), (18, 3.02, 3.2), (19, 2.98, 3.2),
        # noise: singleton + a mutually-close non-core pair
        (20, 5.0, 5.0), (21, 6.0, 6.0), (22, 6.0, 6.0),
    ]
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "lat", "lon"]))
    stats = {}
    out = (
        dbscan_clusters(pts, scale=8, min_pts=3, id_col="pid", stats=stats)
        .orderBy("pid")
        .toPandas()
        .set_index("pid")
    )
    assert len(out) == len(rows)
    assert stats["strategy"] == "collect"

    expect = {
        1: (4, "core", 1), 2: (4, "core", 1), 3: (4, "core", 1), 4: (4, "core", 1),
        5: (5, "core", 1), 6: (1, "border", 1), 7: (0, "noise", None),
        11: (3, "core", 11), 12: (3, "core", 11), 13: (3, "core", 11),
        14: (4, "core", 11),
        15: (2, "border", 11),  # sees cores 14 (cluster 11) and 16 (cluster 16)
        16: (4, "core", 16),
        17: (3, "core", 16), 18: (3, "core", 16), 19: (3, "core", 16),
        20: (0, "noise", None), 21: (1, "noise", None), 22: (1, "noise", None),
    }
    for pid, (n, role, cid) in expect.items():
        assert out.loc[pid, "n_neighbors"] == n, pid
        assert out.loc[pid, "role"] == role, pid
        got_cid = out.loc[pid, "cluster_id"]
        if cid is None:
            assert got_cid is None or (isinstance(got_cid, float) and np.isnan(got_cid)), pid
        else:
            assert got_cid == cid, pid

    with pytest.raises(ValueError, match="power of two"):
        dbscan_clusters(pts, scale=10, id_col="pid")
    with pytest.raises(ValueError, match="min_pts"):
        dbscan_clusters(pts, scale=8, min_pts=0, id_col="pid")


# --- convex hull (gift wrapping) ----------------------------------------------


def _chain_hull(points):
    """Independent monotone-chain reference (strict turns: collinear
    interior points dropped) — returns the hull VERTEX SET."""
    pts = sorted(set(points))
    if len(pts) <= 2:
        return set(pts)

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                ax, ay = out[-1]
                if (ax - ox) * (p[1] - oy) - (ay - oy) * (p[0] - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(list(reversed(pts)))
    return set(lower[:-1] + upper[:-1])


def test_convex_hulls_matches_chain_reference(spark):
    import numpy as np

    from htg_spark.operators.geo_misc import convex_hulls

    rng = np.random.default_rng(47)
    rows, clouds = [], {}
    for user in range(5):
        n = int(rng.integers(3, 80))
        pts = [
            (float(rng.uniform(138, 140)), float(rng.uniform(35, 37)))
            for _ in range(n)
        ]
        clouds[user] = pts
        rows += [(user, user * 1000 + k, y, x) for k, (x, y) in enumerate(pts)]
    # exact-double degenerate cases: square + collinear edge midpoints +
    # interior + duplicates; a fully collinear cloud; a single point
    sq = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0),
          (0.5, 0.0), (1.0, 0.5), (0.5, 1.0), (0.0, 0.5),
          (0.5, 0.5), (0.25, 0.75), (0.0, 0.0), (1.0, 1.0)]
    clouds[5] = sq
    rows += [(5, 5000 + k, y, x) for k, (x, y) in enumerate(sq)]
    line = [(float(k) * 0.25, float(k) * 0.5) for k in range(6)]
    clouds[6] = line
    rows += [(6, 6000 + k, y, x) for k, (x, y) in enumerate(line)]
    clouds[7] = [(10.0, 20.0)]
    rows.append((7, 7000, 20.0, 10.0))

    df = spark.createDataFrame(
        rows, "user_id long, event_id long, lat double, lon double"
    )
    out = convex_hulls(df).toPandas()
    for user, pts in clouds.items():
        got_rows = out[out.user_id == user].sort_values("hull_rank")
        got = set(zip(got_rows["lon"], got_rows["lat"]))
        assert got == _chain_hull(pts), user
        assert (got_rows["n_pts"] == len(set(pts))).all()
        # march order: consecutive ranks, start = lexicographic min
        assert list(got_rows["hull_rank"]) == list(range(len(got_rows)))
        assert (got_rows.iloc[0]["lon"], got_rows.iloc[0]["lat"]) == min(set(pts))
    # the square: exactly the 4 corners (edge midpoints are collinear)
    assert len(out[out.user_id == 5]) == 4
    # the collinear cloud: exactly its 2 endpoints
    assert len(out[out.user_id == 6]) == 2


# --- spatio-temporal co-location ----------------------------------------------


def test_colocation_pairs_matches_quadratic(spark):
    import datetime as dt

    import numpy as np

    from htg_spark.operators.geo_misc import colocation_pairs

    scale, w = 1024, 10_000_000  # r = 2^-10 deg, 10 s window
    r = 1.0 / scale
    base = dt.datetime(2026, 3, 1)
    rng = np.random.default_rng(53)
    rows = []
    for user in range(8):
        for k in range(40):
            # cluster users around a shared hotspot so pairs actually occur
            lat = 35.5 + float(rng.uniform(-2 * r, 2 * r))
            lon = 138.5 + float(rng.uniform(-2 * r, 2 * r))
            sec = float(rng.uniform(0, 120))
            rows.append((user, user * 1000 + k, base + dt.timedelta(seconds=sec), lat, lon))
    # exact boundary pair: distance exactly r (inclusive), dt exactly w (inclusive)
    rows.append((20, 20000, base + dt.timedelta(seconds=500), 36.0, 139.0))
    rows.append((21, 21000, base + dt.timedelta(seconds=510), 36.0, 139.0 + r))
    # just outside: same spot but dt = w + 1us
    rows.append((22, 22000, base + dt.timedelta(seconds=600), 37.0, 139.0))
    rows.append(
        (23, 23000, base + dt.timedelta(seconds=610, microseconds=1), 37.0, 139.0)
    )

    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    got = {
        (r2["user_a"], r2["user_b"]): (r2["n_contacts"], r2["min_d2"], r2["first_us"])
        for r2 in colocation_pairs(df, scale=scale, window_us=w).collect()
    }

    # independent quadratic reference
    epoch = dt.datetime(1970, 1, 1)
    pts = [
        (u, int((t - epoch).total_seconds() * 1_000_000), lat, lon)
        for (u, _id, t, lat, lon) in rows
    ]
    want = {}
    for i in range(len(pts)):
        for j in range(len(pts)):
            ua, usa, ya, xa = pts[i]
            ub, usb, yb, xb = pts[j]
            if ua >= ub or abs(usa - usb) > w:
                continue
            d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
            if d2 > r * r:
                continue
            key = (ua, ub)
            n, m, f = want.get(key, (0, float("inf"), None))
            want[key] = (n + 1, min(m, d2), min(f, min(usa, usb)) if f else min(usa, usb))
    assert got == want
    assert (20, 21) in got  # inclusive boundary pair present
    assert (22, 23) not in got  # one microsecond past the window


def test_colocation_rejects_bad_params():
    import pytest

    from htg_spark.operators.geo_misc import colocation_pairs

    with pytest.raises(ValueError):
        colocation_pairs(None, scale=1000)
    with pytest.raises(ValueError):
        colocation_pairs(None, window_us=0)
