"""Tests for operators/curation.py, cells.geohash_*, and
geo_misc.radius_neighbors — each against an INDEPENDENT reference
implementation (textbook successive-halving geohash, quadratic NumPy
radius scan, hashlib-recomputed sampling uniforms), not the Spark code's
own closed forms."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from htg_spark import cells
from htg_spark.operators import curation, geo_misc
from htg_spark.profile import absent, count, faults, plan_nodes, present, render

# --- independent geohash reference: the textbook successive-halving loop ---


def geohash_reference(lat: float, lon: float, precision: int) -> str:
    out = []
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    even = True  # lon first
    bit, ch = 0, 0
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_lo = mid
            else:
                ch <<= 1
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_lo = mid
            else:
                ch <<= 1
                lat_hi = mid
        even = not even
        bit += 1
        if bit == 5:
            out.append(cells.GEOHASH32[ch])
            bit, ch = 0, 0
    return "".join(out)


def spark_geohash(spark, coords, precision):
    df = spark.createDataFrame(coords, "lat double, lon double")
    idx = df.select(
        "lat",
        "lon",
        cells.geohash_lon_idx(F.col("lon"), precision).alias("lon_idx"),
        cells.geohash_lat_idx(F.col("lat"), precision).alias("lat_idx"),
    )
    code = idx.select(
        "lat",
        "lon",
        cells.geohash_interleave(F.col("lon_idx"), F.col("lat_idx"), precision).alias("c"),
    )
    rows = code.select(
        "lat", "lon", cells.geohash_chars(F.col("c"), precision).alias("gh")
    ).collect()
    return {(r.lat, r.lon): r.gh for r in rows}


def test_geohash_known_value(spark):
    # the canonical example from Niemeyer's original service
    got = spark_geohash(spark, [(57.64911, 10.40744)], 6)
    assert got[(57.64911, 10.40744)] == "u4pruy"


@pytest.mark.parametrize("precision", [1, 4, 6, 7])
def test_geohash_matches_successive_halving(spark, precision):
    rng = np.random.default_rng(42)
    coords = [
        (float(lat), float(lon))
        for lat, lon in zip(rng.uniform(-90, 90, 60), rng.uniform(-180, 180, 60))
    ]
    # edges: poles, antimeridian, origin, exact cell boundaries
    coords += [
        (0.0, 0.0),
        (90.0, 180.0),
        (-90.0, -180.0),
        (45.0, 90.0),
        (-45.0, -90.0),
        (59.9999999, 10.0),
    ]
    got = spark_geohash(spark, coords, precision)
    for lat, lon in coords:
        assert got[(lat, lon)] == geohash_reference(lat, lon, precision), (lat, lon)


def test_geohash_prefix_nesting(spark):
    coords = [(35.4321, 138.7654), (-12.5, 77.25)]
    gh6 = spark_geohash(spark, coords, 6)
    gh3 = spark_geohash(spark, coords, 3)
    for c in coords:
        assert gh6[c][:3] == gh3[c]


# --- radius join vs quadratic scan ------------------------------------------


def test_radius_neighbors_matches_quadratic(spark):
    rng = np.random.default_rng(7)
    scale = 256
    r = 1.0 / scale
    # dense cluster + sparse field + exact duplicates + a cross-cell pair
    xs = np.concatenate(
        [
            10.0 + rng.uniform(0, 3 * r, 40),  # dense: many in-radius pairs
            rng.uniform(-170, 170, 40),  # sparse: mostly isolated
            [50.0, 50.0],  # exact duplicate coordinates
            [20.0 - 1e-9, 20.0 + 1e-9],  # straddles a cell boundary
        ]
    )
    ys = np.concatenate(
        [
            -5.0 + rng.uniform(0, 3 * r, 40),
            rng.uniform(-80, 80, 40),
            [7.0, 7.0],
            [30.0, 30.0],
        ]
    )
    pts = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    got = {
        r_.pid: (r_.n_neighbors, r_.min_d2)
        for r_ in geo_misc.radius_neighbors(
            df, scale=scale, id_col="pid", x_col="x", y_col="y"
        ).collect()
    }
    assert set(got) == set(range(len(pts)))
    dx = xs[:, None] - xs[None, :]
    dy = ys[:, None] - ys[None, :]
    d2 = dx * dx + dy * dy
    np.fill_diagonal(d2, np.inf)
    within = d2 <= r * r
    for i in range(len(pts)):
        n_exp = int(within[i].sum())
        assert got[i][0] == n_exp, i
        if n_exp:
            assert got[i][1] == float(d2[i][within[i]].min()), i
        else:
            assert got[i][1] is None, i


def test_radius_neighbors_rejects_non_power_of_two():
    with pytest.raises(ValueError):
        geo_misc.radius_neighbors(None, scale=1000)


# --- curation ----------------------------------------------------------------


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_decontaminate_hand_case(spark):
    # eval doc 3 (3 % 17 == 3, k = 3): snippet = tokens [4..7] of its text
    eval_doc = (3, "w0 w1 w2 s0 s1 s2 s3 w7 w8", "en")  # k=3, n=4 -> "s0 s1 s2 s3"
    docs = _mkdocs(
        spark,
        [
            eval_doc,
            (1, "clean text with no overlap at all", "en"),
            (2, "prefix s0 s1 s2 s3 suffix s0 s1 s2 s3 end", "en"),  # 2 hits
            (20, "too short", "en"),
        ],
    )
    ev = curation.derive_eval_ngrams(docs, n=4)
    assert [r.eval_ngram for r in ev.collect()] == ["s0 s1 s2 s3"]
    got = {r.doc_id: r for r in curation.decontaminate(docs, ev, n=4).collect()}
    assert got[1].n_hits == 0 and not got[1].contaminated
    assert got[2].n_hits == 2 and got[2].n_eval_hits == 1 and got[2].contaminated
    assert got[3].n_hits == 1 and got[3].contaminated  # self-hit
    assert got[20].n_hits == 0 and not got[20].contaminated
    assert set(got) == {1, 2, 3, 20}


def test_decontaminate_skips_too_short_eval_doc(spark):
    # doc 3 has only 5 tokens; k=3 start + n=4 needs 7 -> no eval grams
    docs = _mkdocs(spark, [(3, "a b c d e", "en"), (1, "a b c d e f g", "en")])
    ev = curation.derive_eval_ngrams(docs, n=4)
    assert ev.count() == 0
    got = curation.decontaminate(docs, ev, n=4)
    assert [r.contaminated for r in got.collect()] == [False, False]


def test_stratified_sample_matches_hashlib(spark):
    rows = [(i, f"doc {i}", ["en", "de", "zh"][i % 3]) for i in range(90)]
    docs = _mkdocs(spark, rows)
    rates = {"en": 0.75, "de": 0.25, "zh": 0.0625}
    got = {r.doc_id: r for r in curation.stratified_sample(docs, rates).collect()}
    for i, _, lang in rows:
        u_ref = (
            int(hashlib.md5(f"sample:{i}".encode()).hexdigest()[:8], 16) / 2**32
        )
        assert got[i].u == u_ref, i
        assert got[i].rate == rates[lang]
        assert got[i].keep == (u_ref < rates[lang])
    # every stratum must keep SOMETHING and drop SOMETHING at these sizes
    kept = sum(r.keep for r in got.values())
    assert 0 < kept < len(rows)


def test_stratified_sample_default_rate(spark):
    docs = _mkdocs(spark, [(1, "x", "xx"), (2, "y", "yy")])
    got = curation.stratified_sample(docs, {"en": 1.0}, default_rate=0.5).collect()
    assert all(r.rate == 0.5 for r in got)


def _pack_reference(rows, capacity, n_shards):
    """Independent packing reference: literally simulate the concatenated
    token stream per shard and cut it every `capacity` tokens."""
    per_doc, per_slot = {}, {}
    cum = dict.fromkeys(range(n_shards), 0)
    for doc_id, text, _ in sorted(rows):
        shard = doc_id % n_shards
        tc = len(text.split(" ")) + 1
        start, end = cum[shard] // capacity, (cum[shard] + tc - 1) // capacity
        per_doc[doc_id] = (shard, tc, cum[shard] + tc, start, end, end - start + 1)
        for t in range(cum[shard], cum[shard] + tc):  # token-by-token
            slot = per_slot.setdefault((shard, t // capacity), [0, 0, set()])
            slot[0] += 1
            slot[2].add(doc_id)
        for s in range(start, end):  # doc continues past slot s's cut
            per_slot[(shard, s)][1] += 1
        cum[shard] += tc
    return per_doc, {
        k: (len(v[2]), v[1], v[0]) for k, v in per_slot.items()
    }  # (n_docs, n_continued, fill_tokens)


def test_sequence_pack_matches_stream_simulation(spark):
    rng = np.random.default_rng(11)
    cap, n_shards = 16, 4
    rows = []
    for i in range(60):
        n_tok = int(rng.integers(1, 40))  # some docs span 3+ sequences
        rows.append((i, " ".join(f"t{j}" for j in range(n_tok)), "en"))
    rows.append((60, " ".join(["x"] * 15), "en"))  # tok_count == cap exactly
    docs = _mkdocs(spark, rows)
    ref_doc, ref_slot = _pack_reference(rows, cap, n_shards)
    packed = curation.pack_sequences(docs, capacity=cap, n_shards=n_shards)
    got = {
        r.doc_id: (r.shard, r.tok_count, r.cum_tokens, r.start_seq, r.end_seq, r.n_seqs)
        for r in packed.collect()
    }
    assert got == ref_doc
    fills = {
        (r.shard, r.seq): (r.n_docs, r.n_continued, r.fill_tokens)
        for r in curation.sequence_fill(packed, capacity=cap).collect()
    }
    assert fills == ref_slot
    # packing invariant: every slot except each shard's last is exactly full
    last = {s: max(q for sh, q in fills if sh == s) for s in range(n_shards)}
    for (sh, q), (_, _, fill) in fills.items():
        if q != last[sh]:
            assert fill == cap, (sh, q)


def test_sequence_pack_exact_boundary_doc(spark):
    # one doc of exactly `cap` tokens fills sequence 0 and does NOT straddle
    docs = _mkdocs(spark, [(0, " ".join(["a"] * 7), "en")])
    packed = curation.pack_sequences(docs, capacity=8, n_shards=1)
    r = packed.collect()[0]
    assert (r.start_seq, r.end_seq, r.n_seqs) == (0, 0, 1)
    f = curation.sequence_fill(packed, capacity=8).collect()[0]
    assert (f.n_docs, f.n_continued, f.fill_tokens) == (1, 0, 8)


def test_mixture_weights_exact(spark):
    docs = _mkdocs(
        spark,
        [(i, "t", "en") for i in range(16)]
        + [(100 + i, "t", "de") for i in range(4)]
        + [(200, "t", "zh")],
    )
    got = {r.lang: r for r in curation.mixture_weights(docs, stratum_col="lang").collect()}
    sq = {"en": 4.0, "de": 2.0, "zh": 1.0}
    denom = 1.0 + 2.0 + 4.0  # ascending fold order
    for lang, s in sq.items():
        assert got[lang].sqrt_n == s
        assert got[lang].weight == s / denom
    assert math.isclose(sum(r.weight for r in got.values()), 1.0, rel_tol=1e-12)


# --- IDW interpolation vs quadratic fold -------------------------------------


def _assert_plan(df, gates):
    nodes = plan_nodes(df)
    assert not faults(nodes, gates), render(nodes)


def test_idw_interpolate_matches_quadratic_fold(spark):
    """Bucketed IDW vs an independent all-pairs NumPy+Python recompute with
    the same documented fold order (ascending (d2, id), left-to-right, one
    divide per term) — exact float equality. Fixture exercises: a sample
    exactly ON a grid point (d2 == 0 -> the eps regularizer), a d2 tie
    broken by id, an empty query disc, and cross-cell neighbors."""
    scale = 16
    r = 1.0 / scale
    eps = 2.0 ** -24
    rng = np.random.default_rng(11)
    sx = np.concatenate(
        [
            10.0 + rng.uniform(0, 0.25, 60),  # dense patch over the grid
            [10.0625, 10.0625 + r / 2, 10.0625 - r / 2],  # on-point + d2 tie
            [40.0, 41.0],  # far away: leaves some queries empty
        ]
    )
    sy = np.concatenate(
        [
            -3.0 + rng.uniform(0, 0.25, 60),
            [-2.9375, -2.9375, -2.9375],
            [40.0, 41.0],
        ]
    )
    sv = rng.uniform(0.5, 100.0, len(sx))
    samples = spark.createDataFrame(
        [
            (int(i), float(x), float(y), float(v))
            for i, (x, y, v) in enumerate(zip(sx, sy, sv))
        ],
        "sid long, x double, y double, val double",
    )
    qpts = [
        (int(q), 10.0 + (q % 8) * 0.0625, -3.0 + (q // 8) * 0.0625)
        for q in range(64)
    ]
    grid = spark.createDataFrame(qpts, "qid long, qx double, qy double")
    out = geo_misc.idw_interpolate(
        samples,
        grid,
        scale=scale,
        eps=eps,
        id_col="sid",
        value_col="val",
        x_col="x",
        y_col="y",
        qid_col="qid",
        qx_col="qx",
        qy_col="qy",
    )
    # one Exchange (BroadcastExchange not counted): the query_id aggregation
    _assert_plan(
        out,
        [
            absent("CartesianProduct", "SortMergeJoin"),
            present("BroadcastHashJoin"),
            count("Exchange", 1, 1),
        ],
    )

    got = {r_.qid: r_ for r_ in out.collect()}
    assert set(got) == set(range(64))
    for qid, qx, qy in qpts:
        cand = []
        for i in range(len(sx)):
            dx = qx - sx[i]
            dy = qy - sy[i]
            d2 = dx * dx + dy * dy
            if d2 <= r * r:
                cand.append((d2, i, sv[i]))
        cand.sort()
        num = den = 0.0
        for d2, _i, v in cand:
            num = num + v / (d2 + eps)
            den = den + 1.0 / (d2 + eps)
        assert got[qid].n_samples == len(cand), qid
        if cand:
            assert got[qid].idw == num / den, qid
        else:
            assert got[qid].idw is None, qid


def test_idw_rejects_non_power_of_two():
    with pytest.raises(ValueError):
        geo_misc.idw_interpolate(None, None, scale=100)


# --- trajectory segmentation --------------------------------------------------


def test_trajectory_segments_semantics(spark):
    """Constructed walk: a 3-ping dwell cluster (stay), a quarter-degree
    teleport cut, a 2-ping move (not a stay), a timestamp tie broken by
    event id, and a second user interleaved in time. ONE shuffle serves
    both windows and the rollup."""
    from htg_spark.operators.events import trajectory_segments

    rows = [
        # user 1: dwell at (10, 10) -- jumps of 0.1 deg (d2 = 0.01 <= 0.0625)
        (1, 101, "2024-01-01 00:00:00", 10.0, 10.0),
        (2, 101, "2024-01-01 00:05:00", 10.1, 10.0),
        (3, 101, "2024-01-01 00:10:00", 10.1, 10.1),
        # teleport: 1 degree jump -> new segment, 2 pings (not a stay)
        (4, 101, "2024-01-01 00:20:00", 11.1, 10.1),
        (5, 101, "2024-01-01 00:25:00", 11.2, 10.1),
        # timestamp TIE with id 5 -- id order keeps it after 5; another cut
        (6, 101, "2024-01-01 00:25:00", 12.2, 10.1),
        # user 2: single ping
        (7, 202, "2024-01-01 00:07:00", -5.0, 100.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, lat double, lon double"
    ).select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "lat", "lon",
    )
    out = trajectory_segments(df, cut_d2=0.0625)
    _assert_plan(out, [count("Exchange", 1, 1), count("Sort", 1, 1)])

    segs = {r.segment_id: r for r in out.collect()}
    assert set(segs) == {1, 4, 6, 7}
    s1 = segs[1]
    assert (s1.user_id, s1.n_pings, s1.is_stay) == (101, 3, True)
    assert s1.duration_us == 10 * 60 * 1_000_000
    assert (s1.lat_min, s1.lat_max, s1.lon_min, s1.lon_max) == (10.0, 10.1, 10.0, 10.1)
    # largest within-segment jump: each hop is 0.1 deg -> d2 ~ 0.01
    exp = max(
        (10.1 - 10.0) * (10.1 - 10.0) + (10.0 - 10.0) * (10.0 - 10.0),
        (10.1 - 10.1) * (10.1 - 10.1) + (10.1 - 10.0) * (10.1 - 10.0),
    )
    assert s1.max_jump_d2 == exp
    s4 = segs[4]
    assert (s4.n_pings, s4.is_stay) == (2, False)
    assert s4.duration_us == 5 * 60 * 1_000_000
    s6 = segs[6]
    assert (s6.n_pings, s6.duration_us, s6.max_jump_d2) == (1, 0, None)
    s7 = segs[7]
    assert (s7.user_id, s7.n_pings, s7.max_jump_d2, s7.is_stay) == (
        202, 1, None, False,
    )


# --- k-ring cell smoothing ----------------------------------------------------


def test_cell_smooth_hand_case(spark):
    """Three points in one level-4 cell, one in an edge-adjacent cell, one
    at the south-pole boundary (its out-of-globe halo rows must drop), all
    verified against a hand convolution of the 3x3 (4/2/1) kernel."""
    from htg_spark.operators.geo_misc import smooth_cell_counts

    k = 16
    rows = [
        # 3 points in cell (gy, gx) = ((10+90)*16 + 8, (20+180)*16 + 4)
        (1, 10.5, 20.25),
        (2, 10.53, 20.27),
        (3, 10.51, 20.26),
        # 1 point one fine-cell east: gx + 1
        (4, 10.5, 20.3125),
        # south-pole corner cell (gy = 0, gx = 0): ry = -1 rows must drop
        (5, -90.0, -180.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, lat double, lon double")
    out = smooth_cell_counts(df, level=4)
    # density rollup + halo re-key (BroadcastExchange not counted)
    _assert_plan(out, [count("Exchange", 2, 2)])

    import math as m

    def fine(lat, lon):
        gy = (m.floor(lat) + 90) * k + m.floor((lat - m.floor(lat)) * k)
        gx = (m.floor(lon) + 180) * k + m.floor((lon - m.floor(lon)) * k)
        return gy, gx

    counts = {}
    for _i, lat, lon in rows:
        counts[fine(lat, lon)] = counts.get(fine(lat, lon), 0) + 1
    exp = {}
    own = {}
    for (gy, gx), n in counts.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                ry, rx = gy + dy, gx + dx
                if 0 <= ry < 180 * k and 0 <= rx < 360 * k:
                    w = 4 if dx == 0 and dy == 0 else (2 if dx == 0 or dy == 0 else 1)
                    exp[(ry, rx)] = exp.get((ry, rx), 0) + n * w
                    if dx == 0 and dy == 0:
                        own[(ry, rx)] = own.get((ry, rx), 0) + n
    def cell_of(ry, rx):
        return ((ry // k) * 360 + rx // k) * k * k + (ry % k) * k + (rx % k)

    got = {r.cell: (r.n_own, r.smoothed) for r in out.collect()}
    assert got == {
        cell_of(ry, rx): (own.get((ry, rx), 0), s) for (ry, rx), s in exp.items()
    }
    # pole cell: only the 2x2 in-globe quadrant of its kernel remains
    gy0, gx0 = fine(-90.0, -180.0)
    assert (gy0, gx0) == (0, 0)
    assert got[cell_of(0, 0)] == (1, 4)
    assert got[cell_of(1, 1)] == (0, 1)


# --- web-mercator slippy tiles + quadkey -------------------------------------


def mercator_reference(lat: float, lon: float, zoom: int) -> tuple[int, int]:
    """Pure-Python mirror of cells.mercator_tile_x/y (same op order)."""
    n = 1 << zoom
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * float(n))), 0), n - 1)
    lat_c = max(min(lat, cells.WEB_MERCATOR_MAX_LAT), -cells.WEB_MERCATOR_MAX_LAT)
    s = math.sin(lat_c * math.pi / 180.0)
    merc = 0.5 - math.log((1.0 + s) / (1.0 - s)) / (4.0 * math.pi)
    y = min(max(int(math.floor(merc * float(n))), 0), n - 1)
    return x, y


def spark_mercator(spark, coords, zoom):
    df = spark.createDataFrame(coords, "lat double, lon double")
    rows = df.select(
        "lat",
        "lon",
        cells.mercator_tile_x(F.col("lon"), zoom).alias("zx"),
        cells.mercator_tile_y(F.col("lat"), zoom).alias("zy"),
    ).collect()
    return {(r["lat"], r["lon"]): (r["zx"], r["zy"]) for r in rows}


@pytest.mark.parametrize("zoom", [1, 7, 12])
def test_mercator_matches_reference(spark, zoom):
    rng = np.random.default_rng(11)
    coords = [
        (float(lat), float(lon))
        for lat, lon in zip(rng.uniform(-84, 84, 50), rng.uniform(-180, 180, 50))
    ]
    # edges: equator/prime meridian, clamp band, antimeridian, poles
    coords += [
        (0.0, 0.0),
        (85.05112878, 179.9999),
        (-85.05112878, -180.0),
        (89.0, 180.0),  # past the clamp -> y pinned to row 0, x to last col
        (-89.0, 42.5),
        (41.85, -87.65),
    ]
    got = spark_mercator(spark, coords, zoom)
    for lat, lon in coords:
        assert got[(lat, lon)] == mercator_reference(lat, lon, zoom), (lat, lon)


def test_mercator_fixed_points(spark):
    # structural anchors that do not depend on libm at all
    got = spark_mercator(spark, [(0.0, 0.0), (89.9, 179.99), (-89.9, -179.99)], 12)
    assert got[(0.0, 0.0)] == (2048, 2048)  # origin -> exact center tile
    assert got[(89.9, 179.99)] == (4095, 0)  # clamped top-right
    assert got[(-89.9, -179.99)] == (0, 4095)  # clamped bottom-left


def test_quadkey_bing_documented_example(spark):
    # tile (x=3, y=5) at level 3 is quadkey "213" (Bing tile-system docs)
    df = spark.createDataFrame([(3, 5)], "zx long, zy long")
    got = df.select(cells.quadkey(F.col("zx"), F.col("zy"), 3).alias("qk")).collect()
    assert got[0]["qk"] == "213"


def test_quadkey_nesting_and_sql_mirror(spark):
    """Parent tile (x>>1, y>>1, z-1) quadkey == child's length-(z-1) prefix,
    and the generated DuckDB SQL agrees with the Spark expression on the
    same integer inputs (rendered through Spark's SQL parser)."""
    import duckdb

    rng = np.random.default_rng(3)
    z = 9
    xs = rng.integers(0, 1 << z, 40)
    ys = rng.integers(0, 1 << z, 40)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(xs, ys)], "zx long, zy long"
    )
    child = df.select(
        "zx", "zy", cells.quadkey(F.col("zx"), F.col("zy"), z).alias("qk")
    )
    parent = child.select(
        "qk",
        cells.quadkey(
            F.shiftright(F.col("zx"), 1), F.shiftright(F.col("zy"), 1), z - 1
        ).alias("qk_parent"),
    ).collect()
    for r in parent:
        assert r["qk"][: z - 1] == r["qk_parent"]
    con = duckdb.connect()
    duck = dict(
        con.execute(
            f"SELECT zx * 10000 + zy, {cells.quadkey_sql(z)} FROM "
            f"(SELECT unnest({[int(v) for v in xs]}) AS zx, "
            f"unnest({[int(v) for v in ys]}) AS zy)"
        ).fetchall()
    )
    for r in child.collect():
        assert duck[r["zx"] * 10000 + r["zy"]] == r["qk"]


def test_density_tiles_payload_and_reference(spark):
    """Density-tile render: payload bytes must equal the per-pixel clipped
    counts of an independent NumPy reference, and the stats columns must
    equal what the bytes say."""
    from collections import defaultdict

    from htg_spark.operators.geo_misc import density_tiles

    rng = np.random.default_rng(31)
    zoom, tpx = 6, 16
    lat = np.concatenate([rng.uniform(-70, 70, 400), np.full(300, 35.5)])
    lon = np.concatenate([rng.uniform(-179, 179, 400), np.full(300, 138.25)])
    df = spark.createDataFrame(
        pd.DataFrame({"lat": lat, "lon": lon})
    )
    out = density_tiles(df, zoom=zoom, tile_px=tpx).collect()

    # reference binning with the operator's formula
    n = 1 << zoom
    ref = defaultdict(lambda: np.zeros(tpx * tpx, dtype=np.int64))
    for la, lo in zip(lat, lon):
        fx = (lo + 180.0) / 360.0 * float(n)
        lc = max(min(la, cells.WEB_MERCATOR_MAX_LAT), -cells.WEB_MERCATOR_MAX_LAT)
        s = math.sin(lc * math.pi / 180.0)
        fy = (0.5 - math.log((1.0 + s) / (1.0 - s)) / (4.0 * math.pi)) * float(n)
        zx = min(max(int(math.floor(fx)), 0), n - 1)
        zy = min(max(int(math.floor(fy)), 0), n - 1)
        px = min(max(int(math.floor(fx * float(tpx))) - zx * tpx, 0), tpx - 1)
        py = min(max(int(math.floor(fy * float(tpx))) - zy * tpx, 0), tpx - 1)
        ref[(zx, zy)][py * tpx + px] += 1

    assert {(r["zx"], r["zy"]) for r in out} == set(ref)
    for r in out:
        want = ref[(r["zx"], r["zy"])]
        got = np.frombuffer(r["bytes"], dtype=np.uint8).astype(np.int64)
        assert len(got) == tpx * tpx and r["w"] == tpx and r["h"] == tpx
        assert np.array_equal(got, np.minimum(want, 255))
        # stats == what the reference counts say
        assert r["n_pts"] == int(want.sum())
        assert r["nonzero_px"] == int((want > 0).sum())
        assert r["max_count"] == int(want.max())
        assert r["sum_clipped"] == int(np.minimum(want, 255).sum())
    # the 300-point stack must have clipped (max_count > 255 on one tile)
    assert max(r["max_count"] for r in out) == 300


def test_exact_percentiles_matches_numpy(spark):
    """Exact order statistics at ((n-1)*num)//den against a NumPy sort,
    including duplicates, skew, and a fraction landing inside a run."""
    rng = np.random.default_rng(5)
    vals = np.concatenate(
        [rng.integers(0, 50, 500), np.full(300, 7), rng.integers(1000, 1010, 7)]
    ).astype(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    fracs = ((1, 4), (1, 2), (3, 4), (99, 100), (0, 1), (1, 1))
    out = curation.exact_percentiles(df, "v", fractions=fracs).toPandas()
    assert len(out) == len(fracs)
    s = np.sort(vals)
    n = len(vals)
    for _, r in out.iterrows():
        idx = ((n - 1) * r["num"]) // r["den"]
        assert r["idx"] == idx and r["n_rows"] == n
        assert r["value"] == s[idx], (r["num"], r["den"])


def test_snap_to_segments_matches_quadratic(spark):
    """Grid-bucketed snapping vs an all-pairs NumPy scan: distances bit-
    equal, nearest pick (d2, seg_id)-min, NULLs for out-of-range points,
    zero-length segment handled as a point, endpoint clamping exact."""
    rng = np.random.default_rng(17)
    scale = 64
    r = 1.0 / scale
    px = np.concatenate([10.0 + rng.uniform(-0.2, 0.4, 120), [50.0, 10.1, 10.1]])
    py = np.concatenate([5.0 + rng.uniform(-0.2, 0.3, 120), [50.0, 5.05, 5.0503]])
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(px), dtype=np.int64), "x": px, "y": py})
    )
    segs_rows = [
        (0, 10.0, 5.0, 10.25, 5.0),        # horizontal
        (1, 10.0, 5.05, 10.25, 5.0503),    # near-horizontal, close to seg 0's band
        (2, 10.1, 4.9, 10.1, 5.2),         # vertical
        (3, 10.05, 5.05, 10.05, 5.05),     # zero-length (a point)
        (4, 9.9, 5.1, 10.3, 4.95),         # diagonal
    ]
    segs = spark.createDataFrame(
        pd.DataFrame(segs_rows, columns=["seg_id", "ax", "ay", "bx", "by"])
    )
    out = {
        row["pid"]: row
        for row in geo_misc.snap_to_segments(
            pts, segs, scale=scale, id_col="pid", x_col="x", y_col="y"
        ).collect()
    }
    assert set(out) == set(range(len(px)))
    for i in range(len(px)):
        best = None
        for seg_id, ax, ay, bx, by in segs_rows:
            vx, vy = bx - ax, by - ay
            len2 = vx * vx + vy * vy
            if len2 > 0.0:
                t = max(min(((px[i] - ax) * vx + (py[i] - ay) * vy) / len2, 1.0), 0.0)
            else:
                t = 0.0
            qx, qy = ax + t * (bx - ax), ay + t * (by - ay)
            d2 = (px[i] - qx) * (px[i] - qx) + (py[i] - qy) * (py[i] - qy)
            if d2 <= r * r and (best is None or (d2, seg_id) < best[:2]):
                best = (d2, seg_id, t)
        row = out[i]
        if best is None:
            assert row["seg_id"] is None and row["snap_d2"] is None, i
        else:
            assert row["seg_id"] == best[1], i
            assert row["snap_d2"] == best[0], i  # bit-equal doubles
            assert row["snap_t"] == best[2], i
    # the far point is unsnapped and at least one point hit each segment class
    assert out[120]["seg_id"] is None
    snapped_to = {out[i]["seg_id"] for i in range(len(px)) if out[i]["seg_id"] is not None}
    assert len(snapped_to) >= 3


def test_snap_rejects_non_power_of_two(spark):
    with pytest.raises(ValueError):
        geo_misc.snap_to_segments(None, None, scale=100)


# --- Douglas-Peucker simplification ------------------------------------------


def dp_reference(xs, ys, eps2):
    """Independent RECURSIVE Douglas-Peucker (vs the operator's stack form)."""
    n = len(xs)
    if n <= 2:
        return set(range(n))
    keep = {0, n - 1}

    def rec(a, b):
        if b - a < 2:
            return
        ax, ay, bx, by = xs[a], ys[a], xs[b], ys[b]
        vx, vy = bx - ax, by - ay
        len2 = vx * vx + vy * vy
        best_k, best_d2 = None, -1.0
        for m in range(a + 1, b):
            if len2 > 0.0:
                cross = vx * (ys[m] - ay) - vy * (xs[m] - ax)
                d2 = (cross * cross) / len2
            else:
                d2 = (xs[m] - ax) ** 2 + (ys[m] - ay) ** 2
            if d2 > best_d2:
                best_k, best_d2 = m, d2
        if best_d2 > eps2:
            keep.add(best_k)
            rec(a, best_k)
            rec(best_k, b)

    rec(0, n - 1)
    return keep


def test_simplify_trajectories_matches_recursive_reference(spark):
    import datetime as dt

    from htg_spark.operators.events import simplify_trajectories

    rng = np.random.default_rng(41)
    base = dt.datetime(2026, 1, 1)
    rows = []
    paths = {}
    for user in range(6):
        n = int(rng.integers(2, 60))
        xs = np.cumsum(rng.uniform(-0.01, 0.012, n)) + 138.0
        ys = np.cumsum(rng.uniform(-0.008, 0.01, n)) + 35.0
        paths[user] = (xs, ys)
        for k in range(n):
            rows.append((user, user * 1000 + k, base + dt.timedelta(seconds=k), float(ys[k]), float(xs[k])))
    # degenerate groups: single point; straight line; closed loop (len2=0)
    paths[6] = (np.array([10.0]), np.array([5.0]))
    rows.append((6, 6000, base, 5.0, 10.0))
    line_x = 20.0 + np.arange(10) * 0.001
    paths[7] = (line_x, np.full(10, 7.0))
    rows += [(7, 7000 + k, base + dt.timedelta(seconds=k), 7.0, float(line_x[k])) for k in range(10)]
    loop_x = np.array([30.0, 30.01, 30.005, 30.0])
    loop_y = np.array([8.0, 8.0, 8.02, 8.0])
    paths[8] = (loop_x, loop_y)
    rows += [(8, 8000 + k, base + dt.timedelta(seconds=k), float(loop_y[k]), float(loop_x[k])) for k in range(4)]

    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    eps2 = (0.002) ** 2
    out = simplify_trajectories(df, epsilon2=eps2).toPandas()
    for user, (xs, ys) in paths.items():
        want = dp_reference(xs, ys, eps2)
        got_rows = out[out.user_id == user].sort_values("pt_rank")
        got = set(got_rows["event_id"] - user * 1000)
        assert got == want, user
        assert (got_rows["n_in"] == len(xs)).all()
        # kept order follows the trajectory order
        assert got_rows["event_id"].is_monotonic_increasing
    # the straight line simplifies to its endpoints
    assert set(out[out.user_id == 7]["event_id"]) == {7000, 7009}
    # the closed loop keeps its off-chord spike via the len2=0 fallback
    assert 8002 in set(out[out.user_id == 8]["event_id"])


# --- time-regular track resampling -------------------------------------------


def resample_reference(pings, step):
    """Independent per-user reference: explicit grid scan with bisect
    bracket search (vs the operator's interval-explode form). pings =
    sorted [(us, lat, lon)] by (us, id)."""
    t0 = pings[0][0]
    t_last = pings[-1][0]
    out = []
    k = 0
    while t0 + k * step <= t_last:
        t = t0 + k * step
        # bind to the interval [t_i, t_{i+1}) containing t; ties -> last
        i = max(j for j in range(len(pings)) if pings[j][0] <= t)
        us, lat, lon = pings[i]
        if t == us:
            out.append((k, t, lat, lon))
        else:
            nus, nlat, nlon = pings[i + 1]
            frac = float(t - us) / float(nus - us)
            out.append((k, t, lat + (nlat - lat) * frac, lon + (nlon - lon) * frac))
        k += 1
    return out


def test_resample_tracks_matches_reference(spark):
    import datetime as dt

    from htg_spark.operators.events import resample_tracks

    base = dt.datetime(2026, 1, 1)
    step = 60_000_000  # 1 minute
    rows, expect = [], {}
    rng = np.random.default_rng(43)
    specs = {
        0: [0, 37, 95, 181, 240],          # irregular; ends on-grid (240 s)
        1: [0, 50, 130],                   # ends off-grid (130 s)
        2: [0],                            # single ping -> one sample
        3: [0, 60, 60, 60, 200],           # duplicate timestamps (tie -> last)
    }
    for user, secs in specs.items():
        pings = []
        for k, sec in enumerate(secs):
            lat = float(rng.uniform(35, 36))
            lon = float(rng.uniform(138, 139))
            rows.append((user, user * 100 + k, base + dt.timedelta(seconds=sec), lat, lon))
            pings.append((sec * 1_000_000, lat, lon))
        # duplicate-ts ties: reference keeps them in id order (stable)
        expect[user] = resample_reference(pings, step)

    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    out = resample_tracks(df, step_us=step).toPandas()
    for user, want in expect.items():
        got = out[out.user_id == user].sort_values("grid_idx")
        assert list(got["grid_idx"]) == [w[0] for w in want], user
        assert list(got["lat"]) == [w[2] for w in want], user
        assert list(got["lon"]) == [w[3] for w in want], user
        ts_us = [
            int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
            for t in got["ts"]
        ]
        base_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
        assert ts_us == [base_us + w[1] for w in want], user
    # user 1 ends off-grid: last sample at 120 s, not 130
    assert out[out.user_id == 1]["grid_idx"].max() == 2
    # user 2: exactly the single ping back
    assert len(out[out.user_id == 2]) == 1


def test_resample_tracks_rejects_bad_step():
    from htg_spark.operators.events import resample_tracks

    with pytest.raises(ValueError):
        resample_tracks(None, step_us=0)


# --- origin-destination flows --------------------------------------------------


def test_od_flows_matches_sequential_reference(spark):
    import datetime as dt

    from htg_spark.operators.events import od_flows

    base = dt.datetime(2026, 4, 1)
    gap_min, scale = 10, 16
    rows = []
    # user 0: two trips (gap 11 min between ping sets), moving cells
    for k, (sec, lat, lon) in enumerate(
        [
            (0, 35.01, 138.01),    # trip 1 origin: cell (2208, 560)
            (120, 35.05, 138.30),
            (300, 35.20, 138.90),  # trip 1 dest: cell (2222, 563)
            (300 + 11 * 60, 36.50, 139.50),  # trip 2 (single ping: self-flow)
        ]
    ):
        rows.append((0, k, base + dt.timedelta(seconds=sec), lat, lon))
    # user 1: one trip, same OD cells as user 0's trip 1 (aggregates with it)
    rows.append((1, 100, base + dt.timedelta(seconds=5), 35.02, 138.02))
    rows.append((1, 101, base + dt.timedelta(seconds=200), 35.21, 138.91))
    # user 2: duplicate timestamps — id breaks the endpoint tie
    t2 = base + dt.timedelta(seconds=50)
    rows.append((2, 201, t2, 35.50, 138.50))
    rows.append((2, 200, t2, 36.99, 139.99))  # lower id = origin
    # exactly-at-gap boundary: 10 min exactly does NOT break (strict >)
    rows.append((3, 300, base, 35.0, 138.0))
    rows.append((3, 301, base + dt.timedelta(minutes=10), 35.9, 138.9))

    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    got = {
        (r["o_gx"], r["o_gy"], r["d_gx"], r["d_gy"]): (
            r["n_trips"], r["n_users"], r["total_duration_us"]
        )
        for r in od_flows(df, gap_minutes=gap_min, scale=scale).collect()
    }

    # independent sequential reference
    import collections
    import math

    epoch = dt.datetime(1970, 1, 1)
    by_user = collections.defaultdict(list)
    for (u, i, t, lat, lon) in rows:
        by_user[u].append((int((t - epoch).total_seconds() * 1_000_000), i, lat, lon))
    want = collections.defaultdict(lambda: [0, set(), 0])
    for u, pts in by_user.items():
        pts.sort()
        trips, cur = [], [pts[0]]
        for p in pts[1:]:
            if p[0] - cur[-1][0] > gap_min * 60 * 1_000_000:
                trips.append(cur)
                cur = [p]
            else:
                cur.append(p)
        trips.append(cur)
        for trip in trips:
            o, d = trip[0], trip[-1]
            key = (
                math.floor(o[3] * scale), math.floor(o[2] * scale),
                math.floor(d[3] * scale), math.floor(d[2] * scale),
            )
            want[key][0] += 1
            want[key][1].add(u)
            want[key][2] += trip[-1][0] - trip[0][0]
    assert got == {k: (n, len(us), dur) for k, (n, us, dur) in want.items()}
    # user 2's tie: min id is the origin -> origin cell from (36.99, 139.99)?
    # no: ordering is (ts, id) ASC, so id 200 (36.99, 139.99) is the ORIGIN
    assert (2239, 591, 2216, 568) in got
    # user 3's 10-min boundary stayed one trip (strict > gap)
    assert got[(2208, 560, 2222, 574)][0] == 1


def test_od_flows_rejects_bad_params():
    import pytest as _pytest

    from htg_spark.operators.events import od_flows

    with _pytest.raises(ValueError):
        od_flows(None, scale=10)
    with _pytest.raises(ValueError):
        od_flows(None, gap_minutes=0)


# --- trajectory kinematics -----------------------------------------------------


def test_track_kinematics_matches_reference(spark):
    import datetime as dt
    import math

    from htg_spark.operators.events import track_kinematics

    base = dt.datetime(2026, 5, 1)
    vmax = 2.0 ** -12
    rows = [
        # user 0: slow walk, then a teleport (impossible), then duplicate ts
        (0, 0, base, 35.0, 138.0),
        (0, 1, base + dt.timedelta(seconds=60), 35.0001, 138.0001),
        (0, 2, base + dt.timedelta(seconds=120), 36.5, 139.5),   # teleport
        (0, 3, base + dt.timedelta(seconds=120), 36.5001, 139.5),  # dt = 0
        (0, 4, base + dt.timedelta(seconds=180), 36.5002, 139.5),
        # user 1: single ping -> all NULLs
        (1, 100, base, 50.0, 50.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    got = {
        r["event_id"]: (r["dt_us"], r["d2"], r["speed"], r["accel"], r["is_impossible"])
        for r in track_kinematics(df, vmax=vmax).collect()
    }
    assert len(got) == len(rows)

    # independent sequential reference (same IEEE op order)
    epoch = dt.datetime(1970, 1, 1)
    by_user = {}
    for (u, i, t, lat, lon) in rows:
        by_user.setdefault(u, []).append(
            (int((t - epoch).total_seconds() * 1_000_000), i, lat, lon)
        )
    want = {}
    for u, pts in by_user.items():
        pts.sort()
        prev = None
        prev_speed = None
        for (us, i, lat, lon) in pts:
            if prev is None:
                want[i] = (None, None, None, None, None)
                prev, prev_speed = (us, lat, lon), None
                continue
            pus, plat, plon = prev
            dt_us = us - pus
            dlat, dlon = lat - plat, lon - plon
            d2 = dlat * dlat + dlon * dlon
            speed = math.sqrt(d2) / (dt_us / 1000000.0) if dt_us > 0 else None
            if dt_us > 0 and speed is not None and prev_speed is not None:
                accel = (speed - prev_speed) / (dt_us / 1000000.0)
            elif dt_us > 0 and prev_speed is None:
                # lag(speed) is the previous ROW's speed even when NULL
                accel = None
            else:
                accel = None
            imp = (speed > vmax) if speed is not None else None
            want[i] = (dt_us, d2, speed, accel, imp)
            prev, prev_speed = (us, lat, lon), speed
    assert got == want
    assert got[2][4] is True      # the teleport flags impossible
    assert got[1][4] is False     # the walk does not
    assert got[3][0] == 0 and got[3][2:] == (None, None, None)  # dt = 0 -> NULLs
    assert got[100] == (None, None, None, None, None)


def test_track_kinematics_accel_uses_prev_row_speed(spark):
    """The row AFTER a dt=0 row has a NULL accel (its lag(speed) is the
    NULL dup-ts speed), even though its own speed is defined."""
    import datetime as dt

    from htg_spark.operators.events import track_kinematics

    base = dt.datetime(2026, 5, 1)
    rows = [
        (0, 0, base, 35.0, 138.0),
        (0, 1, base + dt.timedelta(seconds=60), 35.001, 138.0),
        (0, 2, base + dt.timedelta(seconds=60), 35.002, 138.0),  # dt = 0
        (0, 3, base + dt.timedelta(seconds=120), 35.003, 138.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    got = {r["event_id"]: r.asDict() for r in track_kinematics(df).collect()}
    assert got[2]["speed"] is None and got[2]["accel"] is None
    assert got[3]["speed"] is not None
    assert got[3]["accel"] is None  # lag(speed) was the dup-ts NULL
    assert got[1]["accel"] is None  # lag(speed) was the head NULL


# --- trip shape (path length / tortuosity) -------------------------------------


def test_trip_shape_matches_reference(spark):
    import datetime as dt
    import math

    from htg_spark.operators.events import trip_shape

    base = dt.datetime(2026, 6, 1)
    gap_min = 10
    rows = [
        # user 0 trip 1: an L-shaped detour (tortuosity > 1)
        (0, 0, base, 35.0, 138.0),
        (0, 1, base + dt.timedelta(seconds=60), 35.0, 138.5),
        (0, 2, base + dt.timedelta(seconds=120), 35.5, 138.5),
        # user 0 trip 2 (after an 11-min gap): straight line (tortuosity 1)
        (0, 3, base + dt.timedelta(seconds=120 + 11 * 60), 36.0, 139.0),
        (0, 4, base + dt.timedelta(seconds=180 + 11 * 60), 36.0, 139.25),
        (0, 5, base + dt.timedelta(seconds=240 + 11 * 60), 36.0, 139.5),
        # user 1: single ping -> path 0, displacement 0, tortuosity NULL
        (1, 100, base, 50.0, 50.0),
        # user 2: out-and-back -> displacement 0, tortuosity NULL, path > 0
        (2, 200, base, 40.0, 40.0),
        (2, 201, base + dt.timedelta(seconds=30), 40.0, 40.5),
        (2, 202, base + dt.timedelta(seconds=60), 40.0, 40.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    got = {
        r["trip_id"]: (
            r["user_id"], r["n_pings"], r["path_len"],
            r["displacement"], r["tortuosity"],
        )
        for r in trip_shape(df, gap_minutes=gap_min).collect()
    }
    assert set(got) == {0, 3, 100, 200}

    # independent reference: fold jumps in ascending value order
    def ref(trip):
        jumps = sorted(
            math.sqrt(
                (b[0] - a[0]) * (b[0] - a[0]) + (b[1] - a[1]) * (b[1] - a[1])
            )
            for a, b in zip(trip, trip[1:])
        )
        path = 0.0
        for x in jumps:
            path += x
        o, d = trip[0], trip[-1]
        disp = math.sqrt(
            (d[0] - o[0]) * (d[0] - o[0]) + (d[1] - o[1]) * (d[1] - o[1])
        )
        return path, disp, (path / disp if disp > 0 else None)

    t1 = ref([(35.0, 138.0), (35.0, 138.5), (35.5, 138.5)])
    assert got[0] == (0, 3, *t1)
    assert got[0][4] > 1.0
    t2 = ref([(36.0, 139.0), (36.0, 139.25), (36.0, 139.5)])
    assert got[3] == (0, 3, *t2)
    assert got[3][4] == 1.0
    assert got[100] == (1, 1, 0.0, 0.0, None)
    back = ref([(40.0, 40.0), (40.0, 40.5), (40.0, 40.0)])
    assert got[200] == (2, 3, back[0], 0.0, None)
    assert got[200][2] == 1.0  # 0.5 out + 0.5 back


def test_top_destinations_ranking(spark):
    from htg_spark.operators.events import top_destinations

    flows = spark.createDataFrame(
        [
            # origin A: 3 destinations, one n_trips tie broken by (d_gx, d_gy)
            (0, 0, 5, 5, 10, 3, 100),
            (0, 0, 1, 9, 4, 2, 50),
            (0, 0, 1, 2, 4, 1, 40),  # ties 4 with (1,9): (1,2) ranks first
            (0, 0, 7, 7, 1, 1, 10),
            # origin B: single destination
            (9, 9, 2, 2, 6, 4, 60),
        ],
        "o_gx long, o_gy long, d_gx long, d_gy long, n_trips long, "
        "n_users long, total_duration_us long",
    )
    got = {
        (r["o_gx"], r["o_gy"], r["d_gx"], r["d_gy"]): r["dest_rank"]
        for r in top_destinations(flows, k=3).collect()
    }
    assert got == {
        (0, 0, 5, 5): 1,
        (0, 0, 1, 2): 2,
        (0, 0, 1, 9): 3,
        (9, 9, 2, 2): 1,
    }  # (0,0,7,7) cut by k=3; the tie broke by d_gy

    import pytest as _pytest

    with _pytest.raises(ValueError):
        top_destinations(flows, k=0)
