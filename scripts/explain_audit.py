"""Capture .explain('formatted') plans for the engine's key plan shapes into
PLANS.md — the plan-shape audit: the map-side layout must be a single
map-only Arrow stage with pushed filters on the scan; the salted layout
moves the input rows (through one Exchange) only when the catalog exceeds
the engine's grid cache, for an in-memory and a tile_dir catalog alike;
no engine plan may move the tile blobs, cogroup or read a checkpoint;
catalog aggregations must prune columns.

Run from the repo root: python scripts/explain_audit.py
"""

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from htg_spark import fixtures
from htg_spark.driver_queries import derive_points, get_engine
from htg_spark.session import get_spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_shuffle_ex(plan: str) -> int:
    """Count shuffle Exchange nodes, EXCLUDING the scale-adaptive scan
    spread (htg_spark.partitioning.spread_scan): a round-robin repartition
    that fires only when the scan yields fewer partitions than cores —
    always at this audit's sf0.01 single-row-group inputs, never at
    production partition counts, where these plans keep the gated shape.
    Every other partitioning (hash/range/single) still counts."""
    import re as _re

    n = len(_re.findall(r"\(\d+\) Exchange\b", plan))
    return n - plan.count("Arguments: RoundRobinPartitioning(")


def engine_plan_faults(plan: str) -> list[str]:
    """What no elevation-engine plan may contain: a cogroup, a checkpoint
    scan, or an Exchange that carries the binary tile `data` column (every
    plan reads tiles by path; the blobs never ride a shuffle)."""
    import re as _re

    faults = sorted(set(_re.findall(r"FlatMapCoGroupsIn\w+|Scan ExistingRDD", plan)))
    ex_blocks = _re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[[^\]]*\]", plan)
    if any(_re.search(r"\bdata#", b) for b in ex_blocks):
        faults.append("Exchange carrying data#")
    return faults


def salted_plan_faults(plan: str) -> list[str]:
    """The salted layout moves the input rows once, through the kernel UDF
    only: exactly one shuffle Exchange, ArrowEvalPython, and no id re-join
    (SortMergeJoin) or grouped/mapped Arrow node."""
    import re as _re

    faults = sorted(set(_re.findall(r"SortMergeJoin|FlatMapCoGroupsIn\w+|MapInArrow", plan)))
    if n_shuffle_ex(plan) != 1:
        faults.append(f"{n_shuffle_ex(plan)} shuffle Exchanges (expected 1)")
    if "ArrowEvalPython" not in plan:
        faults.append("no ArrowEvalPython")
    return faults


def main():
    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    eng = get_engine(spark)
    pts = derive_points(spark.read.parquet(f"{sf_dir}/events.parquet"))

    sections = []
    # the elevation-engine sections, gated by engine_plan_faults at the end
    engine_sections = []

    broadcast = eng.elevation_join(pts, mode="nearest", strategy="broadcast", id_col="event_id")
    sections.append(
        (
            "strategy='broadcast' elevation join (map-side)",
            "Expected: scan -> project (JVM key math) -> ONE ArrowEvalPython "
            "node (the kernel UDF over lat/lon only). No Exchange anywhere: the "
            "kernel reads tiles by path through the engine's index (this "
            "in-memory catalog spilled to files), points never shuffle, "
            "payload columns stay in the JVM.",
            plan_of(broadcast),
        )
    )
    engine_sections.append(sections[-1])
    if n_shuffle_ex(sections[-1][2]) or "ArrowEvalPython" not in sections[-1][2]:
        print("FATAL: broadcast plan shuffles or lost its kernel UDF", file=sys.stderr)
        sys.exit(1)

    # the in-memory catalog with a grid cache below its tile count
    salted_eng = get_engine(spark, cache_size=2)
    for knn in (False, True):
        salted_plan = plan_of(
            salted_eng.elevation_join(
                pts, mode="nearest", strategy="cogroup", id_col="event_id",
                knn_fallback=knn, n_salts=4,
            )
        )
        sections.append(
            (
                "Cogroup join, in-memory catalog exceeds the grid cache "
                f"(salted{', kNN fallback' if knn else ''})",
                "Expected: the catalog was spilled once to content-named files "
                "shipped with addFile, so this plan reads tiles by path like a "
                "tile_dir engine. The input rows are salted by cell (a "
                "broadcast join with the histogram's salt table) and cross ONE "
                "hash Exchange on the salted tile key; ArrowEvalPython then "
                "runs the kernel UDF"
                + (" with the kNN fallback in the same pass" if knn else "")
                + ". No cogroup, no checkpoint, no id re-join (SortMergeJoin), "
                "and the binary `data` column appears nowhere.",
                salted_plan,
            )
        )
        engine_sections.append(sections[-1])
        faults = salted_plan_faults(salted_plan)
        if faults:
            print(f"FATAL: in-memory salted plan (knn={knn}): {faults}", file=sys.stderr)
            sys.exit(1)

    # predicate pushdown / column pruning on a parquet-backed points scan
    filtered = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("event_id") % 2 == 0)
        .select("event_id", "user_id")
    )
    sections.append(
        (
            "Scan pruning sanity (events parquet)",
            "Expected: ReadSchema only event_id/user_id; PushedFilters present "
            "for deterministic predicates.",
            plan_of(filtered),
        )
    )

    inv = __import__("htg_spark.catalog", fromlist=["tile_inventory"]).tile_inventory(eng.catalog)
    sections.append(
        (
            "Catalog inventory aggregation",
            "Expected: partial_count/sum before the single-row exchange "
            "(map-side combine), binary `data` column only read for length.",
            plan_of(inv),
        )
    )

    from htg_spark.driver_queries import get_path_engine
    from htg_spark.engine import ElevationEngine

    import re as _re

    path_eng = get_path_engine(spark)
    fit_plan = plan_of(
        path_eng.elevation_join(
            pts, mode="nearest", strategy="cogroup", id_col="event_id",
            n_salts=4,
        )
    )
    sections.append(
        (
            "Cogroup join, tile_dir catalog fits the grid cache (map-side)",
            "Expected: the catalog holds no more tiles than the engine's "
            "cache_size, so every reused Python worker keeps every tile "
            "across tasks and a shuffle for tile locality buys nothing. "
            "ArrowEvalPython runs the kernel UDF on the input partitions, "
            "reading tiles by path: no histogram job, no salt join, no "
            "shuffle Exchange, and the binary `data` column appears nowhere.",
            fit_plan,
        )
    )
    engine_sections.append(sections[-1])
    # hard gate: no shuffle at all, the kernel UDF, no data column
    n_fit = n_shuffle_ex(fit_plan)
    if n_fit != 0 or "ArrowEvalPython" not in fit_plan or _re.search(r"\bdata#", fit_plan):
        print(
            f"FATAL: fits-cache path plan has {n_fit} shuffle Exchanges (expected "
            "0), lacks ArrowEvalPython, or carries the data column",
            file=sys.stderr,
        )
        sys.exit(1)

    # the same directory with a grid cache smaller than the catalog
    over_eng = ElevationEngine(spark, catalog=path_eng.catalog, cache_size=2)
    cg_path = over_eng.elevation_join(
        pts, mode="nearest", strategy="cogroup", id_col="event_id", n_salts=4
    )

    cgp_plan = plan_of(cg_path)
    sections.append(
        (
            "Cogroup join, tile_dir catalog exceeds the grid cache (salted)",
            "Expected: the input rows are salted by cell (a broadcast join "
            "with the histogram's salt table) and cross ONE hash Exchange on "
            "the salted tile key; ArrowEvalPython then runs the kernel UDF, "
            "reading tiles by path. No catalog-side shuffle, no cogroup, no "
            "id re-join (SortMergeJoin). NO Exchange anywhere carries the "
            "binary `data` column — at 100 TB of rasters the tiles must "
            "never ride a shuffle (tasks read them from shared storage).",
            cgp_plan,
        )
    )
    engine_sections.append(sections[-1])
    faults = salted_plan_faults(cgp_plan)
    if faults:
        print(f"FATAL: tile_dir salted plan: {faults}", file=sys.stderr)
        sys.exit(1)

    from htg_spark import pipeline_queries as pq

    near_dup = pq.q_embedding_near_dup(spark, sf_dir)
    nd_plan = plan_of(near_dup)
    sections.append(
        (
            "Embedding near-dup (multi-table LSH bucketed)",
            "Expected: per-table bucket self-equi-joins (SortMergeJoin/"
            "ShuffledHashJoin on bk) unioned + deduped, cosine on candidates "
            "only. HARD REQUIREMENT: no CartesianProduct / "
            "BroadcastNestedLoopJoin anywhere.",
            nd_plan,
        )
    )
    if "CartesianProduct" in nd_plan or "BroadcastNestedLoopJoin" in nd_plan:
        print("FATAL: near-dup plan contains a cartesian product", file=sys.stderr)
        sys.exit(1)

    fnd = pq.q_frame_near_dup(spark, sf_dir)
    fnd_plan = plan_of(fnd)
    sections.append(
        (
            "Video-frame near-dup (aHash exact-collapse + banding)",
            "Expected: the decode->hash->groupBy(ahash) corpus is "
            "materialized ONCE behind a lazy localCheckpoint (reps), so the "
            "final plan reads ExistingRDD — zero direct events scans across "
            "the banding self-join and both broadcast n_a/n_b joins. HARD "
            "REQUIREMENT: no CartesianProduct / BroadcastNestedLoopJoin; "
            "n_a/n_b joins are BroadcastHashJoin.",
            fnd_plan,
        )
    )
    if "CartesianProduct" in fnd_plan or "BroadcastNestedLoopJoin" in fnd_plan:
        print("FATAL: frame near-dup plan contains a cartesian product", file=sys.stderr)
        sys.exit(1)
    if fnd_plan.count("Scan parquet") > 0:
        print("FATAL: frame near-dup final plan rescans the corpus", file=sys.stderr)
        sys.exit(1)

    and_plan = plan_of(pq.q_audio_near_dup(spark, sf_dir))
    sections.append(
        (
            "Audio near-dup (acoustic fingerprint exact-collapse + banding)",
            "Same contract as the video-frame near-dup: reps materialized "
            "once behind a lazy localCheckpoint (ExistingRDD in the final "
            "plan, zero direct events scans), broadcast n_a/n_b joins, no "
            "cartesian products.",
            and_plan,
        )
    )
    if (
        "CartesianProduct" in and_plan
        or "BroadcastNestedLoopJoin" in and_plan
        or and_plan.count("Scan parquet") > 0
    ):
        print("FATAL: audio near-dup plan shape violation", file=sys.stderr)
        sys.exit(1)

    # composed training-data pipeline: the corpus must be scanned once per
    # stage TIER, with cross-branch-referenced tiers materialized behind
    # lazy localCheckpoints (Spark has no cross-branch subtree reuse)
    from htg_spark.operators import text as _text

    corpus_frame = pq.e2e_corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    corpus_plan = plan_of(corpus_frame)
    tier1 = _text.pii_redact(
        _text.line_filter(corpus_frame, id_col="cid").select(
            "cid", F.col("kept_text").alias("text")
        ),
        id_col="cid",
    )
    t1_plan = plan_of(tier1)
    e2e = pq.q_pipeline_e2e(spark, sf_dir)
    e2e_plan = plan_of(e2e)
    sections.append(
        (
            "Composed pipeline tier 1: corpus -> line filter -> PII redact",
            "Expected: the line filter and redaction stages FUSE into the "
            "corpus assembly's projections — the tier adds ZERO parquet "
            "scans beyond the fixture corpus's own 3-branch dup-planting "
            "union (whose branches carry disjoint pushed filters; a real "
            "corpus arrives as one table and would be one scan).",
            t1_plan,
        )
    )
    sections.append(
        (
            "Composed pipeline final plan (pipeline_e2e)",
            "Expected: every stage tier reads its input from a lazily "
            "localCheckpoint'ed frame (Scan ExistingRDD) — ZERO direct "
            "documents.parquet scans survive into the final plan, so no "
            "stage re-derives the corpus however many branches reference "
            "it. No cartesian products.",
            e2e_plan,
        )
    )
    def n_scans(plan):
        return len(_re.findall(r"\(\d+\) Scan parquet", plan))

    n_doc_scans_t1 = n_scans(t1_plan)
    n_doc_scans_final = n_scans(e2e_plan)
    if n_doc_scans_t1 != n_scans(corpus_plan):
        print(
            f"FATAL: pipeline tier 1 scans parquet {n_doc_scans_t1} times vs "
            f"{n_scans(corpus_plan)} for the bare corpus — the filter/redact "
            "stages must fuse, not re-scan",
            file=sys.stderr,
        )
        sys.exit(1)
    if n_doc_scans_final != 0 or "Scan ExistingRDD" not in e2e_plan:
        print(
            f"FATAL: pipeline_e2e final plan has {n_doc_scans_final} direct "
            "documents scans (expected 0 — tiers must flow through "
            "checkpointed frames)",
            file=sys.stderr,
        )
        sys.exit(1)
    if "CartesianProduct" in e2e_plan or "BroadcastNestedLoopJoin" in e2e_plan:
        print("FATAL: pipeline_e2e plan contains a cartesian product", file=sys.stderr)
        sys.exit(1)

    from htg_spark import polygon_queries as polyq

    pip = polyq.q_point_in_polygon(spark, sf_dir)
    pip_plan = plan_of(pip)
    sections.append(
        (
            "Point-in-polygon join (broadcast + fold)",
            "Expected: points scan -> JVM key/coordinate projection -> "
            "BroadcastHashJoin on the covering cell -> PNPOLY fold + parity "
            "filter, all in ONE map-only stage over the points scan (the J1 "
            "shape applied to vector geometry). HARD REQUIREMENT: zero "
            "shuffle Exchanges (only the polygon-side BroadcastExchange) and "
            "no cartesian product — at 10^12 points the operator must never "
            "shuffle the point table.",
            pip_plan,
        )
    )
    n_shuffles = n_shuffle_ex(pip_plan)
    if n_shuffles != 0 or "CartesianProduct" in pip_plan:
        print(
            f"FATAL: point-in-polygon broadcast plan has {n_shuffles} shuffle "
            "Exchanges (expected 0 — map-only over the points scan)",
            file=sys.stderr,
        )
        sys.exit(1)

    zonal = polyq.q_polygon_zonal_stats(spark, sf_dir)
    zonal_plan = plan_of(zonal)
    sections.append(
        (
            "Polygon zonal stats (PIP -> elevation kernel -> rollup)",
            "Expected: the PIP broadcast join and the elevation kernel chain "
            "as map-only stages over the single points scan; the ONLY "
            "shuffle is the final narrow groupBy(poly_id) hash aggregation "
            "(partial map-side combine). HARD REQUIREMENT: exactly one "
            "shuffle Exchange, no cartesian product.",
            zonal_plan,
        )
    )
    n_zonal_shuffles = n_shuffle_ex(zonal_plan)
    if n_zonal_shuffles != 1 or "CartesianProduct" in zonal_plan:
        print(
            f"FATAL: zonal-stats plan has {n_zonal_shuffles} shuffle "
            "Exchanges (expected exactly 1 — the poly_id rollup)",
            file=sys.stderr,
        )
        sys.exit(1)

    gj = polyq.q_geojson_containment(spark, sf_dir)
    gj_plan = plan_of(gj)
    sections.append(
        (
            "GeoJSON containment (per-ring PIP -> even-odd parity)",
            "Expected: the per-ring PIP broadcast join map-only over the "
            "points scan (ring parse + covering refinement confined to the "
            "broadcast side), then ONE narrow groupBy(point, feature) "
            "ring-count parity. HARD REQUIREMENT: exactly one shuffle "
            "Exchange, exactly one BroadcastHashJoin, no cartesian product.",
            gj_plan,
        )
    )
    n_gj_shuffles = n_shuffle_ex(gj_plan)
    # count formatted-plan DETAIL headers "(n) BroadcastHashJoin", not raw
    # substring occurrences: each node prints twice in .explain('formatted')
    # (once in the tree, once in the detail section), so a substring count
    # reads one join as two
    n_gj_bhj = len(_re.findall(r"\(\d+\) BroadcastHashJoin\b", gj_plan))
    if (
        n_gj_shuffles != 1
        or n_gj_bhj != 1
        or "CartesianProduct" in gj_plan
    ):
        print(
            f"FATAL: geojson-containment plan has {n_gj_shuffles} shuffle "
            "Exchanges (expected exactly 1 — the ring-parity groupBy) / "
            f"{n_gj_bhj} BroadcastHashJoins",
            file=sys.stderr,
        )
        sys.exit(1)

    from htg_spark import driver_queries as dq

    asof = pq.q_event_asof_join(spark, sf_dir)
    asof_plan = plan_of(asof)
    sections.append(
        (
            "As-of join (union-sort window shape)",
            "Expected: both event scans tagged and unioned, then ONE hash "
            "Exchange on user_id feeding a single Sort + Window "
            "(last(payload, ignorenulls)) — never the O(probes x "
            "markers/key) range-join blowup. Duplicate-marker-timestamp "
            "resolution rides the window SORT ORDER (ts, is_probe, "
            "tiebreak), so it adds no second Exchange. HARD REQUIREMENT: "
            "exactly one shuffle Exchange, no join operator at all in the "
            "plan, no cartesian product.",
            asof_plan,
        )
    )
    n_asof_ex = n_shuffle_ex(asof_plan)
    if (
        n_asof_ex != 1
        or "CartesianProduct" in asof_plan
        or "BroadcastNestedLoop" in asof_plan
        or "SortMergeJoin" in asof_plan
        or "BroadcastHashJoin" in asof_plan
    ):
        print(
            f"FATAL: as-of plan has {n_asof_ex} shuffle Exchanges "
            "(expected exactly 1) or contains a join operator",
            file=sys.stderr,
        )
        sys.exit(1)
    heat = dq.q_cell_heatmap(spark, sf_dir)
    heat_plan = plan_of(heat)
    sections.append(
        (
            "Cell heatmap (multi-level density rollup)",
            "Expected: one events scan -> phash geotag projection -> "
            "explode into 3 (level, cell) keys -> partial hash aggregate "
            "(map-side combine) -> ONE Exchange keyed on (level, cell) -> "
            "final hash aggregate. The shuffle carries only partial "
            "counts, bounded by distinct-cell count. HARD REQUIREMENT: "
            "exactly one shuffle Exchange, partial aggregation present, "
            "no join of any kind.",
            heat_plan,
        )
    )
    n_heat_ex = n_shuffle_ex(heat_plan)
    if (
        n_heat_ex != 1
        or "partial_count" not in heat_plan
        or "Join" in heat_plan
    ):
        print(
            f"FATAL: cell-heatmap plan has {n_heat_ex} shuffle Exchanges "
            "(expected exactly 1) or lost its map-side partial aggregation",
            file=sys.stderr,
        )
        sys.exit(1)

    minhash = pq.q_minhash_signatures(spark, sf_dir)
    mh_plan = plan_of(minhash)
    sections.append(
        (
            "MinHash signatures (single-shuffle)",
            "Expected: scan -> tokenize/shingle projection -> ONE Exchange "
            "(the map-side-combined min aggregation). No distinct pass: "
            "min over the shingle multiset equals min over the set.",
            mh_plan,
        )
    )
    n_ex = mh_plan.count("Exchange")
    if n_ex > 2:  # hashagg partial + final share one Exchange; AQE may add a read
        print(f"FATAL: minhash plan has {n_ex} Exchanges (expected 1)", file=sys.stderr)
        sys.exit(1)

    import htg_spark.terrain_queries as tq

    terr = tq.q_terrain_horn(spark, sf_dir)
    terr_plan = plan_of(terr)
    sections.append(
        (
            "Horn terrain products (map-only)",
            "Expected: events scan -> JVM point derivation -> ONE "
            "ArrowEvalPython node (the engine's kernel UDF running the terrain "
            "kernel over lat/lon only: 3x3 stencil gather over tiles read "
            "by path, exact int64 sums out) -> JVM codegen projection for "
            "slope/hillshade/aspect. HARD REQUIREMENT: zero Exchanges — the "
            "raster never shuffles and neither do the points — and no "
            "MapInArrow: the payload stays in the JVM.",
            terr_plan,
        )
    )
    engine_sections.append(sections[-1])
    n_terr_ex = n_shuffle_ex(terr_plan)
    if n_terr_ex != 0 or "ArrowEvalPython" not in terr_plan or "MapInArrow" in terr_plan:
        print(
            f"FATAL: terrain plan has {n_terr_ex} shuffle Exchanges "
            "(expected 0 — map-only), lacks ArrowEvalPython, or runs MapInArrow",
            file=sys.stderr,
        )
        sys.exit(1)

    prof = tq.q_path_profile(spark, sf_dir)
    prof_plan = plan_of(prof)
    sections.append(
        (
            "Path profile + line-of-sight (single window Exchange)",
            "Expected: explode (map) -> broadcast elevation join (map) -> "
            "ONE hash Exchange on event_id + ONE Sort feeding every window "
            "function (lag, first_value, running sum, running max share the "
            "same partitioning and ordering). HARD REQUIREMENT: exactly one "
            "shuffle Exchange and at most one Sort.",
            prof_plan,
        )
    )
    n_prof_ex = n_shuffle_ex(prof_plan)
    n_prof_sort = len(_re.findall(r"\(\d+\) Sort\b", prof_plan))
    if n_prof_ex != 1 or n_prof_sort > 1:
        print(
            f"FATAL: path-profile plan has {n_prof_ex} shuffle Exchanges / "
            f"{n_prof_sort} Sorts (expected 1 / <=1 — all windows must share "
            "one partitioning)",
            file=sys.stderr,
        )
        sys.exit(1)

    pyr = tq.q_pyramid_hillshade_stats(spark, sf_dir)
    pyr_plan = plan_of(pyr)
    sections.append(
        (
            "Zoom-stack hillshade render (map-only raster product)",
            "Expected: catalog scan -> ONE MapInArrow stage (one decode per "
            "tile feeds pooling, Horn stencil, and byte quantization for "
            "every pyramid level) -> JVM codegen projection for mean_byte. "
            "HARD REQUIREMENT: zero Exchanges — tile blobs and rendered "
            "payloads never shuffle; this is the same shape the whole-tile "
            "hillshade and overview-pyramid renders share.",
            pyr_plan,
        )
    )
    n_pyr_ex = n_shuffle_ex(pyr_plan)
    if n_pyr_ex != 0:
        print(
            f"FATAL: pyramid-hillshade plan has {n_pyr_ex} shuffle Exchanges "
            "(expected 0 — map-only render)",
            file=sys.stderr,
        )
        sys.exit(1)

    import htg_spark.driver_queries as dqmod

    chips = dqmod.q_image_chips(spark, sf_dir)
    chips_plan = plan_of(chips)
    sections.append(
        (
            "Training-patch extraction (map-only fan-out over image payloads)",
            "Expected: events scan -> MapInPandas (deterministic image "
            "synthesis) -> ONE MapInArrow stage (decode + reshape split + "
            "Arrow-native chip assembly) -> projection. HARD REQUIREMENT: "
            "zero Exchanges — payloads never shuffle even though output "
            "rows fan out ~10x per image.",
            chips_plan,
        )
    )
    n_chip_ex = n_shuffle_ex(chips_plan)
    if n_chip_ex != 0:
        print(
            f"FATAL: image-chips plan has {n_chip_ex} shuffle Exchanges "
            "(expected 0 — map-only fan-out)",
            file=sys.stderr,
        )
        sys.exit(1)

    # --- curation + spatial additions (round 5 continuation) ---------------
    from htg_spark import curation_queries as cuq
    from htg_spark import spatial_queries as spq

    gh = spq.q_geohash_cells(spark, sf_dir)
    gh_plan = plan_of(gh)
    sections.append(
        (
            "Geohash encode (pure codegen key projection)",
            "Expected: events scan -> staged integer projections (axis "
            "quantize, bit interleave, base-32 chars) with ZERO Exchanges — "
            "the multi-resolution partition key must be free at any scale.",
            gh_plan,
        )
    )
    strat = cuq.q_stratified_sample(spark, sf_dir)
    strat_plan = plan_of(strat)
    sections.append(
        (
            "Stratified hash sampling (zero-shuffle gate)",
            "Expected: documents scan -> md5/conv/CASE projection, ZERO "
            "Exchanges — the sampling gate is partition-independent by "
            "construction (no rand(), no RNG state).",
            strat_plan,
        )
    )
    for nm, pl in (("geohash", gh_plan), ("stratified-sample", strat_plan)):
        n = n_shuffle_ex(pl)
        if n != 0:
            print(
                f"FATAL: {nm} plan has {n} shuffle Exchanges (expected 0 — "
                "pure projection)",
                file=sys.stderr,
            )
            sys.exit(1)

    rad = spq.q_radius_neighbors(spark, sf_dir)
    rad_plan = plan_of(rad)
    sections.append(
        (
            "Radius self-join (grid-bucketed neighborhood count)",
            "Expected: the gridded base frame materialized ONCE behind a "
            "lazy localCheckpoint (Scan ExistingRDD; zero direct parquet "
            "scans survive into the final plan even though THREE branches "
            "read it), probe side exploded to 3x3 cells, equi-join on "
            "(jx, jy), exact d2 filter inside the join stage, one narrow "
            "count/min aggregation, broadcast left join for zero-count "
            "rows. HARD REQUIREMENT: no cartesian product, no blob/text "
            "columns in any Exchange, zero parquet re-scans.",
            rad_plan,
        )
    )
    if (
        "CartesianProduct" in rad_plan
        or "BroadcastNestedLoopJoin" in rad_plan
        or len(_re.findall(r"\(\d+\) Scan parquet", rad_plan)) != 0
        or "Scan ExistingRDD" not in rad_plan
    ):
        print(
            "FATAL: radius-join plan re-scans parquet, lost its checkpointed "
            "base, or contains a cartesian product",
            file=sys.stderr,
        )
        sys.exit(1)

    dec = cuq.q_decontamination(spark, sf_dir)
    dec_plan = plan_of(dec)
    sections.append(
        (
            "Benchmark decontamination (broadcast eval n-grams)",
            "Expected: corpus n-grams are a zero-shuffle array projection "
            "exploded into a BroadcastHashJoin against the DISTINCT-ed eval "
            "set (benchmark-sized -> broadcast by construction); only hits "
            "reach the groupBy(doc_id); the flag rejoins the id-only corpus "
            "projection via a broadcast left join. HARD REQUIREMENT: the "
            "eval join and the flag join are BroadcastHashJoins (document "
            "text must never shuffle), no cartesian product.",
            dec_plan,
        )
    )
    n_dec_bhj = len(_re.findall(r"\(\d+\) BroadcastHashJoin\b", dec_plan))
    if n_dec_bhj != 2 or "CartesianProduct" in dec_plan or "SortMergeJoin" in dec_plan:
        print(
            f"FATAL: decontamination plan has {n_dec_bhj} BroadcastHashJoins "
            "(expected exactly 2 — eval match + flag rejoin) or a shuffled "
            "join of document text",
            file=sys.stderr,
        )
        sys.exit(1)

    mix = cuq.q_mixture_weights(spark, sf_dir)
    mix_plan = plan_of(mix)
    sections.append(
        (
            "Mixture weights (single corpus aggregation)",
            "Expected: ONE corpus scan + groupBy into the checkpointed "
            "counts frame (Scan ExistingRDD — the denominator fold and the "
            "final select both read it without re-aggregating); the 1-row "
            "denominator rides a BroadcastNestedLoopJoin cross join, which "
            "is exactly right for a single-row build side. HARD "
            "REQUIREMENT: at most one parquet scan.",
            mix_plan,
        )
    )
    if len(_re.findall(r"\(\d+\) Scan parquet", mix_plan)) > 1:
        print(
            "FATAL: mixture-weights plan aggregates the corpus more than "
            "once (counts frame not materialized)",
            file=sys.stderr,
        )
        sys.exit(1)

    pack = cuq.q_sequence_fill(spark, sf_dir)
    pack_plan = plan_of(pack)
    sections.append(
        (
            "Sequence packing + fill rollup (per-shard window)",
            "Expected: ONE Exchange on the shard key serves BOTH the "
            "per-shard running-sum window AND the (shard, seq) aggregation — "
            "hash(shard) satisfies ClusteredDistribution(shard, seq) because "
            "the partitioning keys are a subset of the grouping keys, so the "
            "explode-to-spans fan-out, the interval-intersection math, and "
            "the full rollup all stay in the post-window stage. HARD "
            "REQUIREMENT: exactly 1 shuffle Exchange and no SinglePartition "
            "global window.",
            pack_plan,
        )
    )
    n_ex = n_shuffle_ex(pack_plan)
    if n_ex != 1 or "SinglePartition" in pack_plan:
        print(
            f"FATAL: sequence-fill plan has {n_ex} Exchanges (expected 1 — "
            "the window Exchange must be reused by the rollup) "
            "or a SinglePartition global window",
            file=sys.stderr,
        )
        sys.exit(1)

    jj = pq.q_ngram_jaccard_join(spark, sf_dir)
    jj_plan = plan_of(jj)
    sections.append(
        (
            "Exact n-gram Jaccard join (prefix filtering)",
            "Expected: the distinct-shingle stream and the ranked prefix are "
            "lazily checkpointed (Scan ExistingRDD), so the df table, the "
            "window rank, both candidate-join sides, and the verify array "
            "join all read materialized blocks — the corpus parquet never "
            "re-scans into the final plan. Candidates come from a shingle "
            "equi-join with the integer length filter inside the join "
            "condition. HARD REQUIREMENT: no cartesian product, zero "
            "parquet scans (checkpointed bases only).",
            jj_plan,
        )
    )
    if (
        "CartesianProduct" in jj_plan
        or "BroadcastNestedLoopJoin" in jj_plan
        or len(_re.findall(r"\(\d+\) Scan parquet", jj_plan)) != 0
        or "Scan ExistingRDD" not in jj_plan
    ):
        print(
            "FATAL: jaccard-join plan re-scans parquet, lost its "
            "checkpointed bases, or contains a cartesian product",
            file=sys.stderr,
        )
        sys.exit(1)

    sd = pq.q_semdedup(spark, sf_dir)
    sd_plan = plan_of(sd)
    sections.append(
        (
            "SemDeDup (cluster-then-prune)",
            "Expected: embeddings scan (twice — base + scaled-copy union) -> "
            "ArrowEvalPython (ivf_assign_udf centroid assignment) -> exactly "
            "ONE hash Exchange on the cluster id -> FlatMapGroupsInPandas "
            "emitting per-vector verdicts. Pairwise cosines never appear in "
            "the plan — no pair join, no cartesian; the embedding column "
            "crosses the single Exchange once.",
            sd_plan,
        )
    )
    n_sd_ex = n_shuffle_ex(sd_plan)
    if (
        n_sd_ex != 1
        or "FlatMapGroupsInPandas" not in sd_plan
        or "CartesianProduct" in sd_plan
        or "SortMergeJoin" in sd_plan
    ):
        print(
            f"FATAL: semdedup plan has {n_sd_ex} Exchanges (expected exactly "
            "1 — the cluster hash shuffle) or lost its applyInPandas stage "
            "or grew a pair join",
            file=sys.stderr,
        )
        sys.exit(1)

    from htg_spark import driver_queries as dq

    ve = dq.q_vision_pipeline_e2e(spark, sf_dir)
    ve_plan = plan_of(ve)
    sections.append(
        (
            "Composed vision pipeline final plan (vision_pipeline_e2e)",
            "Expected: the generated image table and the quality-gate "
            "survivors are each lazily localCheckpoint'ed (Scan ExistingRDD) "
            "so the three decode stages (quality, aHash, chips) read "
            "materialized blocks — ZERO direct parquet scans survive into "
            "the final plan and the synthetic generator never re-runs. "
            "No cartesian products; joins are id-equi-joins.",
            ve_plan,
        )
    )
    if (
        len(_re.findall(r"\(\d+\) Scan parquet", ve_plan)) != 0
        or "Scan ExistingRDD" not in ve_plan
        or "CartesianProduct" in ve_plan
        or "BroadcastNestedLoopJoin" in ve_plan
    ):
        print(
            "FATAL: vision_pipeline_e2e plan re-scans parquet, lost its "
            "checkpointed bases, or contains a cartesian product",
            file=sys.stderr,
        )
        sys.exit(1)

    # mercator tile rollup: zero-shuffle projection + exactly ONE hash-agg
    # Exchange (the tile-key groupBy); no Python workers anywhere
    from htg_spark import spatial_queries as sq

    merc = sq.q_mercator_tiles(spark, sf_dir)
    merc_plan = plan_of(merc)
    n_merc_ex = merc_plan.count("Exchange")
    sections.append(
        (
            "Web-mercator tile rollup (mercator_tiles)",
            "Expected: events scan -> pure codegen projection (sin/ln/floor + "
            "integer bit interleave, no Python) -> exactly ONE hashpartitioning "
            "Exchange for the tile-key aggregation.",
            merc_plan,
        )
    )
    # formatted explain names each node twice (tree + details): one
    # Exchange counts as 2
    if n_merc_ex > 2 or "ArrowEvalPython" in merc_plan or "MapInPandas" in merc_plan:
        print(
            f"FATAL: mercator plan has {n_merc_ex // 2} Exchanges (expected 1) "
            "or a Python worker in a pure-expression pipeline",
            file=sys.stderr,
        )
        sys.exit(1)

    # incremental dedup: candidate generation must be index-joins only —
    # no cartesian product, and no corpus-side band self-join
    from htg_spark import pipeline_queries as pq2

    inc = pq2.q_incremental_dedup(spark, sf_dir)
    inc_plan = plan_of(inc)
    sections.append(
        (
            "Incremental corpus dedup (incremental_dedup)",
            "Expected: batch bands equi-join the corpus band index; exact "
            "verify joins shingle-array tables by id with the corpus side "
            "semi-join-pruned to candidates; md5 exact index left-joined. "
            "NEVER a cartesian product or corpus x corpus join.",
            inc_plan,
        )
    )
    if "CartesianProduct" in inc_plan:
        print("FATAL: incremental-dedup plan contains a cartesian product", file=sys.stderr)
        sys.exit(1)

    # spatio-temporal co-location: ONE SortMergeJoin/ShuffledHashJoin on the
    # 27-key grid covering — never a cartesian product; the exact d2/dt
    # predicates must sit INSIDE the join (no post-join Python)
    coloc = sq.q_colocation(spark, sf_dir)
    coloc_plan = plan_of(coloc)
    sections.append(
        (
            "Spatio-temporal co-location join (colocation)",
            "Expected: both sides bucket to (gx, gy, time-bucket); probe "
            "explodes to its 27 neighbor keys (narrow columns only), build "
            "keeps home keys; ONE equi-join with the exact d2/dt/user< "
            "predicates as join conditions, then one narrow (a, b) hash "
            "rollup. HARD REQUIREMENT: no cartesian product, exactly one "
            "join node.",
            coloc_plan,
        )
    )
    n_coloc_joins = len(_re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", coloc_plan))
    if "CartesianProduct" in coloc_plan or n_coloc_joins != 1:
        print(
            f"FATAL: colocation plan has {n_coloc_joins} join nodes "
            "(expected exactly 1 grid equi-join) or a cartesian product",
            file=sys.stderr,
        )
        sys.exit(1)

    # OD flow matrix: all four window functions + the per-trip agg ride ONE
    # user-hash Exchange (subset rule); the OD rollup is the only other
    # Exchange — exactly two shuffles, no joins, no Python workers
    od = sq.q_od_flows(spark, sf_dir)
    od_plan = plan_of(od)
    sections.append(
        (
            "Origin-destination flow matrix (od_flows)",
            "Expected: events scan -> gap lag + running-sum trip grouping + "
            "two endpoint row_number windows + per-trip conditional agg, all "
            "clustered by the ONE user-hash Exchange ((user, trip) windows "
            "satisfy the subset rule); then ONE narrow Exchange into the "
            "(o_gx, o_gy, d_gx, d_gy) hash aggregation. HARD REQUIREMENT: "
            "exactly two shuffle Exchanges, no join, no Python worker.",
            od_plan,
        )
    )
    n_od_shuffles = n_shuffle_ex(od_plan)
    if n_od_shuffles != 2 or "ArrowEvalPython" in od_plan or "MapInPandas" in od_plan:
        print(
            f"FATAL: od_flows plan has {n_od_shuffles} shuffle Exchanges "
            "(expected exactly 2) or a Python worker in a pure-window plan",
            file=sys.stderr,
        )
        sys.exit(1)

    # trajectory feature layer: kinematics and trip_shape are pure
    # one-Exchange window plans — every lag/row_number pass and (for
    # trip_shape) the per-trip rollup must ride the single user-hash
    # Exchange via the subset rule, with no join and no Python worker
    for qname, qfn, title in (
        ("track_kinematics", sq.q_track_kinematics,
         "Per-ping trajectory kinematics (track_kinematics)"),
        ("trip_shape", sq.q_trip_shape,
         "Per-trip path length / tortuosity (trip_shape)"),
    ):
        qplan = plan_of(qfn(spark, sf_dir))
        sections.append(
            (
                title,
                "Expected: events scan -> epoch-µs projection -> ONE "
                "user-hash Exchange serving every Window pass (and the "
                "per-trip hash aggregation, for trip_shape, via the subset "
                "rule) -> codegen projection. HARD REQUIREMENT: exactly one "
                "shuffle Exchange, no join, no Python worker.",
                qplan,
            )
        )
        n_sh = n_shuffle_ex(qplan)
        bad_nodes = _re.findall(
            r"ArrowEvalPython|MapInPandas|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastHashJoin|CartesianProduct",
            qplan,
        )
        if n_sh != 1 or bad_nodes:
            print(
                f"FATAL: {qname} plan has {n_sh} shuffle Exchanges (expected "
                f"exactly 1) or unexpected nodes {sorted(set(bad_nodes))}",
                file=sys.stderr,
            )
            sys.exit(1)

    # hard gate: no engine plan cogroups, reads a checkpoint or shuffles
    # the tile blobs
    for title, _expect, plan in engine_sections:
        faults = engine_plan_faults(plan)
        if faults:
            print(f"FATAL: engine section {title!r}: {faults}", file=sys.stderr)
            sys.exit(1)

    with open("PLANS.md", "w") as f:
        f.write("# PLANS — .explain('formatted') audit of the key plan shapes\n")
        for title, expect, plan in sections:
            f.write(f"\n## {title}\n\n{expect}\n\n```\n{plan}```\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
