"""Plan-shape audit of the engine's key plans, written to PLANS.md.

Each section is data: a title, the expected shape in words, a builder
``(spark, sf_dir) -> DataFrame`` and a list of gates, node predicates from
``htg_spark.profile`` over the planned (never executed) physical nodes.
The audit builds every section, checks every gate, prints every fault to
stderr and exits non-zero if there was any. PLANS.md holds, per section,
the expected text, the gates and the node outline (names, Exchange
partitioning, output columns): no expression ids or paths, so an
unchanged tree writes identical bytes.

The engine's contract: the map-side layout is one map-only Arrow stage;
the salted layout moves the input rows through one Exchange, only when the
catalog exceeds the engine's grid cache, for an in-memory and a tile_dir
catalog alike; no engine plan cogroups, reads a checkpoint or moves the
tile blobs.

Run from the repo root: python scripts/explain_audit.py
"""

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from htg_spark import curation_queries as cuq
from htg_spark import driver_queries as dq
from htg_spark import pipeline_queries as pq
from htg_spark import polygon_queries as polyq
from htg_spark import spatial_queries as sq
from htg_spark import terrain_queries as tq
from htg_spark.catalog import tile_inventory
from htg_spark.engine import ElevationEngine
from htg_spark.operators import text
from htg_spark.profile import (
    JOINS,
    absent,
    count,
    faults,
    no_column,
    partial_agg,
    partitioned,
    plan_nodes,
    present,
    render,
    shuffles,
)
from htg_spark.session import get_spark

SCAN = "Scan parquet"
CHECKPOINT = "Scan ExistingRDD"
NO_CROSS = absent("CartesianProduct", "BroadcastNestedLoopJoin")
NO_PYTHON = absent("ArrowEvalPython", "MapInPandas")
ANY_EXCHANGE = ("Exchange", "BroadcastExchange", "ReusedExchange")
# what no elevation-engine plan may hold: a cogroup, a checkpoint scan, or
# an Exchange moving the binary tile `data` column (tiles are read by path)
ENGINE = [
    absent("FlatMapCoGroupsInArrow", "FlatMapCoGroupsInPandas", CHECKPOINT),
    no_column("data", "Exchange"),
]
MAP_SIDE = ENGINE + [shuffles(0), present("ArrowEvalPython")]
# the input rows move once, into the kernel UDF only: no id re-join or
# grouped/mapped Arrow node
SALTED = ENGINE + [
    shuffles(1),
    present("ArrowEvalPython"),
    absent("SortMergeJoin", "MapInArrow"),
]
# checkpointed bases only: no direct parquet scan survives into the plan
CHECKPOINTED = [count(SCAN, 0, 0), present(CHECKPOINT), NO_CROSS]


def sections(spark, sf_dir):
    eng = dq.get_engine(spark)
    salted_eng = dq.get_engine(spark, cache_size=2)
    path_eng = dq.get_path_engine(spark)
    over_eng = ElevationEngine(spark, catalog=path_eng.catalog, cache_size=2)

    def join(e, **kw):
        def build(spark, sf_dir):
            pts = dq.derive_points(spark.read.parquet(f"{sf_dir}/events.parquet"))
            return e.elevation_join(pts, mode="nearest", id_col="event_id", **kw)

        return build

    corpus = pq.e2e_corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    n_corpus_scans = sum(n.name == SCAN for n in plan_nodes(corpus))

    def tier1(spark, sf_dir):
        redacted = text.line_filter(corpus, id_col="cid")
        return text.pii_redact(
            redacted.select("cid", F.col("kept_text").alias("text")), id_col="cid"
        )

    salted_text = (
        "The input rows are salted by cell (a broadcast join with the "
        "histogram's salt table) and cross one hash Exchange on the salted "
        "tile key; ArrowEvalPython then runs the kernel UDF, reading tiles "
        "by path."
    )
    window_text = (
        "events scan -> epoch-µs projection -> one user-hash Exchange "
        "serving every Window pass (and the per-trip hash aggregation, for "
        "trip_shape, via the subset rule) -> codegen projection."
    )
    return [
        ("strategy='broadcast' elevation join (map-side)",
         "scan -> project (JVM key math) -> one ArrowEvalPython node (the "
         "kernel UDF over lat/lon only), reading tiles by path through the "
         "engine's index (this in-memory catalog spilled to files); payload "
         "columns stay in the JVM.",
         join(eng, strategy="broadcast"), MAP_SIDE),
        ("Cogroup join, in-memory catalog exceeds the grid cache (salted)",
         "The catalog was spilled once to content-named files shipped with "
         "addFile, so this plan reads tiles by path like a tile_dir engine. "
         + salted_text,
         join(salted_eng, strategy="cogroup", n_salts=4), SALTED),
        ("Cogroup join, in-memory catalog exceeds the grid cache (salted, kNN fallback)",
         "As above, with the kNN fallback in the same kernel pass.",
         join(salted_eng, strategy="cogroup", n_salts=4, knn_fallback=True), SALTED),
        ("Scan pruning sanity (events parquet)",
         "The scan reads only event_id/user_id.",
         lambda spark, sf_dir: spark.read.parquet(f"{sf_dir}/events.parquet")
         .where(F.col("event_id") % 2 == 0).select("event_id", "user_id"),
         []),
        ("Catalog inventory aggregation",
         "partial count/sum before the resolution Exchange (map-side "
         "combine); the byte count comes from `samples`, so no tile is read.",
         lambda spark, sf_dir: tile_inventory(eng.catalog), [partial_agg()]),
        ("Cogroup join, tile_dir catalog fits the grid cache (map-side)",
         "The catalog holds no more tiles than the engine's cache_size, so "
         "every reused Python worker keeps every tile across tasks: no "
         "histogram job, no salt join, ArrowEvalPython on the input "
         "partitions reading tiles by path.",
         join(path_eng, strategy="cogroup", n_salts=4),
         MAP_SIDE + [no_column("data")]),
        ("Cogroup join, tile_dir catalog exceeds the grid cache (salted)",
         salted_text + " No catalog-side shuffle: at 100 TB of rasters the "
         "tiles must never ride a shuffle (tasks read them from shared "
         "storage).",
         join(over_eng, strategy="cogroup", n_salts=4), SALTED),
        ("Embedding near-dup (multi-table LSH bucketed)",
         "per-table bucket self-equi-joins (SortMergeJoin/ShuffledHashJoin "
         "on bk) unioned + deduped, cosine on candidates only.",
         pq.q_embedding_near_dup, [NO_CROSS]),
        ("Video-frame near-dup (aHash exact-collapse + banding)",
         "the decode->hash->groupBy(ahash) corpus is materialized once "
         "behind a lazy localCheckpoint (reps), so the banding self-join "
         "and the broadcast n_a/n_b joins read ExistingRDD, never the "
         "events scan.",
         pq.q_frame_near_dup, [NO_CROSS, count(SCAN, 0, 0)]),
        ("Audio near-dup (acoustic fingerprint exact-collapse + banding)",
         "Same contract as the video-frame near-dup.",
         pq.q_audio_near_dup, [NO_CROSS, count(SCAN, 0, 0)]),
        ("Composed pipeline tier 1: corpus -> line filter -> PII redact",
         "The line filter and redaction fuse into the corpus assembly's "
         "projections: as many parquet scans as the bare fixture corpus "
         "(its 3-branch dup-planting union, branches with disjoint pushed "
         "filters; a real corpus arrives as one table and one scan).",
         tier1, [count(SCAN, n_corpus_scans, n_corpus_scans)]),
        ("Composed pipeline final plan (pipeline_e2e)",
         "every stage tier reads its input from a lazily localCheckpoint'ed "
         "frame, so no stage re-derives the corpus however many branches "
         "reference it.",
         pq.q_pipeline_e2e, CHECKPOINTED),
        ("Point-in-polygon join (broadcast + fold)",
         "points scan -> JVM key/coordinate projection -> BroadcastHashJoin "
         "on the covering cell -> PNPOLY fold + parity filter, one map-only "
         "stage over the points scan: at 10^12 points the point table never "
         "shuffles.",
         polyq.q_point_in_polygon, [shuffles(0), absent("CartesianProduct")]),
        ("Polygon zonal stats (PIP -> elevation kernel -> rollup)",
         "the PIP broadcast join and the elevation kernel chain map-only "
         "over the points scan; the one shuffle is the narrow "
         "groupBy(poly_id) hash aggregation.",
         polyq.q_polygon_zonal_stats, [shuffles(1), absent("CartesianProduct")]),
        ("GeoJSON containment (per-ring PIP -> even-odd parity)",
         "the per-ring PIP broadcast join map-only over the points scan "
         "(ring parse + covering refinement on the broadcast side), then "
         "one narrow groupBy(point, feature) ring-count parity.",
         polyq.q_geojson_containment,
         [shuffles(1), count("BroadcastHashJoin", 1, 1), absent("CartesianProduct")]),
        ("As-of join (union-sort window shape)",
         "both event scans tagged and unioned, one hash Exchange on user_id "
         "feeding a Sort + Window (last(payload, ignorenulls)), never a "
         "range join. Duplicate-marker-timestamp resolution rides the "
         "window sort order (ts, is_probe, tiebreak).",
         pq.q_event_asof_join, [shuffles(1), absent(*JOINS)]),
        ("Cell heatmap (multi-level density rollup)",
         "one events scan -> phash geotag projection -> explode into 3 "
         "(level, cell) keys -> partial hash aggregate -> one Exchange on "
         "(level, cell) -> final aggregate: the shuffle carries only "
         "partial counts.",
         dq.q_cell_heatmap, [shuffles(1), partial_agg(), absent(*JOINS)]),
        ("MinHash signatures (single-shuffle)",
         "scan -> tokenize/shingle projection -> one Exchange (the "
         "map-side-combined min aggregation). No distinct pass: min over "
         "the shingle multiset equals min over the set.",
         pq.q_minhash_signatures, [count(ANY_EXCHANGE, 0, 1)]),
        ("Horn terrain products (map-only)",
         "events scan -> JVM point derivation -> one ArrowEvalPython node "
         "(the engine's kernel UDF running the terrain kernel over lat/lon "
         "only, tiles read by path, exact int64 sums out) -> JVM codegen "
         "slope/hillshade/aspect; the payload stays in the JVM.",
         tq.q_terrain_horn, MAP_SIDE + [absent("MapInArrow")]),
        ("Path profile + line-of-sight (single window Exchange)",
         "explode -> broadcast elevation join (map) -> one hash Exchange on "
         "event_id + one Sort feeding every window function (lag, "
         "first_value, running sum and max share one partitioning).",
         tq.q_path_profile, [shuffles(1), count("Sort", 0, 1)]),
        ("Zoom-stack hillshade render (map-only raster product)",
         "catalog scan -> one MapInArrow stage (one decode per tile feeds "
         "pooling, Horn stencil and byte quantization for every level) -> "
         "projection; the shape the whole-tile hillshade and overview "
         "pyramid share.",
         tq.q_pyramid_hillshade_stats, [shuffles(0)]),
        ("Training-patch extraction (map-only fan-out over image payloads)",
         "events scan -> MapInPandas (image synthesis) -> one MapInArrow "
         "stage (decode + split + chip assembly) -> projection: payloads "
         "never shuffle though rows fan out ~10x per image.",
         dq.q_image_chips, [shuffles(0)]),
        ("Geohash encode (pure codegen key projection)",
         "events scan -> staged integer projections (axis quantize, bit "
         "interleave, base-32 chars): the partition key is free at any scale.",
         sq.q_geohash_cells, [shuffles(0)]),
        ("Stratified hash sampling (zero-shuffle gate)",
         "documents scan -> md5/conv/CASE projection: the sampling gate is "
         "partition-independent by construction (no rand(), no RNG state).",
         cuq.q_stratified_sample, [shuffles(0)]),
        ("Radius self-join (grid-bucketed neighborhood count)",
         "the gridded base frame is materialized once behind a lazy "
         "localCheckpoint and read by three branches; probe side exploded "
         "to 3x3 cells, equi-join on (jx, jy), exact d2 filter inside the "
         "join stage, one narrow count/min aggregation, broadcast left "
         "join for zero-count rows.",
         sq.q_radius_neighbors, CHECKPOINTED),
        ("Benchmark decontamination (broadcast eval n-grams)",
         "corpus n-grams (a zero-shuffle array projection) exploded into a "
         "BroadcastHashJoin against the distinct eval set; only hits reach "
         "the groupBy(doc_id); the flag rejoins the id-only corpus through "
         "a broadcast left join, so document text never shuffles.",
         cuq.q_decontamination,
         [count("BroadcastHashJoin", 2, 2), absent("CartesianProduct", "SortMergeJoin")]),
        ("Mixture weights (single corpus aggregation)",
         "one corpus scan + groupBy into the checkpointed counts frame, "
         "which the denominator fold and the final select both read; the "
         "1-row denominator rides a BroadcastNestedLoopJoin cross join.",
         cuq.q_mixture_weights, [count(SCAN, 0, 1)]),
        ("Sequence packing + fill rollup (per-shard window)",
         "one Exchange on the shard key serves both the per-shard "
         "running-sum window and the (shard, seq) aggregation: hash(shard) "
         "satisfies ClusteredDistribution(shard, seq), so the span explode, "
         "the interval math and the rollup stay in the post-window stage.",
         cuq.q_sequence_fill, [shuffles(1), partitioned("SinglePartition", 0)]),
        ("Exact n-gram Jaccard join (prefix filtering)",
         "the distinct-shingle stream and the ranked prefix are lazily "
         "checkpointed, so the df table, the window rank, both candidate "
         "sides and the verify join read materialized blocks. Candidates "
         "come from a shingle equi-join with the length filter inside the "
         "join condition.",
         pq.q_ngram_jaccard_join, CHECKPOINTED),
        ("SemDeDup (cluster-then-prune)",
         "embeddings scan (base + scaled-copy union) -> ArrowEvalPython "
         "(ivf_assign_udf) -> one hash Exchange on the cluster id -> "
         "FlatMapGroupsInPandas per-vector verdicts; pairwise cosines never "
         "appear in the plan.",
         pq.q_semdedup,
         [shuffles(1), present("FlatMapGroupsInPandas"),
          absent("CartesianProduct", "SortMergeJoin")]),
        ("Composed vision pipeline final plan (vision_pipeline_e2e)",
         "the generated image table and the quality-gate survivors are each "
         "lazily localCheckpoint'ed, so the three decode stages (quality, "
         "aHash, chips) read materialized blocks and the generator never "
         "re-runs; joins are id-equi-joins.",
         dq.q_vision_pipeline_e2e, CHECKPOINTED),
        ("Web-mercator tile rollup (mercator_tiles)",
         "events scan -> pure codegen projection (sin/ln/floor + integer "
         "bit interleave) -> one hash Exchange for the tile-key aggregation.",
         sq.q_mercator_tiles, [count(ANY_EXCHANGE, 0, 1), NO_PYTHON]),
        ("Incremental corpus dedup (incremental_dedup)",
         "batch bands equi-join the corpus band index; exact verify joins "
         "shingle-array tables by id with the corpus side semi-join-pruned "
         "to candidates; md5 exact index left-joined. Never a corpus x "
         "corpus join.",
         pq.q_incremental_dedup, [absent("CartesianProduct")]),
        ("Spatio-temporal co-location join (colocation)",
         "both sides bucket to (gx, gy, time-bucket); the probe explodes to "
         "its 27 neighbor keys, the build keeps home keys; one equi-join "
         "with the exact d2/dt/user< predicates as join conditions, then a "
         "narrow (a, b) hash rollup.",
         sq.q_colocation,
         [absent("CartesianProduct"),
          count(("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"), 1, 1)]),
        ("Origin-destination flow matrix (od_flows)",
         "gap lag + running-sum trip grouping + two endpoint row_number "
         "windows + per-trip conditional agg, all clustered by one "
         "user-hash Exchange (subset rule); then one narrow Exchange into "
         "the (o_gx, o_gy, d_gx, d_gy) hash aggregation.",
         sq.q_od_flows, [shuffles(2), NO_PYTHON]),
        ("Per-ping trajectory kinematics (track_kinematics)", window_text,
         sq.q_track_kinematics, [shuffles(1), NO_PYTHON, absent(*JOINS)]),
        ("Per-trip path length / tortuosity (trip_shape)", window_text,
         sq.q_trip_shape, [shuffles(1), NO_PYTHON, absent(*JOINS)]),
    ]


def main():
    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — node outline of the key plan shapes\n\n"
        "Written by `python scripts/explain_audit.py`. Per section: the "
        "expected shape, the gates the audit checks, and the planned "
        "physical nodes (name, Exchange partitioning and keys, output "
        "columns), parents before children.\n"
    ]
    n_faults = 0
    for title, expected, build, gates in sections(spark, sf_dir):
        nodes = plan_nodes(build(spark, sf_dir))
        for fault in faults(nodes, gates):
            print(f"FAULT [{title}]: {fault}", file=sys.stderr)
            n_faults += 1
        listed = "".join(f"- {g.desc}\n" for g in gates) or "- none\n"
        out.append(
            f"\n## {title}\n\nExpected: {expected}\n\nGates:\n{listed}"
            f"\n```\n{render(nodes)}```\n"
        )
    with open("PLANS.md", "w") as f:
        f.write("".join(out))
    print(f"wrote PLANS.md; {n_faults} faults")
    spark.stop()
    sys.exit(1 if n_faults else 0)


if __name__ == "__main__":
    main()
