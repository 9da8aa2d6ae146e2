"""The one list of the queries this package answers.

- ``queries()`` / ``oracle_sql()``: every driver query and its DuckDB
  oracle, merged from the seven ``*_queries`` modules (a new query goes in
  its module's own pair). ``__spark_entry__`` re-exports both.
- ``BENCH`` / ``bench_entries``: the pipeline leaves bench.py times, in its
  order. bench.py keeps its own tuple; ``tests/test_registry.py`` pins the
  two to each other, so a new leaf goes in both.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htg_spark import (
    curation_queries,
    driver_queries,
    enrich_queries,
    pipeline_queries,
    polygon_queries,
    spatial_queries,
    terrain_queries,
)
from htg_spark.driver_queries import (
    derive_audio_table,
    derive_images_table,
    derive_video_table,
)
from htg_spark.operators import multimodal

Query = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    driver_queries,
    pipeline_queries,
    enrich_queries,
    polygon_queries,
    terrain_queries,
    curation_queries,
    spatial_queries,
)


def queries() -> dict[str, Query]:
    return {name: fn for m in _MODULES for name, fn in m.queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for m in _MODULES for name, sql in m.oracle_sql().items()}


BENCH = (
    # dedup, ANN, text and events (pipeline_queries)
    "dedup_exact", "minhash_signatures", "lsh_dedup_pairs", "ngram_jaccard_join",
    "incremental_dedup", "neardup_groups", "simhash", "simhash_near_dup",
    "ann_topk", "ann_ivf_topk", "ann_lsh_topk_multi", "ann_pq_topk",
    "embedding_near_dup", "semdedup", "text_quality", "text_stats",
    "bpe_token_stats", "lang_id", "repetition_stats", "top_terms", "pii_redact",
    "line_filter", "doc_fingerprint", "rolling_fingerprint", "line_dedup",
    "props_stats", "user_sessions", "funnel_stages", "event_asof_join",
    "interval_attribution", "phash_near_dup", "frame_near_dup", "audio_near_dup",
    # curation (curation_queries)
    "decontamination", "stratified_sample", "mixture_weights", "sequence_pack",
    "sequence_fill", "length_percentiles",
    # cells, trajectories and polygons (driver/spatial/polygon_queries)
    "cell_heatmap", "knn_poi_join", "geohash_cells", "mercator_tiles",
    "density_tiles", "segment_snap", "mercator_warp", "radius_neighbors",
    "idw_grid", "trajectory_segments", "simplify_track", "resample_track",
    "convex_hull", "colocation", "od_flows", "track_kinematics", "trip_shape",
    "od_top_destinations", "cell_smooth", "dbscan_clusters", "point_in_polygon",
    "polygon_metrics", "polygon_zonal_stats", "images_in_polygon",
    "geojson_containment", "geofence_dwell",
    # terrain and rasters (terrain_queries)
    "terrain_horn", "terrain_cogroup", "tile_hillshade_stats",
    "tile_pyramid_stats", "pyramid_hillshade_stats", "terrain_rgb_stats",
    "d8_flow_histogram", "flow_accumulation", "mosaic_hillshade",
    "contour_stats", "elevation_quantiles",
    # multimodal tables, end-to-end pipelines, image operators
    "image_chips", "audio_features", "video_frames", "path_profile",
    "pipeline_e2e", "vision_pipeline_e2e", "image_stats", "image_quality",
    "image_histogram", "image_resize", "image_embedding", "image_augment",
)


def bench_entries(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = ()
) -> list[tuple[str, Query]]:
    """``(name, fn(spark, sf_dir))`` for the ``BENCH`` leaves in ``names``
    (all when empty), in ``BENCH`` order; ValueError on an unknown name.
    A leaf is its ``queries()`` entry, except the nine multimodal leaves
    over the image, audio and video tables: the tables the selected leaves
    read are derived from the events' ids and persisted here once, so the
    leaves time the operators, not the payload generators."""
    names = set(names) or set(BENCH)
    unknown = names - set(BENCH)
    if unknown:
        raise ValueError(f"unknown queries: {sorted(unknown)}")
    imgs = auds = vids = None  # bound below, for the selected leaves only
    table_bound = {
        "image_chips": lambda s, d: multimodal.chip_images(imgs, chip=4).select(
            "image_id", "chip_row", "chip_col", "w", "h", "sum_r", "sum_g", "sum_b"
        ),
        "audio_features": lambda s, d: multimodal.audio_features(auds),
        "video_frames": lambda s, d: multimodal.video_frame_sample(
            vids, every_n=3
        ).select("image_id", "frame_idx", "w", "h", "sum_r", "sum_g", "sum_b"),
        "image_stats": lambda s, d: multimodal.image_stats(imgs),
        "image_quality": lambda s, d: multimodal.image_quality(imgs, edge_thresh=64),
        "image_histogram": lambda s, d: multimodal.image_histogram(imgs, bins=8),
        "image_resize": lambda s, d: multimodal.resize_images(imgs, 8, 8),
        "image_embedding": lambda s, d: multimodal.image_embedding(imgs, dim=16),
        "image_augment": lambda s, d: multimodal.augment_images(
            imgs.withColumn(
                "aug_delta",
                ((F.split(F.col("image_id"), "_").getItem(1).cast("long") % 96) - 48
                 ).cast("int"),
            ).withColumn(
                "aug_flip",
                (F.split(F.col("image_id"), "_").getItem(1).cast("long") % 2) == 0,
            )
        ),
    }
    # each lambda's free variables name the tables it reads
    used = {
        v for n in names & table_bound.keys() for v in table_bound[n].__code__.co_freevars
    }
    if used:
        ev_ids = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    if "imgs" in used:
        imgs = derive_images_table(ev_ids).persist()
        imgs.count()
    if "auds" in used:
        auds = derive_audio_table(ev_ids).persist()
        auds.count()
    if "vids" in used:
        vids = derive_video_table(ev_ids).persist()
        vids.count()
    fns = {**queries(), **table_bound}
    return [(name, fns[name]) for name in BENCH if name in names]
