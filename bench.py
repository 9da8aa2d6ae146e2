"""Per-round benchmark: headline elevation-join queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
 "sf": ..., "rows": {...}, "rows_per_sec": {...}}
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from htg_spark.bench_queries import (
    bench_engine,
    bench_path_engine,
    bench_points,
    run_join,
)
from htg_spark.engine import ElevationEngine
from htg_spark.session import get_spark


class _GateNotApplicable(Exception):
    """Raised to skip the regression gate when the run's input is not the
    default sf0.1 directory the recorded baselines describe."""


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "8"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(
        app_name="htg-bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")

    eng = bench_engine(spark)
    eng._path_index()  # catalog prep out of the timed region (preload, A4)
    pts = bench_points(spark, sf_dir, replicate=replicate).persist()
    n_rows = pts.count()  # materialize input out of the timed region
    # warm-up: pay one-time python-worker startup + index unpickle outside
    # the timed region (steady-state throughput is the metric; the one-time
    # cost is reported separately below)
    t0 = time.perf_counter()
    run_join(eng, pts, mode="nearest", strategy="broadcast")
    warmup_sec = round(time.perf_counter() - t0, 3)

    # the tile_dir engine reads the tiles of its own directory by path (the
    # 100-TB raster plan), timed alongside the in-memory engine, whose
    # tiles are spilled to files, so the two can never silently diverge
    path_eng = bench_path_engine(spark)
    queries = {
        "nearest_broadcast": dict(mode="nearest", strategy="broadcast"),
        "floor_broadcast": dict(mode="floor", strategy="broadcast"),
        "bilinear_broadcast": dict(mode="bilinear", strategy="broadcast"),
        "nearest_knn": dict(mode="nearest", strategy="broadcast", knn_fallback=True),
        "nearest_cogroup_salted": dict(mode="nearest", strategy="cogroup"),
        "nearest_cogroup_path": dict(mode="nearest", strategy="cogroup"),
    }
    # the salted leaf runs under a grid cache below the catalog's 36 tiles,
    # so its workers evict and map tiles again; its index reuses the
    # in-memory engine's spill files, built out of the timed region
    salted_eng = ElevationEngine(spark, catalog=eng.catalog, cache_size=16)
    salted_eng._path_index()
    engines = {"nearest_cogroup_salted": salted_eng, "nearest_cogroup_path": path_eng}
    # the host's per-process bandwidth throttle swings wall-clock 2-4x
    # between sessions (BENCH_SCALING.md protocol): run every query twice,
    # report the min — steady-state throughput, not the noise draw
    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "2"))

    def time_joins(points, trials):
        trials = max(1, trials)  # trials<1 would leave best=None; 0 is not a skip knob
        t, r, rp, chks = {}, {}, {}, {}
        for name, kw in queries.items():
            e = engines.get(name, eng)
            best, n = None, 0
            for _ in range(trials):
                t0 = time.perf_counter()
                n, chk, found = run_join(e, points, **kw)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                chks[name] = chk
            t[name] = round(best, 3)
            r[name] = n
            rp[name] = round(n / best)
        return t, r, rp, chks

    def strategy_parity(chks):
        """Order-insensitive checksum equality across the three physical
        strategies of the SAME logical nearest-join — a per-round invariant
        (the scaling scripts check this across parallelism levels; this
        checks it across plans)."""
        vals = {
            k: chks[k]
            for k in ("nearest_broadcast", "nearest_cogroup_salted", "nearest_cogroup_path")
            if k in chks
        }
        return len(set(vals.values())) == 1, vals

    times, rows, rps, chks = time_joins(pts, n_trials)
    strategy_match, strategy_chks = strategy_parity(chks)
    total = sum(times.values())

    # pipeline ops over the driver tables at this sf (dedup / ANN / text)
    from pyspark.sql import functions as F

    from htg_spark import curation_queries as _cq
    from htg_spark import pipeline_queries as pq
    from htg_spark import polygon_queries as _polyq
    from htg_spark import spatial_queries as _sq
    from htg_spark import terrain_queries as _tq

    def materialize(df):
        """Force computation of EVERY output column: a bare .count() lets
        Catalyst prune the workload being timed (verified: the counted
        props_stats plan contained no get_json_object at all — it timed a
        distinct-count of event_type). Hashing all columns per row keeps
        the full projection alive through the aggregate."""
        row = df.select(
            F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
        ).agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("chk")).collect()[0]
        # max, not sum: ANSI mode raises on long-sum overflow of hash values
        return row["n"]

    # images for the multimodal (L15) entries: REAL encoded raw/ppm/rawz
    # payloads derived from the events table, materialized once OUTSIDE the
    # timed region (the ops being timed are decode/stat/resize/embed, not
    # the synthetic generator)
    from htg_spark import driver_queries as _dq
    from htg_spark.driver_queries import derive_images_table
    from htg_spark.operators import multimodal

    imgs = derive_images_table(
        spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    ).persist()
    n_imgs = imgs.count()
    # same protocol for the audio/video payload tables (round-5 protocol
    # change: image_chips/audio_features/video_frames previously timed
    # their synthetic generators too — baselines re-recorded)
    from htg_spark.driver_queries import derive_audio_table, derive_video_table

    _ev_ids = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    auds = derive_audio_table(_ev_ids).persist()
    auds.count()
    vids = derive_video_table(_ev_ids).persist()
    vids.count()

    pipeline_entries = (
        ("dedup_exact", pq.q_dedup_exact),
        ("minhash_signatures", pq.q_minhash_signatures),
        ("lsh_dedup_pairs", pq.q_lsh_dedup_pairs),
        ("ngram_jaccard_join", pq.q_ngram_jaccard_join),
        ("incremental_dedup", pq.q_incremental_dedup),
        ("neardup_groups", pq.q_neardup_groups),
        ("simhash", pq.q_simhash),
        ("simhash_near_dup", pq.q_simhash_near_dup),
        ("ann_topk", pq.q_ann_topk),
        ("ann_ivf_topk", pq.q_ann_ivf_topk),
        ("ann_lsh_topk_multi", pq.q_ann_lsh_topk_multi),
        ("ann_pq_topk", pq.q_ann_pq_topk),
        ("embedding_near_dup", pq.q_embedding_near_dup),
        ("semdedup", pq.q_semdedup),
        ("text_quality", pq.q_text_quality),
        ("text_stats", pq.q_text_stats),
        ("bpe_token_stats", pq.q_bpe_token_stats),
        ("lang_id", pq.q_lang_id),
        ("repetition_stats", pq.q_repetition_stats),
        ("top_terms", pq.q_top_terms),
        ("pii_redact", pq.q_pii_redact),
        ("line_filter", pq.q_line_filter),
        ("doc_fingerprint", pq.q_doc_fingerprint),
        ("rolling_fingerprint", pq.q_rolling_fingerprint),
        ("line_dedup", pq.q_line_dedup),
        ("props_stats", pq.q_props_stats),
        ("user_sessions", pq.q_user_sessions),
        ("funnel_stages", pq.q_funnel_stages),
        ("event_asof_join", pq.q_event_asof_join),
        ("interval_attribution", pq.q_interval_attribution),
        ("phash_near_dup", pq.q_phash_near_dup),
        ("frame_near_dup", pq.q_frame_near_dup),
        ("audio_near_dup", pq.q_audio_near_dup),
        ("decontamination", _cq.q_decontamination),
        ("stratified_sample", _cq.q_stratified_sample),
        ("mixture_weights", _cq.q_mixture_weights),
        ("sequence_pack", _cq.q_sequence_pack),
        ("sequence_fill", _cq.q_sequence_fill),
        ("length_percentiles", _cq.q_length_percentiles),
        ("cell_heatmap", _dq.q_cell_heatmap),
        ("knn_poi_join", _dq.q_knn_poi_join),
        ("geohash_cells", _sq.q_geohash_cells),
        ("mercator_tiles", _sq.q_mercator_tiles),
        ("density_tiles", _sq.q_density_tiles),
        ("segment_snap", _sq.q_segment_snap),
        ("mercator_warp", _dq.q_mercator_warp),
        ("radius_neighbors", _sq.q_radius_neighbors),
        ("idw_grid", _sq.q_idw_grid),
        ("trajectory_segments", _sq.q_trajectory_segments),
        ("simplify_track", _sq.q_simplify_track),
        ("resample_track", _sq.q_resample_track),
        ("convex_hull", _sq.q_convex_hull),
        ("colocation", _sq.q_colocation),
        ("od_flows", _sq.q_od_flows),
        ("track_kinematics", _sq.q_track_kinematics),
        ("trip_shape", _sq.q_trip_shape),
        ("od_top_destinations", _sq.q_od_top_destinations),
        ("cell_smooth", _sq.q_cell_smooth),
        ("dbscan_clusters", _sq.q_dbscan_clusters),
        ("point_in_polygon", _polyq.q_point_in_polygon),
        ("polygon_metrics", _polyq.q_polygon_metrics),
        ("polygon_zonal_stats", _polyq.q_polygon_zonal_stats),
        ("images_in_polygon", _polyq.q_images_in_polygon),
        ("geojson_containment", _polyq.q_geojson_containment),
        ("geofence_dwell", _polyq.q_geofence_dwell),
        ("terrain_horn", _tq.q_terrain_horn),
        ("terrain_cogroup", _tq.q_terrain_cogroup),
        ("tile_hillshade_stats", _tq.q_tile_hillshade_stats),
        ("tile_pyramid_stats", _tq.q_tile_pyramid_stats),
        ("pyramid_hillshade_stats", _tq.q_pyramid_hillshade_stats),
        ("terrain_rgb_stats", _tq.q_terrain_rgb_stats),
        ("d8_flow_histogram", _tq.q_d8_histogram),
        ("flow_accumulation", _tq.q_flow_accumulation),
        ("mosaic_hillshade", _tq.q_mosaic_hillshade),
        ("contour_stats", _tq.q_contour_stats),
        ("elevation_quantiles", _tq.q_elevation_quantiles),
        ("image_chips", lambda s, d: multimodal.chip_images(imgs, chip=4).select(
            "image_id", "chip_row", "chip_col", "w", "h", "sum_r", "sum_g", "sum_b"
        )),
        ("audio_features", lambda s, d: multimodal.audio_features(auds)),
        ("video_frames", lambda s, d: multimodal.video_frame_sample(
            vids, every_n=3
        ).select("image_id", "frame_idx", "w", "h", "sum_r", "sum_g", "sum_b")),
        ("path_profile", _tq.q_path_profile),
        ("pipeline_e2e", pq.q_pipeline_e2e),
        ("vision_pipeline_e2e", _dq.q_vision_pipeline_e2e),
        ("image_stats", lambda s, d: multimodal.image_stats(imgs)),
        ("image_quality", lambda s, d: multimodal.image_quality(imgs, edge_thresh=64)),
        ("image_histogram", lambda s, d: multimodal.image_histogram(imgs, bins=8)),
        ("image_resize", lambda s, d: multimodal.resize_images(imgs, 8, 8)),
        ("image_embedding", lambda s, d: multimodal.image_embedding(imgs, dim=16)),
        ("image_augment", lambda s, d: multimodal.augment_images(
            imgs.withColumn(
                "aug_delta",
                ((F.split(F.col("image_id"), "_").getItem(1).cast("long") % 96) - 48
                 ).cast("int"),
            ).withColumn(
                "aug_flip",
                (F.split(F.col("image_id"), "_").getItem(1).cast("long") % 2) == 0,
            )
        )),
    )
    try:
        for name, fn in pipeline_entries:
            best, n = None, 0
            for _ in range(n_trials):
                t0 = time.perf_counter()
                n = materialize(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            times[name] = round(best, 3)
            rows[name] = n
            rps[name] = round(n / best) if best > 0 else 0
            total += best
    finally:
        # release even when a query throws mid-loop — a leaked persist pins
        # the 100k-image table for the rest of the process
        imgs.unpersist()
        auds.unpersist()
        vids.unpersist()

    # sf1 section: the same five geospatial queries at 10x the point volume
    # (replicate scaled so input rows = one order of magnitude up) — catches
    # constant factors the sf0.1 numbers hide. Same min-of-N protocol as the
    # sf0.1 block (the host-noise rule applies to ANY cross-config ratio,
    # CLAUDE.md); opt out with SPARK_GRAFT_SF1=0.
    sf1 = None
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        sf1_trials = int(os.environ.get("SPARK_GRAFT_SF1_TRIALS", "2"))
        pts1 = bench_points(spark, sf_dir, replicate=replicate * 10).persist()
        n_rows1 = pts1.count()
        run_join(eng, pts1, mode="nearest", strategy="broadcast")  # warm
        t1, r1, rp1, chks1 = time_joins(pts1, trials=sf1_trials)
        pts1.unpersist()
        match1, schks1 = strategy_parity(chks1)
        sf1 = {
            "replicate": replicate * 10,
            "input_rows": n_rows1,
            "queries": t1,
            "rows": r1,
            "rows_per_sec": rp1,
            # steady-state check: rows/s at 10x volume vs the sf0.1 rate
            "rps_ratio_vs_sf": {
                k: round(rp1[k] / rps[k], 3) for k in rp1 if rps.get(k)
            },
            # broadcast / cogroup / cogroup over tile_dir must agree bitwise
            # (order-insensitive quantized checksum) on the 48M-row input
            "strategy_checksums": schks1,
            "strategy_checksum_match": match1,
        }
        strategy_match = strategy_match and match1

    # ANN recall at one order above fixture scale (VERDICT r3 item 10):
    # parameter-rule regressions surface as recall numbers, not just
    # fixture-pinned pytest constants. Opt out with SPARK_GRAFT_RECALL=0.
    ann_recall = None
    if os.environ.get("SPARK_GRAFT_RECALL", "1") != "0":
        from htg_spark.bench_queries import ann_recall_at_scale

        t0 = time.perf_counter()
        ann_recall = ann_recall_at_scale(spark)
        ann_recall["elapsed_sec"] = round(time.perf_counter() - t0, 3)

    # Per-query regression gate: compare against the best reproducible
    # minima on record (BENCH_BASELINE.json). Only armed in a CLEAN host
    # window (the warmup canary is a fixed workload, so it measures the
    # host's per-process throttle, not the queries) — flagging in a dirty
    # window would just re-report host noise.
    regressions = {}
    canary_clean = None
    # the recorded minima describe the DEFAULT sf0.1 input only — a run
    # pointed elsewhere via SPARK_GRAFT_SF_DIR would compare incomparable
    # workloads against them (a small-sf smoke run measured sf1/nearest_knn
    # at "4.6x baseline" purely because its input and catalog differ)
    gate_applies = os.path.basename(os.path.normpath(sf_dir)) == "sf0.1"
    try:
        if not gate_applies:
            raise _GateNotApplicable
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_BASELINE.json")) as f:
            base = json.load(f)
        canary_clean = warmup_sec <= base.get("clean_canary_sec", 4.0)
        if canary_clean:
            for qname, t in times.items():
                b = base.get("queries", {}).get(qname)
                if b and t > base.get("ratio", 1.5) * b:
                    regressions[qname] = {
                        "sec": t, "baseline_sec": b, "ratio": round(t / b, 2)
                    }
        # the sf1 section gets the SAME gate (the r3->r4 sf1 cogroup
        # regression shipped unflagged precisely because this loop once
        # iterated only the sf0.1 times). The host phase DRIFTS mid-run
        # (measured: sf0.1 cogroup 3.0 s and sf1 cogroup 47 s in one
        # session), so the sf1 gate arms on a same-section phase probe —
        # the sf1 broadcast reading vs its own baseline — INDEPENDENT of
        # the session-start canary (which can neither clear nor condemn a
        # section measured minutes later). Known blind spot, accepted: the
        # probe workload itself can never be flagged (probe <= 1.3x gates
        # flagging at > 1.5x), and a regression that hits broadcast too
        # disarms the whole section — hence the disarm is LOUD on stderr,
        # not just a JSON field, so repeated disarms read as a signal to
        # re-time in a dedicated session rather than as silence.
        if sf1:
            bb = base.get("sf1_queries", {}).get("nearest_broadcast")
            t_bb = sf1["queries"].get("nearest_broadcast")
            sf1_clean = bool(bb and t_bb and t_bb <= 1.3 * bb)
            sf1["canary_clean"] = sf1_clean
            if sf1_clean:
                for qname, t in sf1["queries"].items():
                    b = base.get("sf1_queries", {}).get(qname)
                    if b and t > base.get("ratio", 1.5) * b:
                        regressions[f"sf1/{qname}"] = {
                            "sec": t, "baseline_sec": b, "ratio": round(t / b, 2)
                        }
            else:
                print(
                    f"sf1 regression gate DISARMED: broadcast probe {t_bb}s "
                    f"vs baseline {bb}s exceeds 1.3x (host phase dirty, or a "
                    "broadcast-path regression — re-time in a dedicated "
                    "session to tell them apart)",
                    file=sys.stderr,
                )
        if regressions:
            print(
                "REGRESSION GATE (clean canary "
                f"{warmup_sec}s): {json.dumps(regressions)}",
                file=sys.stderr,
            )
    except (FileNotFoundError, _GateNotApplicable):
        pass
    except Exception as e:  # the gate is advisory — never lose the run's JSON
        print(f"regression gate skipped (bad baseline file?): {e!r}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": f"elevation-join + pipeline-ops wall-clock ({len(times)} headline queries, min of {n_trials} trials)",
                "value": round(total, 3),
                "unit": "sec",
                "queries": times,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "input_rows": n_rows,
                "rows": rows,
                "rows_per_sec": rps,
                "cpus": cpus,
                "replicate": replicate,
                "warmup_sec": warmup_sec,
                "strategy_checksum_match": strategy_match,
                "sf1": sf1,
                "ann_recall": ann_recall,
                "canary_clean": canary_clean,
                "regressions": regressions or None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
