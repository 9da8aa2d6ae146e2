"""Structured Streaming ingest of the points table (optional extension —
SURVEY.md §2.7: the reference has no streaming surface; parity does not
require it, but a 100TB ingest pipeline does).

The map-side elevation join (``strategy='broadcast'``) is a stateless
map-only transformation (one ArrowEvalPython kernel UDF reading tiles by
path through the executor grid cache — no shuffle, no state), so it
composes with any streaming source/sink unchanged: readStream -> derive
points -> elevation_join(strategy='broadcast') -> writeStream. Watermarks /
windowed aggregation can be layered on the enriched stream by the caller
(elevation columns are ordinary columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .engine import ElevationEngine


def stream_elevation_join(
    engine: ElevationEngine, stream: DataFrame, mode: str = "nearest", **kw
) -> DataFrame:
    """Apply the map-side elevation join (``strategy='broadcast'``) to a
    streaming DataFrame.

    Only the map-side layout is stateless and therefore streaming-safe;
    the salted layout would repartition every micro-batch.
    """
    if not stream.isStreaming:
        raise ValueError("stream_elevation_join expects a streaming DataFrame")
    return engine.elevation_join(stream, mode=mode, strategy="broadcast", **kw)


def stream_terrain_join(engine: ElevationEngine, stream: DataFrame, **kw) -> DataFrame:
    """Apply the Horn terrain join (operators/terrain.py) to a streaming
    DataFrame: the map-side stencil kernel UDF (``strategy='broadcast'``)
    is stateless map-only (tiles read by path, nothing shuffles, no
    state), so it is streaming-safe by construction — the terrain twin of
    stream_elevation_join. The salted layout is deliberately not offered
    for streams (it would repartition every micro-batch)."""
    if not stream.isStreaming:
        raise ValueError("stream_terrain_join expects a streaming DataFrame")
    from .operators.terrain import terrain_join

    return terrain_join(engine, stream, strategy="broadcast", **kw)


def stream_geofence(
    stream: DataFrame,
    polygons: DataFrame,
    *,
    x_col: str = "lon",
    y_col: str = "lat",
    **kw,
) -> DataFrame:
    """Geofencing: stream-static point-in-polygon join (operators/polygon.py).

    The broadcast PIP join is stateless map-only over each micro-batch (the
    polygon cells+edges ride a broadcast; nothing shuffles, no state), so it
    is streaming-safe by construction — the same plan shape as
    stream_elevation_join. The shuffle strategy is deliberately not offered
    for streams: stream-static shuffle joins repartition every micro-batch.
    """
    if not stream.isStreaming:
        raise ValueError("stream_geofence expects a streaming DataFrame")
    from .operators.polygon import point_in_polygon_join

    return point_in_polygon_join(
        stream, polygons, x_col=x_col, y_col=y_col, strategy="broadcast", **kw
    )


def geofence_window_counts(
    hits: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    delay: str = "2 minutes",
) -> DataFrame:
    """Stateful layer over the geofence hits: per-polygon counts in
    event-time windows, late rows beyond `delay` dropped by the watermark.
    State per key is one long; at scale the aggregation shuffles only
    (window, poly_id, count) partials."""
    return (
        hits.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window), "poly_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def stream_cell_heatmap(
    stream: DataFrame,
    levels: tuple[int, ...] = (0, 2, 4),
    lat_col: str = "lat",
    lon_col: str = "lon",
    ts_col: str = "ts",
    window: str = "1 minute",
    delay: str = "2 minutes",
) -> DataFrame:
    """Streaming multi-level cell density (the live heatmap): per event-time
    window, image/point counts per H3/S2-style cell at each level — the
    streaming twin of driver_queries.q_cell_heatmap.

    Shape: the explode into (level, cell) keys is stateless map-side work;
    the only state is the windowed count aggregation, one long per
    (window, level, cell) — bounded by distinct-cell count x active
    windows, not by stream volume. Late rows beyond `delay` are dropped by
    the watermark, so state ages out as windows close."""
    if not stream.isStreaming:
        raise ValueError("stream_cell_heatmap expects a streaming DataFrame")
    from . import cells

    lc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lvl).cast("int").alias("level"),
                    cells.cell_id_at_level(
                        F.col(lat_col), F.col(lon_col), lvl
                    ).alias("cell"),
                )
                for lvl in levels
            ]
        )
    ).alias("lc")
    return (
        stream.withWatermark(ts_col, delay)
        .select(ts_col, lc)
        .groupBy(
            F.window(ts_col, window),
            F.col("lc.level").alias("level"),
            F.col("lc.cell").alias("cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup ACROSS micro-batches: state = the set of md5
    content hashes seen within the watermark horizon; the first occurrence
    passes, later duplicates (same batch or later batches) are dropped.

    State bounding: plain ``dropDuplicates(["grp_hash"])`` would NEVER
    evict (the engine only ages out state when the watermark column is part
    of the dedup keys), so with a timestamp column this uses
    ``dropDuplicatesWithinWatermark`` — a key's state is evicted once the
    watermark passes its event time + delay (observed: numRowsTotal
    decreases). Guarantee: duplicates within the delay of each other ALWAYS
    drop; a duplicate arriving after the horizon MAY be re-emitted once its
    predecessor's state is evicted (engine best-effort — eviction lags the
    watermark by a batch). Without a timestamp column the state is
    unbounded by construction; callers get exact global dedup and own the
    state-size consequence."""
    if not stream.isStreaming:
        raise ValueError("stream_exact_dedup expects a streaming DataFrame")
    df = stream.withColumn(
        "grp_hash", F.md5(F.encode(F.col(text_col), "UTF-8"))
    )
    if ts_col in df.columns:
        return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["grp_hash"]
        )
    return df.dropDuplicates(["grp_hash"])


def stream_tile_running_stats(enriched_stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-tile RUNNING
    row/null counts and min/max elevation across all micro-batches — the
    streaming analog of catalog.tile_info for the enriched point stream.
    State per key is four scalars; output mode 'update' emits the current
    running value whenever a key sees new rows."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "tile_lat int, tile_lon int, rows long, elev_nulls long, "
        "min_elev double, max_elev double"
    )
    state_schema = "rows long, elev_nulls long, min_elev double, max_elev double"

    def update(key, pdfs, state):
        rows, nulls, mn, mx = (state.get if state.exists else (0, 0, None, None))
        for pdf in pdfs:
            e = pd.to_numeric(pdf["elevation"], errors="coerce")
            rows += len(pdf)
            nulls += int(e.isna().sum())
            if e.notna().any():
                bmn, bmx = float(e.min()), float(e.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
        state.update((rows, nulls, mn, mx))
        yield pd.DataFrame(
            [
                {
                    "tile_lat": int(key[0]),
                    "tile_lon": int(key[1]),
                    "rows": rows,
                    "elev_nulls": nulls,
                    "min_elev": mn,
                    "max_elev": mx,
                }
            ]
        )

    return enriched_stream.groupBy("tile_lat", "tile_lon").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def incremental_dedup_sink(
    corpus_path: str,
    verdicts_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    admit_novel: bool = True,
):
    """The continuous-ingestion loop as a foreachBatch sink: every
    micro-batch is verdicted against the ON-STORAGE corpus with
    dedup.incremental_dedup (exact md5 / LSH+Jaccard near / novel), the
    verdicts append to `verdicts_path`, and — with admit_novel — the
    batch's novel docs are ADMITTED into `corpus_path`, so a copy arriving
    in a later micro-batch is flagged as a duplicate of the earlier
    batch's admission. This is the production crawl-ingestion shape:
    corpus state lives on storage between batches, each batch pays
    batch-sized work against it.

    Usage::

        stream.writeStream.foreachBatch(
            incremental_dedup_sink(corpus_dir, verdicts_dir)
        ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()

    Exactly-once caveat (documented, inherent to foreachBatch + parquet
    append): a batch REPLAYED after a failure re-appends its verdict rows.
    With an ACID table format the two writes become idempotent MERGEs; on
    plain parquet, readers should dedupe on (batch_id, id). At 100-TB
    scale the stored corpus state would be the md5 + LSH band INDEX tables
    (bucketed on their join keys, points_store.write_bucketed) rather than
    raw text — incremental_dedup's corpus-side stages are exactly the
    frames a deployment would persist."""
    from .operators import dedup as _dedup

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
        try:
            corpus = spark.read.parquet(corpus_path).select(id_col, text_col)
        except Exception:
            # fresh deployment: no corpus directory yet — every batch doc
            # compares against an empty corpus instead of failing the first
            # micro-batch with a path-not-found AnalysisException
            corpus = spark.createDataFrame(
                [], batch.select(id_col, text_col).schema
            )
        out = _dedup.incremental_dedup(
            corpus, batch, id_col=id_col, text_col=text_col, threshold=threshold
        ).withColumn("batch_id", F.lit(batch_id))
        out = out.localCheckpoint(eager=True)  # verdicts feed two writes
        out.write.mode("append").parquet(verdicts_path)
        if admit_novel:
            # INTRA-batch dedup before admission: incremental_dedup only
            # compares batch-vs-corpus, so two copies of the same novel doc
            # arriving in ONE micro-batch are both is_novel — admitting
            # both would permanently violate the 'corpus is already
            # deduped' invariant every later batch relies on. Admit only
            # the canonical representative per exact-hash group and per
            # near-dup (LSH + Jaccard + connected-components) group of the
            # batch's novel docs; the non-admitted copies keep their
            # is_novel verdict rows (they were novel vs the corpus as of
            # this batch).
            novel_ids = out.where(F.col("is_novel")).select(id_col)
            novel = batch.join(novel_ids, id_col, "leftsemi").localCheckpoint(
                eager=True
            )
            ex = _dedup.exact_dedup(novel, id_col=id_col, text_col=text_col)
            reps = novel.join(
                ex.where(F.col("is_canonical")).select(id_col), id_col, "leftsemi"
            )
            sigs = _dedup.minhash_signatures(reps, id_col=id_col, text_col=text_col)
            pairs = _dedup.lsh_candidate_pairs(sigs, id_col=id_col)
            ver = _dedup.jaccard_verify(
                reps, pairs, id_col=id_col, text_col=text_col, threshold=threshold
            )
            comp = _dedup.connected_components(
                ver.where(F.col("is_dup")).select("id_a", "id_b"),
                reps.select(id_col),
                id_col=id_col,
            )
            admit = reps.join(
                comp.where(F.col("is_canonical")).select(id_col), id_col, "leftsemi"
            )
            admit.write.mode("append").parquet(corpus_path)

    return process
