"""Benchmark workload — high-volume elevation joins over lineitem-derived
points against a 6x6-degree gradient tile catalog (36 real HGT blobs).

Shared by bench.py (per-round headline numbers) and scripts/run_scaling.py
(local[8] vs local[32] scaling-efficiency evidence per BASELINE.md).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import hgt
from .engine import ElevationEngine

GRID_DEG = 6  # catalog spans [35, 41) x [138, 144)


def bench_grids() -> dict:
    r = np.arange(1201, dtype=np.int64)
    base = ((r[:, None] + r[None, :]) % 4000).astype(np.int16)
    flat = r[:, None] * 1201 + r[None, :]
    g = base.copy()
    g[(flat % 97) == 0] = hgt.VOID_VALUE
    return {(35 + i, 138 + j): g for i in range(GRID_DEG) for j in range(GRID_DEG)}


def bench_engine(spark: SparkSession) -> ElevationEngine:
    return ElevationEngine(spark, grids=bench_grids(), cache_size=64)


def bench_path_engine(spark: SparkSession) -> ElevationEngine:
    """The same 36-tile bench catalog scanned from real .hgt files on disk —
    a path-bearing catalog: each task reads its tiles from shared storage
    by the paths of the scan. Every tile shares one gradient pattern, so
    encode once and write 36 names."""
    import atexit
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="htg_bench_tiles_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    grids = bench_grids()
    data = hgt.encode_tile(next(iter(grids.values())))
    for tl, tn in grids:
        with open(os.path.join(d, hgt.coords_to_filename(tl, tn)), "wb") as f:
            f.write(data)
    return ElevationEngine(spark, tile_dir=d)


def bench_points(
    spark: SparkSession, sf_dir: str, replicate: int = 8, partitions: int | None = None
) -> DataFrame:
    """lineitem-derived points, replicated `replicate`x for volume.

    ~30% of rows land in one 0.01-degree hot cluster (skew), ~9% on a
    missing tile band, ~3% out of coverage — the same semantic mix as the
    driver queries but at bench scale.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"
    )
    if replicate > 1:
        li = li.withColumn("rep", F.explode(F.lit(list(range(replicate)))))
    else:
        li = li.withColumn("rep", F.lit(0))
    k = (F.col("l_orderkey") * 13 + F.col("l_linenumber") * 7 + F.col("rep")).cast("long")
    m = (F.col("l_partkey") * 11 + F.col("l_suppkey") * 3 + F.col("rep")).cast("long")
    lat = (
        F.when(k % 37 == 0, F.lit(75.0) + (k % 1000).cast("double") / 1000.0)
        .when(k % 11 == 0, F.lit(50.0) + (k % 900).cast("double") / 1000.0)
        .when(k % 3 == 0, F.lit(36.42) + (k % 100).cast("double") / 10000.0)
        .otherwise(F.lit(35.0) + (k % 6000).cast("double") / 1000.0)
    )
    lon = (
        F.when(k % 37 == 0, F.lit(10.0) + (m % 1000).cast("double") / 1000.0)
        .when(k % 11 == 0, F.lit(50.0) + (m % 900).cast("double") / 1000.0)
        .when(k % 3 == 0, F.lit(139.77) + (m % 100).cast("double") / 10000.0)
        .otherwise(F.lit(138.0) + (m % 6000).cast("double") / 1000.0)
    )
    # unique row id (the synthetic lineitem has no unique natural key);
    # stable once the caller persists the frame
    out = li.select(
        F.monotonically_increasing_id().alias("point_id"), lat.alias("lat"), lon.alias("lon")
    )
    # the source is one small parquet file -> ONE input partition; without an
    # explicit repartition the whole join would run as a single task
    n_parts = partitions or spark.sparkContext.defaultParallelism * 2
    return out.repartition(n_parts)


def dedup_workload(spark: SparkSession, sf_dir: str, replicate: int = 8):
    """CPU-bound scaling workload: MinHash signatures over a replicated
    documents corpus — md5 over word-bigram shingles is ~1000 CPU cycles per
    byte, so this exercises core scaling independent of memory bandwidth
    (the complement of the bandwidth-heavy elevation join)."""
    from pyspark.sql import functions as F

    from .operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = docs.withColumn("r", F.explode(F.lit(list(range(replicate))))).select(
        (F.col("doc_id") * replicate + F.col("r")).alias("cid"), "text"
    )
    n_parts = spark.sparkContext.defaultParallelism * 2
    return rep.repartition(n_parts)


def run_dedup(spark, corpus):
    from pyspark.sql import functions as F

    from .operators.dedup import minhash_signatures

    sigs = minhash_signatures(corpus, id_col="cid")
    row = sigs.agg(F.count("*").alias("n"), F.min("mh0").alias("chk")).collect()[0]
    return row["n"], row["chk"]


def pip_workload(spark: SparkSession, sf_dir: str, replicate: int = 8) -> DataFrame:
    """Compute-bound PIP scaling workload: events-derived points replicated
    `replicate`x against the 25 star polygons. The broadcast fold kernel is
    pure JVM expression evaluation (no python workers, no tile blobs), so
    this measures core scaling of the vector-geometry path."""
    from .polygon_queries import derive_pip_points

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id")
    rep = ev.withColumn("r", F.explode(F.lit(list(range(replicate))))).select(
        (F.col("event_id") * replicate + F.col("r")).alias("event_id"), "user_id"
    )
    n_parts = spark.sparkContext.defaultParallelism * 2
    return derive_pip_points(rep).repartition(n_parts)


def run_pip(pts: DataFrame, polys: DataFrame):
    """Execute the broadcast-fold PIP join; order-insensitive exact-int
    checksum (quantized coordinates + weighted poly_id)."""
    from .operators.polygon import point_in_polygon_join

    hits = point_in_polygon_join(pts, polys, strategy="broadcast", exact="fold")
    row = hits.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("px") * 1000).cast("long")
            + (F.col("py") * 1000).cast("long")
            + F.col("poly_id") * 7
        ).alias("chk"),
    ).collect()[0]
    return row["n"], row["chk"]


def run_join(eng: ElevationEngine, pts: DataFrame, mode: str, strategy: str, **kw):
    """Execute the join and force full materialization; returns (rows, checksum)."""
    out = eng.elevation_join(pts, mode=mode, strategy=strategy, id_col="point_id", **kw)
    # checksum must be order-insensitive across partition groupings: quantize
    # to int64 before summing (a float64 sum depends on aggregation order)
    row = out.agg(
        F.count("*").alias("n"),
        F.sum((F.col("elevation").cast("double") * 1000).cast("long")).alias("chk"),
        F.sum(F.col("tile_found").cast("long")).alias("found"),
    ).collect()[0]
    return row["n"], row["chk"], row["found"]


def run_terrain(eng: ElevationEngine, pts: DataFrame, strategy: str = "broadcast"):
    """Execute the Horn terrain join + derived products and force full
    materialization; returns (rows, checksum, n_ok). Checksum is
    order-insensitive: exact int64 stencil sums weighted apart, plus the
    float products quantized to int64 BEFORE the sum (each value is
    bit-deterministic, so the quantized longs are too)."""
    from .operators import terrain

    out = terrain.terrain_join(eng, pts, strategy=strategy, id_col="point_id")
    d = terrain.terrain_cols(F.col("gxs"), F.col("gys"))
    sel = out.select(
        "gxs", "gys", "terrain_ok",
        d["slope"].alias("slope"), d["hillshade"].alias("hillshade"),
    )
    row = sel.agg(
        F.count("*").alias("n"),
        F.sum(F.col("gxs") * 3 + F.col("gys") * 5).alias("chk_i"),
        F.sum(
            (F.col("slope") * 1000000.0).cast("long")
            + (F.col("hillshade") * 1000000.0).cast("long")
        ).alias("chk_f"),
        F.sum(F.col("terrain_ok").cast("long")).alias("ok"),
    ).collect()[0]
    return row["n"], (row["chk_i"] or 0) + (row["chk_f"] or 0), row["ok"]


def ann_recall_at_scale(
    spark: SparkSession,
    n: int = 100_000,
    dim: int = 64,
    n_queries: int = 50,
    k: int = 10,
    seed: int = 5,
):
    """Recall@k of the three approximate ANN paths against exact cosine
    ground truth, at one order of magnitude above fixture scale and at the
    params_for(n) settings those paths would actually use there — so a
    regression in the parameter rules (planes/tables/centroids/nprobe/PQ
    codes) shows up as a recall NUMBER in the bench record, not just as a
    fixture-scale pytest that pins tiny constants.

    Corpus: PLANTED CLUSTERS — n/10 seeded unit centers, 10 members each
    with total noise norm ~0.25 (the per-coordinate sigma is
    0.25/sqrt(dim); member-to-member cosine ~0.94). This is the
    regime the parameter rules are designed for (near-neighbor retrieval;
    real embedding corpora are clustered): a query's true top-k are its
    cluster mates, so recall measures whether the planes/tables/nprobe
    rules actually find near neighbors. An isotropic-random corpus would
    instead measure retrieval of ~0.5-cosine points — outside any LSH
    family's design envelope — and reads as a constant ~0 regardless of
    parameter quality. Unit norm also makes the PQ path's L2 ranking
    consistent with the cosine ground truth (||a-b||^2 = 2 - 2cos).
    Ground truth is a driver-side exact NumPy top-k — 50 queries x 100k
    corpus is a 40 MB similarity matrix, bounded by construction.
    Quantizers are TRAINED on bounded samples (the operators' real
    at-scale contract), not the fixture's deterministic synthetic
    codebooks."""
    import pandas as pd

    from .operators import ann
    from .operators.params import params_for

    P = params_for(n)
    rng = np.random.default_rng(seed)
    n_clusters = max(n // 10, 1)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # ceil division so any n is covered exactly (n // n_clusters rows would
    # under-fill whenever n_clusters does not divide n)
    reps = -(-n // n_clusters)
    mat = np.repeat(centers, reps, axis=0)[:n]
    mat = mat + (0.25 / np.sqrt(dim)) * rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    # shuffle so cluster mates are scattered across ids/partitions (vec_id
    # order must not encode cluster membership)
    mat = mat[rng.permutation(n)]
    mat32 = mat.astype(np.float32)

    # exact ground truth as COSINE over the float32 values the operators
    # actually see: the float64->float32 cast perturbs the unit norms by
    # ~1e-7, so ranking by raw dot would inject a tiny systematic bias
    # against the cosine-ranking paths. Self excluded to match the
    # operators' q_id != n_id filter; ties broken by n_id asc.
    m64 = mat32.astype(np.float64)
    norms = np.linalg.norm(m64, axis=1)
    qm = m64[:n_queries]
    sims = (qm @ m64.T) / (norms[:n_queries, None] * norms[None, :])
    sims[np.arange(n_queries), np.arange(n_queries)] = -np.inf
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    truth = [set(row.tolist()) for row in order]

    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [v.tolist() for v in mat32],
        }
    )
    emb = (
        spark.createDataFrame(pdf)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    emb.count()
    queries = emb.where(F.col("vec_id") < n_queries)

    tables = ann.hyperplane_tables(
        dim, n_planes=P.ann_planes, n_tables=P.ann_tables, seed=42
    )
    # bounded training samples: train_centroids materializes an
    # (n_sample, k, dim) distance tensor per iteration. min(_, n) keeps
    # replace=False valid for corpora smaller than the target sample.
    cents = ann.train_centroids(
        mat[rng.choice(n, size=min(8_000, n), replace=False)],
        k=P.ivf_centroids, iters=5, seed=7,
    )
    books = ann.train_pq(
        mat[rng.choice(n, size=min(10_000, n), replace=False)],
        m=P.pq_m, k=P.pq_codes, iters=5, seed=11,
    )

    def recall(df):
        got = df.select("q_id", "n_id").toPandas()
        hits = sum(
            len(set(g) & truth[int(q)])
            for q, g in got.groupby("q_id")["n_id"]
        )
        return round(hits / (n_queries * k), 4)

    try:
        out = {
            "lsh_multi": recall(ann.lsh_topk_multi(emb, queries, tables, k=k)),
            "ivf": recall(
                ann.ivf_topk(emb, queries, cents, k=k, nprobe=P.ivf_nprobe)
            ),
            "ivf_pq": recall(
                ann.pq_adc_topk(
                    emb, queries, cents, books, k=k, nprobe=P.ivf_nprobe
                )
            ),
        }
    finally:
        # unpersist even when an ANN path throws — a leaked persist pins
        # the 1e5-row corpus in executor memory for the rest of the bench
        emb.unpersist()
    return {
        "n": n,
        "k": k,
        "n_queries": n_queries,
        "params": {
            "ann_planes": P.ann_planes,
            "ann_tables": P.ann_tables,
            "ivf_centroids": P.ivf_centroids,
            "ivf_nprobe": P.ivf_nprobe,
            "pq_m": P.pq_m,
            "pq_codes": P.pq_codes,
        },
        "recall": out,
    }
