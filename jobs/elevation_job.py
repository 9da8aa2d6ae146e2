"""spark-submit entry point for the elevation-join pipeline.

Run (the scaling-evidence protocol from BASELINE.md):

    spark-submit --master local[8]  --py-files htg_spark.zip jobs/elevation_job.py \
        --sf-dir /root/testdata/sf0.1 --replicate 16 --mode nearest
    spark-submit --master local[32] --py-files htg_spark.zip jobs/elevation_job.py ...

Prints one JSON line with rows, wall seconds and rows/sec for the timed
join (warm-up excluded; identical input both runs).
"""

import argparse
import json
import shutil
import tempfile
import time

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--points-path", default=None, help="pre-materialized points parquet; skips generation")
    ap.add_argument("--replicate", type=int, default=16)
    ap.add_argument(
        "--mode",
        default="nearest",
        choices=["nearest", "floor", "bilinear", "terrain", "dedup", "pip", "raster"],
    )
    ap.add_argument("--strategy", default="broadcast", choices=["broadcast", "cogroup"])
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    from htg_spark.bench_queries import (
        bench_engine,
        bench_points,
        dedup_workload,
        run_dedup,
        run_join,
    )

    spark = (
        SparkSession.builder.appName("htg-elevation-job")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # avoid Spark 4.1's per-row sizeInBytes() batch-limit walk (see
        # htg_spark/session.py) — 5x channel throughput
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    # each mode sets up its input out of the timed region and names a
    # `timed()` that returns (found, checksum); `n` is its input rows
    tmp = None
    if args.mode == "dedup":
        corpus = dedup_workload(spark, args.sf_dir, replicate=args.replicate).persist()
        n = corpus.count()
        job, strategy = "minhash_dedup", "jvm-md5"

        def timed():
            return run_dedup(spark, corpus)

    elif args.mode == "pip":
        from htg_spark.bench_queries import pip_workload, run_pip
        from htg_spark.polygon_queries import derive_polygons

        pts = pip_workload(spark, args.sf_dir, replicate=args.replicate).persist()
        n = pts.count()
        polys = derive_polygons(
            spark.read.parquet(f"{args.sf_dir}/nation.parquet")
        )
        job, strategy = "point_in_polygon", "broadcast-fold"

        def timed():
            return run_pip(pts, polys)

    elif args.mode == "raster":
        # whole-raster product scaling: D8 flow accumulation over a
        # directory of replicated HGT tiles (gen'd by run_scaling.py).
        # Lean shape on purpose: binaryFile listing (paths only, the
        # content column pruned) -> JVM filename parse -> ONE mapInArrow
        # kernel pass that reads each tile by path, so the whole job is
        # map-only and scales with tile count.
        from pyspark.sql import functions as F

        from htg_spark.operators import terrain as terr

        # Partition granularity is the whole game for raster products: the
        # defaults (maxPartitionBytes=128m + openCostInBytes=4m) pack ~40
        # of these 2.9 MB tiles per partition, capping a 32-core run at a
        # handful of tasks (measured eff 0.46). Each tile is minutes of
        # kernel work per MB of input, so bin ONE file per partition —
        # openCostInBytes above the tile size guarantees it without a
        # repartition.
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 20))
        spark.conf.set("spark.sql.files.openCostInBytes", str(8 << 20))
        raw = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.hgt")
            .load(args.points_path)
            .select("path")
        )
        name = F.element_at(F.split(F.col("path"), "/"), -1)
        tile_lat = (
            F.when(F.substring(name, 1, 1) == "N", 1).otherwise(-1)
            * F.substring(name, 2, 2).cast("int")
        ).cast("int")
        tile_lon = (
            F.when(F.substring(name, 4, 1) == "E", 1).otherwise(-1)
            * F.substring(name, 5, 3).cast("int")
        ).cast("int")
        cat = raw.select(
            tile_lat.alias("tile_lat"),
            tile_lon.alias("tile_lon"),
            "path",
        )
        n = None  # one output row per tile: the warm-up's row count
        job, strategy = "flow_accumulation", "map-only"

        def timed():
            out = terr.flow_accumulation_stats(cat)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.max(
                    F.xxhash64(
                        "tile_lat", "tile_lon", "n_cells",
                        "sum_acc", "max_acc", "n_channel",
                    )
                ).alias("chk"),
            ).collect()[0]
            return int(row["n"]), int(row["chk"])

    else:
        eng = bench_engine(spark)
        eng._path_index()
        # materialize the generated points to parquet once (setup, untimed):
        # the timed joins then run over a vectorized parquet scan — the
        # realistic cluster shape (reading columnar storage), and cheaper
        # per-repeat than decompressing Spark's lz4 in-memory columnar cache.
        if args.points_path:
            pts = spark.read.parquet(args.points_path)
        else:
            tmp = tempfile.mkdtemp(prefix="bench_pts_")
            bench_points(spark, args.sf_dir, replicate=args.replicate).write.mode(
                "overwrite"
            ).parquet(tmp)
            pts = spark.read.parquet(tmp)
        n = pts.count()
        job = "terrain_join" if args.mode == "terrain" else "elevation_join"
        strategy = args.strategy
        if args.mode == "terrain":
            from htg_spark.bench_queries import run_terrain

            def timed():
                _, chk, found = run_terrain(eng, pts, strategy=args.strategy)
                return found, chk
        else:

            def timed():
                _, chk, found = run_join(eng, pts, mode=args.mode, strategy=args.strategy)
                return found, chk

    warm, _ = timed()  # warm-up
    n = warm if n is None else n
    times = []
    for _ in range(args.repeats):
        t0 = time.perf_counter()
        found, chk = timed()
        times.append(time.perf_counter() - t0)
    best = min(times)
    print(
        json.dumps(
            {
                "job": job,
                "mode": args.mode,
                "strategy": strategy,
                "cores": cores,
                "rows": n,
                "times_sec": [round(t, 3) for t in times],
                "best_sec": round(best, 3),
                "rows_per_sec": round(n / best),
                "checksum": chk,
                "found": found,
            }
        )
    )
    if tmp:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()

if __name__ == "__main__":
    main()
