"""One A/B timing session of the over-cache elevation join.

Usage: python scripts/ab_session.py <repo_path> <tiles_dir> [trials] [case ...]

Runs each case below in one fresh local[$SPARK_GRAFT_CPUS] session (default
4) with the `htg_spark` package found at <repo_path>, and prints ONE JSON
line: per case, the wall time of each trial (after one untimed warm-up),
their minimum and an order-insensitive checksum (elevations, tiles found
and payload bytes, so the payload stays alive above the kernel UDF).

Every case is an over-cache catalog: it holds more tiles than the engine's
`cache_size`, and the join is `strategy="cogroup"`, so a checkout whose
engine still picks its layout by catalog size times that layout, and this
tree times its one map-side plan.

- `bench`: bench.py's `nearest_cogroup_salted` catalog (36 SRTM3 tiles,
  cache 16) over `bench_points` sf0.1 x8 (4.8M rows; `SPARK_GRAFT_SF_DIR`);
- `bench_payload`: the same with a 224-byte payload per row;
- `srtm3_400`: 400 synthetic SRTM3 tiles, cache 64, 4.8M uniform rows with
  a 112-byte payload;
- `srtm1_payload`: 100 synthetic SRTM1 tiles, cache 16, 4.8M uniform rows
  with a 112-byte payload;
- `srtm1`: the same with narrow (id, lat, lon) rows;
- `srtm1_19m`: the same at 19.2M rows;
- `srtm1_memory`: `srtm1` with `strategy="broadcast"` (map-side on every
  checkout), one pass sampled for the Python workers' summed RssAnon,
  RssFile and PSS (`/proc/<pid>/status`, `smaps_rollup`); reports the peak
  of each sum, in MB.

The synthetic tiles are written once under <tiles_dir> (`srtm1_100/`,
`srtm3_400/`; 2.6 GB and 1.2 GB) and reused by later sessions. With no case
named, all but `srtm1_memory` run. The orchestrating shell interleaves
sessions across two checkouts (e.g. a parent commit and the change under
test, each a separate directory) so a per-process bandwidth throttle's
phase hits both alternately; compare per-side minima. Never run two
sessions concurrently. Run it with <repo_path> as the working directory:
the Python workers import `htg_spark` from there.
"""

import json
import os
import sys
import threading
import time

repo = sys.argv[1]
tiles_dir = sys.argv[2]
trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
sys.path.insert(0, repo)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from htg_spark import hgt  # noqa: E402
from htg_spark.bench_queries import bench_engine, bench_points  # noqa: E402
from htg_spark.engine import ElevationEngine  # noqa: E402
from htg_spark.session import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# name -> (catalog, cache_size, rows or None for bench_points, payload bytes)
CASES = {
    "bench": ("bench", 16, None, 0),
    "bench_payload": ("bench", 16, None, 224),
    "srtm3_400": ("srtm3_400", 64, 4_800_000, 112),
    "srtm1_payload": ("srtm1_100", 16, 4_800_000, 112),
    "srtm1": ("srtm1_100", 16, 4_800_000, 0),
    "srtm1_19m": ("srtm1_100", 16, 19_200_000, 0),
    "srtm1_memory": ("srtm1_100", 16, 4_800_000, 0),
}
# synthetic catalogs: name -> (samples, tiles per side, south-west corner)
SYNTHETIC = {"srtm1_100": (3601, 10, (30, 100)), "srtm3_400": (1201, 20, (20, 60))}


def write_tiles(name: str) -> str:
    """The directory of the synthetic catalog ``name``, written once: a
    gradient offset per tile with a void every 97th sample."""
    n, side, (lat0, lon0) = SYNTHETIC[name]
    d = os.path.join(tiles_dir, name)
    os.makedirs(d, exist_ok=True)
    r = np.arange(n, dtype=np.int64)
    flat = r[:, None] * n + r[None, :]
    for i in range(side):
        for j in range(side):
            f = os.path.join(d, hgt.coords_to_filename(lat0 + i, lon0 + j))
            if os.path.exists(f):
                continue
            g = ((r[:, None] + r[None, :] + 37 * (i * side + j)) % 4000).astype(">i2")
            g[(flat % 97) == 0] = hgt.VOID_VALUE
            g.tofile(f + ".tmp")
            os.replace(f + ".tmp", f)
    return d


def payload(n_bytes: int):
    """A per-row string of ``n_bytes`` hex characters derived from the id."""
    key = F.col("id").cast("string")
    parts = [F.sha2(F.concat(key, F.lit(s)), 512) for s in "ab"]
    return F.substring(F.concat(*parts), 1, n_bytes)


def uniform_points(spark, name: str, rows: int, n_bytes: int):
    _n, side, (lat0, lon0) = SYNTHETIC[name]
    cols = [
        "id",
        (F.lit(float(lat0)) + F.rand(1) * side).alias("lat"),
        (F.lit(float(lon0)) + F.rand(2) * side).alias("lon"),
    ]
    if n_bytes:
        cols.append(payload(n_bytes).alias("payload"))
    parts = spark.sparkContext.defaultParallelism * 2
    return spark.range(0, rows, 1, parts).select(*cols)


def run(eng, pts, strategy: str) -> list:
    out = eng.elevation_join(pts, mode="nearest", strategy=strategy)
    aggs = [
        F.count("*").alias("n"),
        F.sum((F.col("elevation").cast("double") * 1000).cast("long")).alias("chk"),
        F.sum(F.col("tile_found").cast("long")).alias("found"),
    ]
    if "payload" in pts.columns:
        aggs.append(F.sum(F.length("payload")).alias("payload_bytes"))
    return list(out.agg(*aggs).collect()[0])


def _proc_kb(pid: int) -> dict:
    """RssAnon, RssFile and Pss of one process, in kB ({} once it is gone)."""
    out = {}
    try:
        for fname, keys in (("status", ("RssAnon", "RssFile")), ("smaps_rollup", ("Pss",))):
            with open(f"/proc/{pid}/{fname}") as f:
                for line in f:
                    k, _, v = line.partition(":")
                    if k in keys:
                        out[k] = int(v.split()[0])
    except OSError:
        return {}
    return out


def _workers(root: int) -> list:
    """The pids of the Python processes under ``root``'s Spark JVM: every
    descendant of ``root`` that is neither ``root`` nor a java process."""
    kids = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue
        if exe != "java":
            out.append(pid)
    return out


def sampled(fn, interval: float = 0.1):
    """``fn()``'s result and the peak over the call of the Python workers'
    summed RssAnon, RssFile and Pss, in MB."""
    peak = {"RssAnon": 0, "RssFile": 0, "Pss": 0}
    stop = threading.Event()

    def loop():
        while not stop.is_set():
            total = dict.fromkeys(peak, 0)
            for pid in _workers(os.getpid()):
                for k, v in _proc_kb(pid).items():
                    total[k] += v
            for k in peak:
                peak[k] = max(peak[k], total[k])
            stop.wait(interval)

    t = threading.Thread(target=loop, daemon=True)
    t.start()
    try:
        res = fn()
    finally:
        stop.set()
        t.join()
    return res, {k + "_mb": round(v / 1024, 1) for k, v in peak.items()}


def main():
    names = sys.argv[4:] or [c for c in CASES if c != "srtm1_memory"]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = get_spark(app_name="ab-over-cache", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    report = {"repo": os.path.basename(repo.rstrip("/")) or repo, "cases": {}}
    for name in names:
        catalog, cache_size, rows, n_bytes = CASES[name]
        if catalog == "bench":
            cat = bench_engine(spark).catalog
            pts = bench_points(spark, sf_dir, replicate=8)
            if n_bytes:
                pts = pts.withColumnRenamed("point_id", "id").withColumn(
                    "payload", payload(n_bytes))
        else:
            cat = ElevationEngine(spark, tile_dir=write_tiles(catalog)).catalog
            pts = uniform_points(spark, catalog, rows, n_bytes)
        # the index is built out of the timed region
        eng = ElevationEngine(spark, catalog=cat, cache_size=cache_size)
        eng._path_index()
        pts = pts.persist()
        n = pts.count()
        strategy = "broadcast" if name == "srtm1_memory" else "cogroup"
        run(eng, pts, strategy)  # warm-up
        entry = {"rows": n, "tiles": eng.n_tiles(), "cache_size": cache_size}
        if name == "srtm1_memory":
            chk, entry["workers_peak"] = sampled(lambda: run(eng, pts, strategy))
        else:
            ts = []
            for _ in range(trials):
                t0 = time.perf_counter()
                chk = run(eng, pts, strategy)
                ts.append(round(time.perf_counter() - t0, 3))
            entry.update(trials=ts, min=min(ts))
        entry["chk"] = chk
        report["cases"][name] = entry
        pts.unpersist(blocking=True)
    print(json.dumps(report))
    spark.stop()


main()
