"""One A/B timing session of the over-cache cogroup join at sf1 volume.

Usage: python scripts/ab_session.py <repo_path> [trials] [replicate]

Runs bench.py's nearest_cogroup_salted (an engine whose 16-tile grid
cache is below the catalog's 36 tiles, so the rows take the shuffled
layout: one rebalance Exchange on the tile key, split and sized by AQE)
at sf1 volume by default (bench_points replicate=80 -> 48M rows) in a
fresh local[$SPARK_GRAFT_CPUS] session (default 32) using the `htg_spark`
package found at <repo_path>, and prints ONE JSON line with per-trial
wall times and the largest kernel task (rows), counted in one more,
untimed pass. The orchestrating shell interleaves sessions across two
checkouts (e.g. a parent commit and the change under test, each a
separate directory) so a per-process bandwidth throttle's phase hits
both engines alternately; compare per-side minima. Never run two sessions
concurrently. Run it with <repo_path> as the working directory: the
Python workers import `htg_spark` from there.
"""

import json
import os
import sys
import time

repo = sys.argv[1]
trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 80
sys.path.insert(0, repo)

from pyspark.sql import functions as F  # noqa: E402

from htg_spark.bench_queries import bench_engine, bench_points, run_join  # noqa: E402
from htg_spark.engine import ElevationEngine  # noqa: E402
from htg_spark.session import get_spark  # noqa: E402

cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark(app_name="ab-sf1", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
eng = bench_engine(spark)
eng._path_index()
# as bench.py builds it: the same catalog (its spill files reused) under a
# grid cache smaller than its 36 tiles, index built out of the timed region
over_eng = ElevationEngine(spark, catalog=eng.catalog, cache_size=16)
over_eng._path_index()
pts = bench_points(spark, sf_dir, replicate=replicate).persist()
n = pts.count()
t0 = time.perf_counter()
run_join(eng, pts, mode="nearest", strategy="broadcast")  # warm + canary
warm = round(time.perf_counter() - t0, 3)
# n_salts=16 is what bench.py passed to the salted layout this replaced
kw = dict(mode="nearest", strategy="cogroup", n_salts=16)
ts = []
chk = None
for _ in range(trials):
    t0 = time.perf_counter()
    _, chk, _ = run_join(over_eng, pts, **kw)
    ts.append(round(time.perf_counter() - t0, 3))
# rows per kernel task, read above the kernel UDF
out = over_eng.elevation_join(pts, **kw)
tasks = out.select(F.spark_partition_id().alias("task"), "elevation").groupBy("task").count()
sizes = [r["count"] for r in tasks.collect()]
print(
    json.dumps(
        {
            "repo": os.path.basename(repo.rstrip("/")) or repo,
            "rows": n,
            "warm_broadcast_sec": warm,
            "cogroup_trials": ts,
            "min": min(ts),
            "chk": chk,
            "kernel_tasks": len(sizes),
            "largest_task_rows": max(sizes),
        }
    )
)
spark.stop()
