"""One A/B timing session of the salted cogroup join at sf1 volume.

Usage: python scripts/ab_session.py <repo_path> [trials] [replicate]

Runs bench.py's nearest_cogroup_salted (n_salts=16; an engine whose
16-tile grid cache is below the catalog's 36 tiles, so the rows take the
salted layout) at sf1 volume (bench_points replicate=80 -> 48M rows) in a
fresh local[32] session using the `htg_spark` package found at
<repo_path>, and prints ONE JSON line with per-trial wall times. The
orchestrating shell interleaves sessions across two checkouts (e.g. a
parent commit and the change under test, each a separate directory) so
a per-process bandwidth throttle's phase hits both engines alternately
(CLAUDE.md noise rules). Never run two sessions concurrently. Run it
with <repo_path> as the working directory: the Python workers import
`htg_spark` from there.
"""

import json
import os
import sys
import time

repo = sys.argv[1]
trials = int(sys.argv[2]) if len(sys.argv) > 2 else 2
replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 80
sys.path.insert(0, repo)

from htg_spark.bench_queries import bench_engine, bench_points, run_join  # noqa: E402
from htg_spark.engine import ElevationEngine  # noqa: E402
from htg_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="ab-sf1", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
eng = bench_engine(spark)
eng._path_index()
# as bench.py builds it: the same catalog (its spill files reused) under a
# grid cache smaller than its 36 tiles, index built out of the timed region
salted_eng = ElevationEngine(spark, catalog=eng.catalog, cache_size=16)
salted_eng._path_index()
pts = bench_points(spark, sf_dir, replicate=replicate).persist()
n = pts.count()
t0 = time.perf_counter()
run_join(eng, pts, mode="nearest", strategy="broadcast")  # warm + canary
warm = round(time.perf_counter() - t0, 3)
ts = []
chk = None
for _ in range(trials):
    t0 = time.perf_counter()
    _, chk, _ = run_join(salted_eng, pts, mode="nearest", strategy="cogroup", n_salts=16)
    ts.append(round(time.perf_counter() - t0, 3))
print(
    json.dumps(
        {
            "repo": os.path.basename(repo.rstrip("/")) or repo,
            "rows": n,
            "warm_broadcast_sec": warm,
            "cogroup_trials": ts,
            "min": min(ts),
            "chk": chk,
        }
    )
)
spark.stop()
