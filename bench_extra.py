"""Side benchmark harness for optimization work (bench.py is FROZEN for
measurement — this file exists so individual queries can be isolated,
re-timed, and their plans captured without touching the driver contract).

Usage:
  python bench_extra.py [--plans DIR] [--trials N] [--suffix before] [query ...]

The leaves are bench.py's, in its order, from the query registry
(``htg_spark.registry.bench_entries``, which derives only the multimodal
tables the selected leaves read). With no query names, runs every
entry. For each selected query it times `materialize(fn(spark, sf_dir))`
with the same xxhash64-materialization as bench.py (min of N trials) and,
when --plans is given, writes DIR/<query>_<suffix>.txt with the
`.explain("formatted")` output.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from htg_spark.registry import bench_entries
from htg_spark.session import get_spark


def materialize(df):
    row = df.select(
        F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("chk")).collect()[0]
    return row["n"], row["chk"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--plans", default=None, help="dir for explain captures")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="htg-bench-extra", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    try:
        entries = bench_entries(spark, sf_dir, args.queries)
    except ValueError as e:
        raise SystemExit(str(e)) from None

    # one warmup query to pay python-worker startup outside the timings
    t0 = time.perf_counter()
    materialize(entries[0][1](spark, sf_dir))
    warmup = round(time.perf_counter() - t0, 3)

    results = {}
    for name, fn in entries:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        best, n, chk = None, 0, None
        for _ in range(max(1, args.trials)):
            t0 = time.perf_counter()
            n, chk = materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[name] = {"sec": round(best, 3), "rows": n, "chk": chk}
        print(f"{name}: {best:.3f}s rows={n}", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)

    out = {"sf_dir": sf_dir, "cpus": cpus, "warmup_sec": warmup,
           "trials": args.trials, "results": results}
    line = json.dumps(out)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
