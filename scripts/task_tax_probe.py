"""Per-task cost of a Python stage against a JVM-only stage.

    python scripts/task_tax_probe.py [--rows 1120] [--repeats 3] [--master local[4]]

Times, on a warm ``get_spark`` session with worker reuse on, a trivial
scalar-iterator ``arrow_udf`` (``x + 1``; its body imports ``htg_spark``
first, as every engine UDF does when a worker unpickles it) against the
same projection done in the JVM, over the same rows split into 4, 28 and
112 input partitions. Each timing rebuilds the DataFrame, so no finished
stage is reused. Prints one JSON line: per partition count the minimum
wall time of each side over ``--repeats`` runs, and
``py_per_task_s``, the least-squares slope of (python - jvm) wall
seconds per extra task, and ``py_per_wave_s``, that slope times the
session's parallelism: the fixed cost a wave of Python tasks pays beyond
its JVM share.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from htg_spark.session import get_spark  # noqa: E402

PARTITIONS = (4, 28, 112)


def plus_one(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
    import htg_spark  # noqa: F401

    for b in batches:
        yield pc.add(b, 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1120)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    spark = get_spark(
        app_name="task-tax-probe", master=args.master, shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    udf = F.arrow_udf(plus_one, "long")
    sides = {"python": udf, "jvm": lambda c: c + 1}

    def run(side, n):
        df = spark.range(0, args.rows, numPartitions=n)
        t0 = time.perf_counter()
        df.select(sides[side](F.col("id")).alias("x")).agg(F.sum("x")).collect()
        return time.perf_counter() - t0

    for side in sides:  # boot the workers and warm the JVM outside the timings
        run(side, PARTITIONS[-1])
    out = {side: {} for side in sides}
    for n in PARTITIONS:
        for side in sides:
            out[side][str(n)] = round(min(run(side, n) for _ in range(args.repeats)), 3)

    gap = [out["python"][str(n)] - out["jvm"][str(n)] for n in PARTITIONS]
    slope = statistics.linear_regression(PARTITIONS, gap).slope
    out.update(
        py_per_task_s=round(slope, 4),
        py_per_wave_s=round(slope * spark.sparkContext.defaultParallelism, 3),
        master=args.master,
        rows=args.rows,
        repeats=args.repeats,
        python_version=".".join(map(str, sys.version_info[:3])),
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
