"""SparkSession construction tuned for the elevation-join workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "htg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults chosen for the raster<->vector join at scale:
    - AQE on (runtime coalescing and skew-join splitting)
    - Arrow execution on (all kernels are pandas/Arrow UDFs; per-row Python is
      banned by design)
    - shuffle partitions sized to cores locally; on a real cluster set it to
      2-3x total executor cores via spark-submit conf.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = 32
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        cores = os.cpu_count() if inner == "*" else int(inner)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4.1's BatchedPythonArrowInput calls ArrowWriter.sizeInBytes()
        # per appended row unless maxBytesPerBatch == Int.MaxValue; that walk
        # is O(batch) per row -> O(batch^2) per batch and caps the whole
        # Python-runner channel at ~3.5M rows/s regardless of cores (measured
        # via JFR). maxRecordsPerBatch=65536 already bounds batch memory.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))
        # AQE coalescing keeps parallelismFirst (default true), so the
        # TARGET partition count is already the cluster's parallelism; the
        # binding knob for small shuffles is the 1 MB minPartitionSize
        # floor, which merges a few-MB shuffle down to a handful of tasks
        # and idles the rest of the machine (measured: LSH-dedup chain
        # -40% with a 64 KB floor at sf0.1). At production shuffle sizes
        # partitions are far above 1 MB and the floor never binds, so this
        # is a small-shuffle knob, not a cluster tunable; env-overridable.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        # shuffle/spill codec: zstd compresses the wide numeric shuffles
        # (the salted cogroup's GB-scale narrow-row exchanges) ~2x better
        # than lz4 for a small CPU premium — measured 6.7 -> 5.0s on the
        # 48M-row cogroup with flat-to-noise deltas on the small-shuffle
        # dedup chain. Env-overridable for bandwidth-rich clusters.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
