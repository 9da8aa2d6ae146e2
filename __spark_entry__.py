"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship bulk raster<->vector elevation join on sf0.001.
queries()/oracle_sql(): one entry per implemented operator (SURVEY.md §2),
re-exported from htg_spark.registry; oracles are closed-form DuckDB SQL
over the same analytic gradient tile catalog the Spark engine joins as
real HGT binaries (htg_spark/driver_queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from htg_spark import driver_queries
from htg_spark.registry import oracle_sql, queries

__all__ = ["entry", "oracle_sql", "queries"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: derive geotagged points from
    events, join them map-side to the HGT tile catalog (every tile read by
    path), apply the vectorized bilinear kernel with kNN nearest-tile
    fallback."""
    sf_dir = "/root/testdata/sf0.001"
    eng = driver_queries.get_engine(spark)
    pts = driver_queries.derive_points(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return eng.elevation_join(
        pts, mode="bilinear", strategy="broadcast", id_col="event_id", knn_fallback=True
    )
