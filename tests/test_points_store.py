"""Partition pruning on the cell-partitioned points store: a bbox query must
touch only the matching partition directories."""

import numpy as np
import pandas as pd

from htg_spark import fixtures
from htg_spark.engine import ElevationEngine
from htg_spark.points_store import read_points, write_points
from htg_spark.profile import absent, count, faults, partition_filter, plan_nodes, present, render

ANY_EXCHANGE = ("Exchange", "BroadcastExchange", "ReusedExchange")


def _assert_plan(df, gates):
    nodes = plan_nodes(df)
    assert not faults(nodes, gates), render(nodes)


def test_partition_pruning(spark, tmp_path):
    rng = np.random.default_rng(11)
    n = 3000
    lat = 35.0 + rng.random(n) * 4.0  # tiles 35..38
    lon = 138.0 + rng.random(n) * 4.0  # tiles 138..141
    pdf = pd.DataFrame(
        {"image_id": [f"p{i}" for i in range(n)], "lat": lat, "lon": lon}
    )
    path = str(tmp_path / "pts")
    write_points(spark.createDataFrame(pdf), path)

    full = read_points(spark, path)
    assert full.count() == n
    # distinct partition dirs = 16 cells
    assert len({f.split("p_cell=")[1].split("/")[0] for f in full.inputFiles()}) == 16

    one = read_points(spark, path, bbox=(35.2, 138.2, 35.8, 138.8))
    # pruning is applied at planning: the scan must carry a p_cell
    # PartitionFilter (inputFiles() reflects the pre-pushdown file index)
    _assert_plan(one, [partition_filter("p_cell")])
    got = one.toPandas()
    expect = pdf[(pdf.lat >= 35) & (pdf.lat < 36) & (pdf.lon >= 138) & (pdf.lon < 139)]
    assert len(got) == len(expect)

    # pruned read feeds the join unchanged
    eng = ElevationEngine(spark, grids=fixtures.default_catalog_grids())
    out = eng.elevation_join(one, mode="nearest")
    assert out.count() == len(expect)


def test_write_from_phash(spark, tmp_path):
    imgs = fixtures.make_images_pdf(200)
    path = str(tmp_path / "imgs")
    write_points(spark.createDataFrame(imgs), path)
    back = read_points(spark, path)
    assert back.count() == 200
    assert "p_cell" in back.columns and "lat" in back.columns


def test_bucketed_join_elides_exchange(spark, tmp_path):
    """The write-once-shuffle pattern: two tables bucketed+sorted on the
    same (key, n_buckets) join and aggregate with ZERO Exchange in the
    plan — at 1000 executors the per-query shuffle of a repeatedly-joined
    fact table disappears entirely. Result must equal the plain
    (shuffling) join bit-for-bit."""
    import pandas as pd

    from pyspark.sql import functions as F

    from htg_spark.points_store import read_bucketed, write_bucketed

    n = 5000
    fact = pd.DataFrame(
        {"k": [i % 97 for i in range(n)], "v": [i * 7 % 1013 for i in range(n)]}
    )
    dim = pd.DataFrame({"k": list(range(97)), "w": [k * k % 31 for k in range(97)]})
    fact_df = spark.createDataFrame(fact)
    dim_df = spark.createDataFrame(dim)
    write_bucketed(fact_df, "t_fact_b", "k", 8, path=str(tmp_path / "fact"))
    write_bucketed(dim_df, "t_dim_b", "k", 8, path=str(tmp_path / "dim"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: a broadcast would hide the elision
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lb = read_bucketed(spark, "t_fact_b")
        rb = read_bucketed(spark, "t_dim_b")
        joined = lb.join(rb, "k").select("k", "v", "w")
        _assert_plan(joined, [absent(*ANY_EXCHANGE), present("SortMergeJoin")])
        # the co-located result must equal the plain shuffling join
        plain = (
            fact_df.join(dim_df, "k")
            .select("k", "v", "w")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64("k", "v", "w"), F.lit(1_000_000_007))).alias("chk"),
            )
            .collect()[0]
        )
        got = joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("k", "v", "w"), F.lit(1_000_000_007))).alias("chk"),
        ).collect()[0]
        assert (got["n"], got["chk"]) == (plain["n"], plain["chk"])
        # aggregation on the bucket key rides the same metadata: no Exchange
        _assert_plan(lb.groupBy("k").agg(F.sum("v").alias("s")), [absent(*ANY_EXCHANGE)])
        # a catalog-blind read of the SAME files loses the bucket spec and
        # must re-shuffle — the read path through the catalog is load-bearing
        blind = spark.read.parquet(str(tmp_path / "fact")).join(rb, "k")
        _assert_plan(blind, [count(ANY_EXCHANGE, 1)])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_fact_b")
        spark.sql("DROP TABLE IF EXISTS t_dim_b")


def test_zorder_layout_prunes_bbox(spark, tmp_path):
    """Z-ordered files must (a) return bit-identical query results to an
    unclustered layout, (b) let footer min/max stats prune most files for
    a small bbox where the unclustered layout prunes none."""
    from pyspark.sql import functions as F

    from htg_spark.points_store import bbox_file_audit, write_zordered

    rng = np.random.default_rng(23)
    n = 60_000
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "lat": 35.0 + rng.random(n) * 4.0,
            "lon": 138.0 + rng.random(n) * 4.0,
        }
    )
    df = spark.createDataFrame(pdf)
    zpath, rpath = str(tmp_path / "zord"), str(tmp_path / "rand")
    write_zordered(df, zpath, n_files=32)
    # control layout: same file count, row-order (i.e. id-order) placement
    df.repartitionByRange(32, "point_id").write.parquet(rpath)

    bbox = (35.2, 138.2, 35.45, 138.45)  # ~0.4% of the covered area
    total_z, hit_z = bbox_file_audit(zpath, *bbox)
    total_r, hit_r = bbox_file_audit(rpath, *bbox)
    assert total_z == 32 and total_r == 32
    assert hit_r == 32  # unclustered: every file's stats span the box
    assert hit_z <= 8  # z-ordered: the box lives in a few curve runs

    # results are layout-independent (and the filter reaches the scan)
    def bbox_rows(path):
        d = spark.read.parquet(path).where(
            (F.col("lat") >= bbox[0])
            & (F.col("lon") >= bbox[1])
            & (F.col("lat") <= bbox[2])
            & (F.col("lon") <= bbox[3])
        )
        return d

    a = sorted(r["point_id"] for r in bbox_rows(zpath).collect())
    b = sorted(r["point_id"] for r in bbox_rows(rpath).collect())
    assert a == b and len(a) > 0
    # z-key is layout metadata only — not stored in the schema
    assert spark.read.parquet(zpath).columns == ["point_id", "lat", "lon"]
