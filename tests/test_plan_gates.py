"""The plan walker and the plan-audit gate kinds (htg_spark.profile): each
gate reports a fault on a tiny plan that breaks it and clears one that
keeps it, so a gate that silently stopped matching would fail here."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from htg_spark.profile import (
    absent,
    count,
    no_column,
    partial_agg,
    partitioned,
    plan_nodes,
    present,
    render,
    shuffles,
)


def _blobs(spark):
    return spark.range(100).withColumn("data", F.expr("cast('x' as binary)"))


def _join(spark, n):
    df = spark.range(100)
    for _ in range(n):
        df = df.join(F.broadcast(spark.range(10)), "id")
    return df


# (gate, a plan that breaks it, a plan that keeps it)
CASES = {
    "shuffles": (
        shuffles(0),
        lambda s: s.range(100).repartition(4, "id"),
        lambda s: s.range(100).repartition(4),  # round-robin spread: not counted
    ),
    "absent": (
        absent("CartesianProduct", "BroadcastNestedLoopJoin"),
        lambda s: s.range(10).crossJoin(s.range(3)),
        lambda s: _join(s, 1),
    ),
    "present": (
        present("Scan ExistingRDD"),
        lambda s: s.range(100),
        lambda s: s.range(100).localCheckpoint(eager=False),
    ),
    "count": (
        count("BroadcastHashJoin", 1, 1),
        lambda s: _join(s, 2),
        lambda s: _join(s, 1),
    ),
    "no_column": (
        no_column("data", "Exchange"),
        lambda s: _blobs(s).repartition(4, "id"),
        lambda s: _blobs(s).select("id").repartition(4, "id"),
    ),
    "partial_agg": (
        partial_agg(),
        lambda s: s.range(100).repartition(4, "id"),
        lambda s: s.range(100).groupBy(F.col("id") % 3).count(),
    ),
    "partitioned": (
        partitioned("SinglePartition", 0),
        lambda s: s.range(100).withColumn("r", F.row_number().over(Window.orderBy("id"))),
        lambda s: s.range(100).withColumn(
            "r", F.row_number().over(Window.partitionBy(F.col("id") % 3).orderBy("id"))
        ),
    ),
}


@pytest.mark.parametrize("kind", sorted(CASES))
def test_gate_faults_on_broken_plan_only(spark, kind):
    gate, broken, kept = CASES[kind]
    faults = gate.faults(plan_nodes(broken(spark)))
    assert len(faults) == 1 and faults[0].startswith(gate.desc), faults
    assert gate.faults(plan_nodes(kept(spark))) == []


def test_walker_reads_unexecuted_plan_without_jobs(spark):
    """The walker descends an adaptive plan as planned (executedPlan, not
    finalPhysicalPlan) and launches no job; its outline carries no
    expression ids."""
    df = spark.range(1000).repartition(4, "id").groupBy("id").count()
    sc = spark.sparkContext
    sc.setJobGroup("plan-walk", "walk only")
    try:
        nodes = plan_nodes(df)
        jobs = sc.statusTracker().getJobIdsForGroup("plan-walk")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert [n.name for n in nodes] == ["HashAggregate", "HashAggregate", "Exchange", "Range"]
    assert [n.partial for n in nodes] == [False, True, False, False]
    ex = nodes[2]
    assert (ex.partitioning, ex.keys, ex.output) == ("HashPartitioning", ("id",), ("id",))
    assert "#" not in render(nodes)
