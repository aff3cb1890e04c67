"""session.widen_small_scan: widens a one-split scan, and runs no Spark
job on a frame that already sits above a shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from bmspark.session import widen_small_scan


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_widen_runs_no_job_above_a_shuffle(spark):
    df = (
        spark.range(0, 1000, numPartitions=1)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    sc = spark.sparkContext
    group = "widen_above_shuffle"
    sc.setJobGroup(group, "widen_small_scan job count")
    try:
        out = widen_small_scan(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert out is df


def test_widen_single_row_group_file(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(0, 1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    out = widen_small_scan(df)
    target = spark.sparkContext.defaultParallelism
    assert "RoundRobinPartitioning" not in _executed_plan(df)
    assert f"RoundRobinPartitioning({target})" in _executed_plan(out)
    assert out.count() == 1000
