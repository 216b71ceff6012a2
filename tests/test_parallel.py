"""The scan-parallelism floor (``operators.parallel``) decides on plan
nodes, not plan text."""

from __future__ import annotations

from transit_efficiency_analysis_spark.operators.parallel import (
    _scan_partitions,
    ensure_min_parallelism,
)


def test_exchange_named_column_still_widened(spark, tmp_path):
    """A column or literal containing the word "Exchange" is no exchange:
    the one-split scan reports its split count and is widened to the
    session parallelism, while a real repartition still returns None."""
    path = str(tmp_path / "rates")
    spark.range(100).selectExpr("id", "id * 1.5 AS Exchange_rate").coalesce(
        1
    ).write.parquet(path)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism

    assert _scan_partitions(df) == 1
    assert ensure_min_parallelism(df).rdd.getNumPartitions() == target
    assert _scan_partitions(df.selectExpr("id", "'Exchange' AS tag")) == 1
    assert _scan_partitions(spark.range(100).repartition(3)) is None


def _probe_runs_no_job(spark, df):
    """``_scan_partitions(df)`` and the number of jobs it submitted,
    counted by the status tracker in a job group set around the probe."""
    sc = spark.sparkContext
    group = f"scan-probe-{id(df)}"
    sc.setJobGroup(group, "scan-partitions probe")
    try:
        parts = _scan_partitions(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return parts, len(sc.statusTracker().getJobIdsForGroup(group))


def test_aggregated_input_counts_as_exchanged_and_runs_no_job(spark):
    """An aggregate's exchange is inserted after ``sparkPlan``; the probe
    must still see it, return None and execute nothing."""
    df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    assert _probe_runs_no_job(spark, df) == (None, 0)


def test_shuffle_join_input_counts_as_exchanged_and_runs_no_job(spark):
    """A sort-merge join shuffles both sides: None, and no job."""
    a = spark.range(100).selectExpr("id % 7 AS k", "id AS v")
    b = spark.range(50).selectExpr("id % 7 AS k", "id AS w")
    df = a.join(b.hint("merge"), "k")
    assert _probe_runs_no_job(spark, df) == (None, 0)
