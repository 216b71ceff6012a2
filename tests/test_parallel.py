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
