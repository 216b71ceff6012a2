"""Streaming incremental aggregate maintenance — the streaming twin of
``q_agg_incremental_maintenance`` (demo/analytics.py).

Each micro-batch contributes PARTIAL aggregates (count/sum/min/max — all
mergeable monoids) that ``foreachBatch`` merges into a persistent per-key
state table; ``avg`` is derived from merged sum/count at read time, never
averaged across batches. State size is bounded by the key cardinality,
not by history length — the property that makes the pattern viable at
100 TB: the stream only ever shuffles the current micro-batch plus a
#keys-sized state relation, and a full recompute is never needed.

Sums run in exact decimal (the engine-wide parity discipline), stored at
Spark's natural ``sum(DECIMAL(18,6))`` width (28,6) so repeated merges
cannot lose precision; the merge narrows the re-summed total back to
(28,6), which is overflow-safe until a single key's running total
exceeds 10^22.

The state table uses ``sinks.overwrite_table`` (atomic versioned-dir
symlink flip), whose read-while-overwrite contract lets the merge plan
scan the previous state version while writing the next; it is read with
``sinks.read_table`` (footer schema, no inference job per micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.sinks import overwrite_table, read_table, table_exists

_KEYS = ["user_id", "event_type"]


def batch_partials(events: DataFrame) -> DataFrame:
    """Per-key partial aggregates of one micro-batch (the map side of the
    monoid merge)."""
    return events.groupBy(*_KEYS).agg(
        F.count(F.lit(1)).alias("p_cnt"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(28,6)")
        .alias("p_sum"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
    )


def merge_partials(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Merge batch partials into the state (associative + commutative, so
    any batch arrival order yields the same state)."""
    merged = batch if state is None else state.unionByName(batch)
    return merged.groupBy(*_KEYS).agg(
        F.sum("p_cnt").alias("p_cnt"),
        F.sum("p_sum").cast("decimal(28,6)").alias("p_sum"),
        F.min("p_min").alias("p_min"),
        F.max("p_max").alias("p_max"),
    )


def run_agg_maintenance_stream(
    spark: SparkSession, source_dir: str, state_path: str, checkpoint: str
) -> None:
    """Drain all staged event files (``Trigger.AvailableNow``), merging
    each micro-batch's partials into the state table exactly once (the
    checkpoint owns progress; re-runs skip processed files)."""
    schema = read_table(spark, source_dir).schema
    raw = spark.readStream.schema(schema).parquet(source_dir)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        state = read_table(spark, state_path) if table_exists(state_path) else None
        overwrite_table(merge_partials(state, batch_partials(batch_df)), state_path)

    (
        raw.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def final_aggregate(spark: SparkSession, state_path: str) -> DataFrame:
    """Read the maintained state in ``q_agg_incremental_maintenance``'s
    output shape (avg derived from merged sum/count)."""
    from transit_efficiency_analysis_spark.functions.parity import parity_double

    s = read_table(spark, state_path)
    sum_value = parity_double(F.col("p_sum"), 6)
    return s.select(
        "user_id",
        "event_type",
        F.col("p_cnt").alias("n_events"),
        sum_value.alias("sum_value"),
        F.col("p_min").alias("min_value"),
        F.col("p_max").alias("max_value"),
        (sum_value / F.col("p_cnt")).alias("avg_value"),
    )
