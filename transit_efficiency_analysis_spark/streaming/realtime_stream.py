"""Streaming realtime ingest: micro-batch feed files → upserted state table.

Replaces the reference's cron + inter-process lock + rate-limit state file
runtime (``realtime_extractor.py:39-57,122-143``) with Structured Streaming:

- source: a file stream of decoded feed rows (one parquet drop per poll —
  the shape a ``.pb``-per-minute poller lands); checkpointing replaces the
  lock file (exactly-once per file), the trigger interval replaces cron,
  and ``Trigger.AvailableNow`` gives catch-up-then-stop semantics.
- sink: ``foreachBatch`` applying the batch pipeline's date-scoped
  ``merge_touched_dates`` (the conditional-replay ``merge_batch`` kernel
  over the touched ``start_date`` partitions: unchanged polls keep the
  stored row; audit columns maintained) onto a parquet state table — so
  stream and batch are *the same operator*, proven equal by the parity
  test (tests/test_streaming.py).

At scale the state table is Delta/Iceberg and the merge becomes
``MERGE INTO`` over date-pruned partitions; watermarking bounds the dedup
state if the window kernel is moved into the stream itself
(``dropDuplicatesWithinWatermark``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from transit_efficiency_analysis_spark import schemas
from transit_efficiency_analysis_spark.operators.upsert import merge_batch
from transit_efficiency_analysis_spark.pipeline import merge_touched_dates
from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
    apply_epoch0_default,
    decode_feed,
    feed_dates,
)

#: upsert identity (PK) + recency order for realtime observations
REALTIME_KEYS = ["trip_id", "start_date", "stop_sequence", "stop_id"]
REALTIME_ORDER = ["poll_ts"]
#: conditional-update columns (realtime_extractor.py:216-218): the stored
#: row advances only when arrival/departure actually changed
REALTIME_TRACKED = ["arrival_time", "departure_time"]


def transform_feed(raw: DataFrame) -> DataFrame:
    """Shared decode+default transformation (stream and batch identical)."""
    return apply_epoch0_default(decode_feed(raw))


def run_stream_available_now(
    spark: SparkSession,
    feed_dir: str,
    state_path: str,
    checkpoint_dir: str,
) -> None:
    """Process all pending feed files (one or more polls each) and stop.

    ``foreachBatch`` merges each micro-batch into the parquet state table
    with keep-newest-per-key semantics through the batch pipeline's
    ``merge_touched_dates``: the state table is partitioned by
    ``start_date``, each micro-batch rewrites only the dates it holds, and
    each commit is one atomic flip (at scale: MERGE INTO a Delta table).
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_touched_dates(
            transform_feed(batch_df), state_path, REALTIME_KEYS, REALTIME_ORDER,
            tracked=REALTIME_TRACKED, ts_col="poll_ts",
            dates=lambda: feed_dates(batch_df),
        )

    raw = (
        spark.readStream.schema(schemas.REALTIME_FEED_RAW)
        .parquet(feed_dir)
    )
    q = (
        raw.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream_within_watermark(
    raw: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "poll_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for at-least-once sources:
    ``withWatermark(ts).dropDuplicatesWithinWatermark(keys)`` keeps the
    first delivery of each key and drops re-deliveries arriving within
    the watermark horizon — state is BOUNDED by the watermark (old keys
    age out), unlike plain ``dropDuplicates`` whose state grows forever.

    This is the in-stream half of the dedup story: re-delivered poll
    rows die here (bounded RocksDB/HDFS state), while cross-batch
    *semantic* dedup (keep-newest upsert, conditional replay) stays in
    the ``merge_batch`` kernel applied by ``foreachBatch``. At 100 TB
    the watermark bounds state to the re-delivery horizon of the bus
    (minutes), not the table's key cardinality.
    """
    return raw.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or REALTIME_KEYS + [ts_col]
    )


def batch_equivalent(spark: SparkSession, feed_dir: str) -> DataFrame:
    """The batch recompute the stream must equal: read every poll file at
    once, transform, keep newest per key."""
    raw = spark.read.schema(schemas.REALTIME_FEED_RAW).parquet(feed_dir)
    batch = transform_feed(raw)
    return merge_batch(
        batch.limit(0), batch, REALTIME_KEYS, REALTIME_ORDER,
        tracked=REALTIME_TRACKED, ts_col="poll_ts",
    )
