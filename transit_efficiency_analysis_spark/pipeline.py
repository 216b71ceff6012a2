"""End-to-end pipeline API — what replaces the reference's three entry
points (``historical_extractor.py`` / ``realtime_extractor.py`` +
``get_realtime.py`` / ``main_runner.py`` → ``diff_times.py``).

A user of the reference runs three cron'd scripts against two Postgres
instances over SSH; a user of this engine calls three functions (or runs
the streaming variant) against one storage layer:

    ingest_schedule(spark, csv_dir, store)        # static GTFS → gtfs_data
    ingest_realtime(spark, feed_df, store, ...)   # poll batch → trip_updates upsert
    consolidate(spark, store)                     # join + diffs → trip_updates_with_diffs

The 80 LoC of SSH/CSV transfer plumbing (``loader/get_realtime.py``) maps
to nothing: there is one store. Locks, rate-limit files, and cron are the
streaming runtime's checkpoint + trigger (``streaming/``).

Every table commits through ``sinks``' atomic symlink flip: readers see
it before a write or after it, and a failed write leaves the old table.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark import schemas, sinks
from transit_efficiency_analysis_spark.operators.delay import compute_delays
from transit_efficiency_analysis_spark.sinks import local_path, overwrite_table, read_table
from transit_efficiency_analysis_spark.sinks import replace_table, table_dates, table_exists
from transit_efficiency_analysis_spark.operators.upsert import merge_batch, upsert_ignore
from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
    apply_epoch0_default,
    decode_feed,
    enrich_weather,
    feed_dates,
)
from transit_efficiency_analysis_spark.sources.gtfs_static import (
    build_gtfs_data,
    read_gtfs_static,
)


def _date_in(col, dates: list):
    """``col IN dates``, with a NULL in ``dates`` matching NULL."""
    cond = col.isin([d for d in dates if d is not None])
    return cond | col.isNull() if None in dates else cond


class Store:
    """The three parquet table locations under one local/POSIX ``root``
    (Delta/Iceberg at scale — same call sites). An object-store ``root``
    raises ``ValueError`` here, before any stage writes."""

    def __init__(self, root: str):
        local_path(root)
        self.gtfs_data = os.path.join(root, "gtfs_data")
        self.trip_updates = os.path.join(root, "trip_updates")
        self.diffs = os.path.join(root, "trip_updates_with_diffs")


def ingest_schedule(
    spark: SparkSession, csv_dir: str, store: Store, tz: str = "America/Toronto"
) -> DataFrame:
    """Static ingest: CSVs → star join → time parse → PK dedup → partitioned
    parquet, committed whole in one flip (replaces
    ``historical_extractor.py`` minus the HTTP fetch)."""
    gtfs_data = build_gtfs_data(read_gtfs_static(spark, csv_dir), tz)
    deduped = upsert_ignore(
        gtfs_data, keys=list(schemas.PRIMARY_KEY), order_by=["route_id", "arrival_time"]
    )
    return replace_table(deduped, store.gtfs_data, partition_by="start_date")


def ingest_realtime(
    spark: SparkSession,
    feed: DataFrame,
    store: Store,
    weather: tuple[int, str, float] | None = None,
    now=None,
) -> DataFrame:
    """One realtime poll: decode the nested feed, apply the epoch-0 default,
    denormalize the weather observation, then conditional-upsert into
    trip_updates (replaces ``realtime_extractor.py``'s per-row upserts).

    The merge replays ``ON CONFLICT DO UPDATE ... WHERE arrival/departure
    changed``: an unchanged poll keeps the stored row entirely (weather
    columns and ``updated_at`` included), ``created_at`` is stamped at
    first observation and never touched again, ``updated_at`` at the last
    real change (``realtime_extractor.py:205-230``).

    Audit stamps use the processing wall clock, exactly like the
    reference's ``datetime.now()`` (``realtime_extractor.py:185,234``):
    ``now=None`` (production) stamps ``current_timestamp()``; tests inject
    a fixed ``datetime`` for deterministic asserts. The stamp travels in
    an ``audit_ts`` column (the processing time of the surviving version)
    so replays across micro-batches keep exact reference semantics.

    trip_updates is stored partitioned by ``start_date``, and a poll reads,
    merges and rewrites only the service dates its batch holds
    (:func:`merge_touched_dates`), so its cost follows the batch, not the
    table. The touched dates are read from the nested feed itself
    (``feed_dates``), which for a decoded poll runs no Spark job. The
    commit is one atomic flip: readers see the table before the poll or
    after it, never a mix."""
    batch = apply_epoch0_default(decode_feed(feed))
    batch = enrich_weather(batch, *(weather or (None, None, None)))
    audit = (
        F.current_timestamp()
        if now is None
        else F.lit(now.isoformat(sep=" ")).cast("timestamp")
    )
    batch = batch.withColumn("audit_ts", audit)
    return merge_touched_dates(
        batch,
        store.trip_updates,
        keys=list(schemas.PRIMARY_KEY),
        order_by=["poll_ts"],
        tracked=["arrival_time", "departure_time"],
        ts_col="audit_ts",
        dates=lambda: feed_dates(feed),
    )


def merge_touched_dates(
    batch: DataFrame,
    path: str,
    keys: list[str],
    order_by: list[str],
    tracked: list[str],
    ts_col: str,
    dates: Callable[[], list],
) -> DataFrame:
    """``merge_batch`` of ``batch`` into the state table at ``path``,
    reading and rewriting only the ``start_date`` partitions that
    ``dates()`` returns; returns the committed table. Shared by
    ``ingest_realtime`` and the streaming leg
    (``streaming/realtime_stream.py``), which both pass the dates of the
    nested feed the batch was decoded from (``feed_dates``).

    ``keys`` must include ``start_date``: then keys never cross dates, and
    merging the touched dates' slice equals merging the whole table.
    ``dates()`` must hold every date of ``batch`` (a superset is fine: an
    extra date is read and rewritten unchanged). A batch date missing from
    it would be written without its stored rows, which the commit then
    drops. It is called only when the table exists: the first commit
    writes the whole batch and needs no date set.

    The stored slice is read through a partition-pruned
    ``start_date IN dates`` with the footer schema (``sinks.read_table``,
    no inference job). A table written unpartitioned has no date dirs, so
    it is read in full, never through the filter, and rewritten
    partitioned. ``overwrite_table(partition_by=...)`` writes the merged
    dates and hard-links every other live date into the new version, so
    the commit is one atomic symlink flip: readers see the old table or
    the new one."""
    spark = batch.sparkSession
    if not table_exists(path):
        existing = batch.limit(0)
    else:
        touched = dates()
        if not touched:
            return read_table(spark, path)  # nothing touched
        existing = read_table(spark, path)
        if table_dates(path):
            existing = existing.where(_date_in(F.col("start_date"), touched))
    merged = merge_batch(
        existing, batch, keys=keys, order_by=order_by, tracked=tracked, ts_col=ts_col
    )
    return overwrite_table(merged, path, partition_by="start_date")


def consolidate(spark: SparkSession, store: Store) -> DataFrame:
    """The delay rebuild: trip_updates ⋈ gtfs_data → trip_updates_with_diffs,
    full recompute + atomic overwrite (replaces ``diff_times.py``'s
    DELETE + INSERT...SELECT). trip_updates carries the realtime shape
    (weather columns + poll audit), gtfs_data the schedule shape.

    trip_updates is read only on the service dates gtfs_data holds. The
    delay join is an inner join on a key that includes ``start_date``, so
    rows on other dates could never reach the output: the pruning is
    exact, and a store holding many realtime dates is not scanned in
    full."""
    # trip_updates carries real audit columns maintained by the merge:
    # created_at = first observation, updated_at = last real change.
    # The dates come from gtfs_data's start_date= dir names (no Spark job).
    gd = read_table(spark, store.gtfs_data)
    dates = [d for d in table_dates(store.gtfs_data) if d is not None]
    tu = read_table(spark, store.trip_updates).where(F.col("start_date").isin(dates))
    diffs = compute_delays(tu, gd, sort=False)
    return replace_table(diffs, store.diffs, partition_by="start_date")


def consolidate_incremental(
    spark: SparkSession, store: Store, changed_dates: list
) -> DataFrame:
    """Incremental view maintenance of the diffs table: recompute only the
    ``start_date`` partitions in ``changed_dates`` and replace just those
    partitions (``sinks.overwrite_table(partition_by=...)``: the other
    dates are carried into the new version, and the table commits in one
    flip).

    The reference rebuilds the whole table every cycle
    (``diff_times.py:38-111``); at 100 TB that is the difference between
    touching one day and touching years. Both tables are partitioned by
    start_date (gtfs_data by ``ingest_schedule``, trip_updates by the
    poll's commit), so the date predicates prune both input scans and cost
    is proportional to the changed slice. Correctness: the delay join is
    per-key and keys never cross start_date, so partition-local recompute
    equals the full recompute (tests/test_pipeline.py).
    """
    tu = read_table(spark, store.trip_updates).where(F.col("start_date").isin(changed_dates))
    gd = read_table(spark, store.gtfs_data).where(F.col("start_date").isin(changed_dates))
    diffs = compute_delays(tu, gd, sort=False)
    # through the module: the name ``overwrite_table`` here is the poll's
    # commit, which perfbench's tracer wraps as its per-poll sink span
    return sinks.overwrite_table(diffs, store.diffs, partition_by="start_date")

