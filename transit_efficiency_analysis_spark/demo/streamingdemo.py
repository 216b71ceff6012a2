"""Driver-checkable Structured Streaming demos.

The streaming family (SURVEY §2's ``src-state-json`` successor: checkpointed
micro-batch ingest, watermarked windowed aggregation, stateful upsert) was
pytest-only through round 4 — streams have no one-shot SQL twin *while
running*. These demos close that gap with the contracts that ARE
oracle-checkable as bounded catch-up runs:

- ``q_stream_daily_agg`` (complete mode): after an ``AvailableNow``
  catch-up, the windowed aggregation equals the batch recompute EXACTLY —
  the replay/backfill guarantee.
- ``q_stream_daily_agg_append`` / ``q_stream_sessionize_append`` (append
  mode + watermark): the emitted set equals the batch recompute restricted
  to CLOSED windows/sessions — eviction, emit-once, and late-data
  semantics under the driver hash, made deterministic by
  ``_append_catchup_protocol`` (event-time-ordered feed, file-sink commit
  log, clock-tick restart flush).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.demo import demo
from transit_efficiency_analysis_spark.demo._tmpcache import lazy_result
from transit_efficiency_analysis_spark.functions.parity import parity_double
from transit_efficiency_analysis_spark.sources.registry import load_table

# per-invocation memory-sink names: a fixed queryName would collide if two
# demo invocations ever ran concurrently on one SparkSession (each start()
# registers the sink as a temp view under its queryName)
_RUN_SEQ = [0]


def _sink_name(prefix: str) -> str:
    _RUN_SEQ[0] += 1
    return f"{prefix}_{_RUN_SEQ[0]}"


# Streaming demos' ephemeral feed/checkpoint/sink dirs are deleted in
# their `finally` blocks, so the RESULT must outlive them: each demo's
# result is rewritten executor-side into the process-lifetime dir
# _tmpcache.lazy_result keeps for its key — ONE dir per demo, overwritten
# on re-invocation, rather than one per call (a median-of-N bench loop
# previously accumulated N dirs until interpreter exit). The distributed
# parquet rewrite replaced (round 8) the old collect()+createDataFrame
# materialization, which funneled the whole (data-proportional, for the
# stream-stream joins) result through the driver.
_lazy_result = lazy_result


@demo(
    "q_stream_daily_agg",
    sql="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
                AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
)
def q_stream_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily event rollup, verified against the batch answer:
    ``readStream`` over the events parquet -> 1-day tumbling-window
    aggregation -> memory sink, run with ``Trigger.AvailableNow`` (process
    everything pending, then stop — the catch-up/backfill trigger). The
    result table must equal the batch GROUP BY bit-for-bit (counts are
    integers, sums go through the DECIMAL(18,6) parity cast), proving the
    streaming operator is a sound incremental evaluation of the same
    logical plan. At 100 TB the same query runs unbounded with
    ``withWatermark`` + append mode against a file/Kafka source and the
    sink becomes a partitioned table; complete-mode-into-memory is the
    bounded harness that makes today's run deterministic and
    hash-checkable."""
    # land the events as a 4-file feed directory (the one-drop-per-poll
    # shape realtime_stream.py ingests); maxFilesPerTrigger=1 then forces
    # FOUR micro-batches, so the run genuinely exercises incremental
    # state accumulation, not a single-batch degenerate case
    batch = load_table(spark, sf_dir, "events")
    feed_dir = tempfile.mkdtemp(prefix="stream_demo_feed_")
    batch.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(
        feed_dir
    )
    events = (
        spark.readStream.format("parquet")
        .schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .load(feed_dir)
    )
    agg = (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            parity_double(
                F.sum(F.col("value").cast("decimal(18,6)")), 6
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    sink = _sink_name("stream_daily_events")
    try:
        with tempfile.TemporaryDirectory(prefix="stream_demo_ckpt_") as ckpt:
            q = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # data-carrying micro-batches this run (tests pin >= 4: one
            # per feed file, so the run was genuinely incremental)
            _LAST_RUN_BATCHES[0] = sum(
                1 for p in q.recentProgress if p["numInputRows"] > 0
            )
            q.stop()
        # persist the memory sink's table to a process-lifetime dir
        # (lazy read; the memory-sink temp view is dropped right after)
        out = _lazy_result(spark, spark.table(sink), "stream_demo_result_")
        spark.catalog.dropTempView(sink)
        return out
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)


#: observability for tests: data-carrying batch count of the last run
_LAST_RUN_BATCHES = [0]


@demo(
    "q_stream_daily_agg_append",
    sql="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS window_start,
           e.event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6))
                AS DOUBLE) AS sum_value
    FROM events e CROSS JOIN wm
    WHERE date_trunc('day', e.ts) + INTERVAL 1 DAY <= wm.w
    GROUP BY date_trunc('day', e.ts), e.event_type
    """,
)
def q_stream_daily_agg_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked daily rollup — the unbounded-production
    shape of ``q_stream_daily_agg``, under the driver hash.

    Complete mode re-emits all state each trigger (bounded harness);
    append mode is what a 100 TB stream actually runs: a 1-hour
    watermark, each window EMITTED ONCE when the watermark passes its
    end, closed-window state evicted, too-late rows dropped. The
    oracle-checkable contract: the emitted set equals the batch GROUP BY
    restricted to CLOSED windows — ``window_end <= max(ts) - 1 hour``
    (the final watermark); the open last-day window stays in state
    unemitted, exactly as in production until later data closes it.

    Protocol notes, each load-bearing:

    * The feed is range-partitioned BY EVENT TIME with strictly
      increasing file mtimes, so arrival order = event-time order (the
      shape of a real poll feed, ``realtime_stream.py``'s contract). An
      arbitrary file order is NOT a correctness bug to this operator —
      it is genuinely late data, and append mode correctly DROPS rows
      older than the watermark; but it makes the emitted set depend on
      the file schedule, which no oracle can express.
    * Sink is the FILE sink (parquet + ``_spark_metadata`` commit log:
      exactly-once, restart-recoverable — the memory sink refuses
      checkpoint recovery). The result is read back through the commit
      log.
    * Spark plans batch N with the watermark derived from batches
      <= N-1, and the trailing no-data finalization batch is RACY under
      ``AvailableNow`` (observed both present and absent on identical
      input). So after the catch-up run, the demo appends two 1-row
      "clock tick" sentinel files carrying ``ts = max(real ts)`` and
      RESTARTS the query from the same checkpoint: the first tick's
      batch re-establishes the event-time stats, the second tick's batch
      plans with watermark = max(ts) - 1h and flushes every closed
      window the first run had not yet emitted. Emit-once across the
      restart is the file sink's commit-log guarantee (tests assert no
      duplicate windows). The sentinels themselves land in the open
      last-day window, which never emits — so they cannot contaminate
      the output. Event ts granularity is microseconds mid-day, so
      watermark-vs-window-end boundary equality — where Spark's strict
      ``<`` vs the oracle's ``<=`` could diverge — cannot occur on this
      feed.
    """
    def build_agg(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                parity_double(
                    F.sum(F.col("value").cast("decimal(18,6)")), 6
                ).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return _append_catchup_protocol(spark, sf_dir, build_agg)


def _append_catchup_protocol(
    spark: SparkSession, sf_dir: str, build_agg
) -> DataFrame:
    """The deterministic append-mode harness shared by the watermarked
    streaming demos (see ``q_stream_daily_agg_append``'s docstring for
    why each step is load-bearing): event-time-ordered 4-file feed →
    AvailableNow catch-up into a parquet file sink → two clock-tick
    sentinel files at ``ts = max(real ts)`` → checkpoint-recovered
    second catch-up that flushes every still-held closed window."""
    batch = load_table(spark, sf_dir, "events")
    feed_dir = tempfile.mkdtemp(prefix="stream_append_feed_")
    out_dir = tempfile.mkdtemp(prefix="stream_append_out_")
    ckpt_dir = tempfile.mkdtemp(prefix="stream_append_ckpt_")

    def _touch_in_order() -> None:
        t0 = time.time() - 3600
        for i, p in enumerate(sorted(glob.glob(os.path.join(feed_dir, "part-*")))):
            os.utime(p, (t0 + i, t0 + i))

    def _run_catchup() -> int:
        events = (
            spark.readStream.format("parquet")
            .schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .load(feed_dir)
        )
        q = (
            build_agg(events)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_batches = len(q.recentProgress)
        q.stop()
        return n_batches

    try:
        batch.repartitionByRange(4, "ts").write.mode("overwrite").parquet(
            feed_dir
        )
        _touch_in_order()
        run1 = _run_catchup()
        # clock ticks: two 1-row files at ts = max(real ts), each its own
        # micro-batch on restart (see q_stream_daily_agg_append docstring)
        max_ts = batch.agg(F.max("ts")).first()[0]
        tick = spark.createDataFrame([batch.first()], batch.schema).withColumn(
            "ts", F.lit(max_ts)
        )
        for _ in range(2):
            tick.coalesce(1).write.mode("append").parquet(feed_dir)
        _touch_in_order()
        run2 = _run_catchup()
        _LAST_APPEND_BATCHES[0] = run1 + run2
        # the read of out_dir goes through the file sink's _spark_metadata
        # commit log (exactly-once view); rewrite it executor-side into a
        # process-lifetime result dir — the commit log's absolute paths
        # mean out_dir itself cannot simply be kept/moved past `finally`
        return _lazy_result(
            spark, spark.read.parquet(out_dir), "stream_append_result_"
        )
    finally:
        for d in (feed_dir, out_dir, ckpt_dir):
            shutil.rmtree(d, ignore_errors=True)


#: observability for tests: total micro-batch count across both catch-up
#: runs (>= 4 data + 2 sentinel batches; no-data batches may add more)
_LAST_APPEND_BATCHES = [0]


#: inactivity gap for streaming sessionization (minutes) — matches the
#: batch demos in demo/windowed.py
_SESSION_GAP_MIN = 30


@demo(
    "q_stream_sessionize_append",
    sql="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL THEN 1
                    WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                         ORDER BY ts, event_id))
                         > {gap} * 60 THEN 1
                    ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    sessions AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL {gap} MINUTE AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT s.user_id, s.session_start,
           CAST(s.session_end AS TIMESTAMP) AS session_end, s.n_events
    FROM sessions s CROSS JOIN wm
    WHERE s.session_end <= wm.w
    """.replace("{gap}", str(_SESSION_GAP_MIN)),
)
def q_stream_sessionize_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSIONIZATION under the driver hash: ``session_window``
    (the merging gap window — Spark's custom-session operator, state
    merged as events arrive) + 1-hour watermark in append mode, run
    through the same deterministic catch-up protocol as
    ``q_stream_daily_agg_append``.

    A session closes when the watermark passes ``last_ts + gap`` (no
    later event can merge into it); the emitted set therefore equals the
    batch gap-sessionization restricted to sessions with
    ``session_end <= max(ts) - 1h``. ``session_window`` merges at a gap
    of EXACTLY 30:00 and splits strictly above (probed, pinned in
    tests/test_session_native.py), so the oracle's lag-based split uses
    strict ``>``; ``session_end`` is ``last_ts + gap`` (the window end),
    matching the oracle's ``max(ts) + INTERVAL 30 MINUTE``. The clock
    ticks land at ``ts = max(real ts)``: any session they could touch
    has ``last_ts > max(ts) - 1.5h``, whose window end strictly exceeds
    the final watermark — so ticks only ever touch OPEN (unemitted)
    sessions and cannot contaminate the output; the oracle mirrors this
    by computing sessions over the tick-free events table."""

    def build_agg(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark("ts", "1 hour")
            .groupBy(
                "user_id",
                F.session_window(
                    "ts", f"{_SESSION_GAP_MIN} minutes"
                ).alias("w"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    return _append_catchup_protocol(spark, sf_dir, build_agg)


@demo(
    "q_stream_dedup_append",
    sql="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEDUPLICATION — ``dropDuplicatesWithinWatermark`` (the
    bounded-state streaming dedup operator: keeps one row per key,
    holding per-key state only until the watermark passes the key's
    first-seen event time + delay) run through the append catch-up
    protocol. The delay here (90 days) exceeds the whole feed's span,
    so no state is evicted mid-run and the emitted set is EXACTLY one
    row per distinct (user_id, event_type) — the driver hash pins
    emit-once-per-key. Only the key columns are projected: within a
    micro-batch the surviving row among same-key duplicates is
    arbitrary, so a value-deterministic contract must not leak payload
    (eviction + re-emission semantics, which need controlled interleaving,
    are pinned in tests/test_streaming_dedup.py with hand-fed single-row
    batches). The clock-tick sentinel rows reuse an already-seen key, so
    the dedup state absorbs them and the tick-free oracle table agrees.
    At 100 TB this operator is exact-dedup for unbounded ingest: state
    is one small entry per key within the horizon, sharded by key hash
    across executors, RocksDB-backed — unlike batch ``DISTINCT``, no
    full-corpus shuffle ever happens."""

    def build_dedup(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark("ts", "90 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    return _append_catchup_protocol(spark, sf_dir, build_dedup)


@demo(
    "q_stream_upsert_foreachbatch",
    sql="""
    SELECT event_id, ts, user_id, event_type, value
    FROM (
        SELECT event_id, ts, user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT SINK — ``foreachBatch`` + ``merge_into``: the
    production pattern for maintaining a keyed table off a stream when
    the sink has no native MERGE. Each micro-batch is applied onto the
    stored table through ``operators.upsert.merge_into`` (existence
    probe, ``merge_batch``, then the atomic versioned-dir overwrite),
    keyed by (user_id, event_type) keeping the newest row by (ts,
    event_id). Because keep-newest over a TOTAL
    order is an associative fold, the final stored state is
    batch-split-invariant — equal to the one-shot window dedup over the
    whole feed, which is exactly the oracle — so the driver hash proves
    the stream-of-merges converges to the batch answer through real
    storage and 4+ genuine micro-batches (no ticks needed: foreachBatch
    commits every batch; nothing is held back on a watermark). Each
    batch rewrites the whole table: O(table) per batch
    (``merge_into_partitioned`` rewrites only the touched buckets)."""
    import tempfile

    batch = load_table(spark, sf_dir, "events")
    feed_dir = tempfile.mkdtemp(prefix="stream_upsert_feed_")
    ckpt_dir = tempfile.mkdtemp(prefix="stream_upsert_ckpt_")
    target = os.path.join(
        tempfile.mkdtemp(prefix="stream_upsert_tbl_"), "state"
    )
    from transit_efficiency_analysis_spark.operators.upsert import merge_into

    def apply_batch(bdf: DataFrame, _batch_id: int) -> None:
        merge_into(
            target,
            bdf,
            keys=["user_id", "event_type"],
            order_by=["ts", "event_id"],
        )

    try:
        batch.repartitionByRange(4, "ts").write.mode("overwrite").parquet(
            feed_dir
        )
        events = (
            spark.readStream.format("parquet")
            .schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .load(feed_dir)
        )
        q = (
            events.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _LAST_UPSERT_BATCHES[0] = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        q.stop()
        return _lazy_result(
            spark,
            spark.read.parquet(target).select(
                "event_id", "ts", "user_id", "event_type", "value"
            ),
            "stream_upsert_result_",
        )
    finally:
        for d in (feed_dir, ckpt_dir, os.path.dirname(target)):
            shutil.rmtree(d, ignore_errors=True)


#: observability for tests: data-carrying micro-batches in the last
#: q_stream_upsert_foreachbatch run (>= 4: one per feed file)
_LAST_UPSERT_BATCHES = [0]


@demo(
    "q_stream_join_append",
    sql="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_join_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join under the driver hash: clicks and
    purchases land as two independent file streams; each purchase joins
    the same user's clicks from the preceding 30 minutes. Both sides
    carry a 1-hour watermark and the join carries the event-time range
    condition — together they bound the state store (a side's row is
    evicted once the GLOBAL watermark — the min across both sources —
    passes the last instant the condition could still match it).

    Why this is oracle-checkable with no tick protocol: INNER
    stream-stream join results emit when the match is FOUND, not when
    the watermark closes anything — so a full AvailableNow catch-up
    over finite feeds emits exactly every qualifying pair, whatever
    the interleaving of the two sources (the conservative min-across-
    sources watermark can only lag, and lag keeps state alive: needed
    clicks for a purchase at T have ts >= T-30m, while eviction only
    reaches ts < watermark-30m <= T-1.5h). The batch interval join IS
    the emitted set; exactly-once lands via the file-sink commit log.
    At 100 TB this operator is how realtime enrichment joins run
    unbounded — per-key state sharded across executors, bounded by
    watermark x interval, no batch recompute."""
    import tempfile

    batch = load_table(spark, sf_dir, "events")
    out_dir = tempfile.mkdtemp(prefix="stream_join_out_")
    ckpt_dir = tempfile.mkdtemp(prefix="stream_join_ckpt_")
    feeds = {}
    try:
        sides = {}
        for etype in ("click", "purchase"):
            feed = tempfile.mkdtemp(prefix=f"stream_join_{etype}_")
            feeds[etype] = feed
            batch.where(F.col("event_type") == etype).repartitionByRange(
                4, "ts"
            ).write.mode("overwrite").parquet(feed)
            sides[etype] = (
                spark.readStream.format("parquet")
                .schema(batch.schema)
                .option("maxFilesPerTrigger", "1")
                .load(feed)
                .withWatermark("ts", "1 hour")
            )
        # Arrival order must approximate event-time order WITHIN each
        # source (the protocol invariant of _append_catchup_protocol):
        # the file source processes by mtime, and an out-of-order file
        # is genuinely LATE data the watermark correctly DROPS before
        # the join — real missing pairs, nondeterministically, since
        # unset mtimes are write-completion order. Range-partitioned
        # part files sort by ts within each feed; interleave the two
        # feeds' quartiles so neither source races a full month ahead.
        t0 = time.time() - 3600
        for i in range(4):
            for j, etype in enumerate(("click", "purchase")):
                parts = sorted(
                    glob.glob(os.path.join(feeds[etype], "part-*"))
                )
                if i < len(parts):
                    os.utime(parts[i], (t0 + 2 * i + j, t0 + 2 * i + j))
        c = sides["click"].select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        p = sides["purchase"].select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        joined = c.join(
            p,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
        ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return _lazy_result(
            spark, spark.read.parquet(out_dir), "stream_join_result_"
        )
    finally:
        for d in (out_dir, ckpt_dir, *feeds.values()):
            shutil.rmtree(d, ignore_errors=True)


@demo(
    "q_stream_join_left_append",
    sql="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT max(ts) - INTERVAL 90 MINUTE AS evict_cut FROM events),
    m AS (
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               c.ts AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts
        FROM c JOIN p
          ON p.user_id = c.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, click_id, purchase_id, click_ts, purchase_ts FROM m
    UNION ALL
    SELECT c.user_id, c.event_id, CAST(NULL AS BIGINT), c.ts,
           CAST(NULL AS TIMESTAMP)
    FROM c CROSS JOIN wm
    WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
      AND c.ts + INTERVAL 30 MINUTE < wm.evict_cut + INTERVAL 30 MINUTE
    """,
)
def q_stream_join_left_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join — the eviction-emission contract
    under the driver hash. Matches emit when found (as in
    ``q_stream_join_append``); an UNMATCHED click emits with NULL
    purchase columns only when the watermark passes the last instant a
    purchase could still match it (``click_ts + 30min``) — i.e. at
    state EVICTION, which is exactly what this demo pins: the emitted
    NULL rows are the clicks with ``click_ts + 30min < final
    watermark`` (``max(ts) − 1h``), while younger unmatched clicks
    stay IN STATE unemitted, as they would in production until later
    data closes them.

    Protocol: the inner-join demo's ordered two-feed setup, plus the
    clock-tick + checkpoint-restart discipline of
    ``q_stream_daily_agg_append`` applied to BOTH feeds — two
    sentinel rows per side at ``ts = max(real ts)`` (sentinel user ids
    −1/−2 can never join, and as perpetual in-state rows they are
    never emitted), because batch N plans with the watermark of
    batches ≤ N−1 and the trailing finalization batch is racy under
    AvailableNow. The oracle restates the whole contract in SQL:
    matched pairs unconditionally, NULL rows cut at the eviction
    horizon."""
    import tempfile

    batch = load_table(spark, sf_dir, "events")
    out_dir = tempfile.mkdtemp(prefix="stream_ljoin_out_")
    ckpt_dir = tempfile.mkdtemp(prefix="stream_ljoin_ckpt_")
    feeds: dict[str, str] = {}

    def _order_files() -> None:
        t0 = time.time() - 3600
        seqs = {
            e: sorted(glob.glob(os.path.join(feeds[e], "part-*")))
            for e in feeds
        }
        n = max(len(s) for s in seqs.values())
        k = 0
        for i in range(n):
            for e in ("click", "purchase"):
                if i < len(seqs[e]):
                    os.utime(seqs[e][i], (t0 + k, t0 + k))
                    k += 1

    def _run_catchup(joined: DataFrame) -> None:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    def _build_join() -> DataFrame:
        sides = {}
        for etype in ("click", "purchase"):
            sides[etype] = (
                spark.readStream.format("parquet")
                .schema(batch.schema)
                .option("maxFilesPerTrigger", "1")
                .load(feeds[etype])
                .withWatermark("ts", "1 hour")
            )
        c = sides["click"].select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        p = sides["purchase"].select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "left_outer",
        ).select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            "click_ts",
            "purchase_ts",
        )

    try:
        for etype in ("click", "purchase"):
            feed = tempfile.mkdtemp(prefix=f"stream_ljoin_{etype}_")
            feeds[etype] = feed
            batch.where(F.col("event_type") == etype).repartitionByRange(
                4, "ts"
            ).write.mode("overwrite").parquet(feed)
        _order_files()
        _run_catchup(_build_join())
        # clock ticks on BOTH feeds: sentinel users can never join and,
        # being the youngest rows in state, are never evicted/emitted
        max_ts = batch.agg(F.max("ts")).first()[0]
        for sentinel_uid, etype in ((-1, "click"), (-2, "purchase")):
            tick = (
                spark.createDataFrame([batch.first()], batch.schema)
                .withColumn("ts", F.lit(max_ts))
                .withColumn("user_id", F.lit(sentinel_uid).cast("long"))
                .withColumn("event_type", F.lit(etype))
            )
            for _ in range(2):
                tick.coalesce(1).write.mode("append").parquet(feeds[etype])
        _order_files()
        _run_catchup(_build_join())
        return _lazy_result(
            spark,
            spark.read.parquet(out_dir).where(F.col("user_id") >= 0),
            "stream_ljoin_result_",
        )
    finally:
        for d in (out_dir, ckpt_dir, *feeds.values()):
            shutil.rmtree(d, ignore_errors=True)


def _dup_screen_sql() -> str:
    from transit_efficiency_analysis_spark.demo.textprep import _K, _KG_SQL

    return f"""
    WITH {_KG_SQL},
    hits AS (
        SELECT DISTINCT a.doc_id, a.pos, a.pos + {_K} - 1 AS e
        FROM kg a JOIN kg b ON a.kgram = b.kgram
         AND (b.doc_id % 4 < a.doc_id % 4
              OR (b.doc_id % 4 = a.doc_id % 4 AND b.doc_id <> a.doc_id))
    ),
    m AS (
        SELECT doc_id, pos, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        FROM hits
    ),
    isl AS (
        SELECT doc_id, pos, e,
               sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM m
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_tokens,
           count(*) AS n_dup_starts
    FROM isl GROUP BY doc_id, island
    """


@demo("q_stream_dup_screen", sql=_dup_screen_sql())
def q_stream_dup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-at-ingest for the duplicated-span family: the
    documents table arrives as 4 event-ordered micro-batches
    (doc_id % 4, mtime-pinned like the other ordered feeds); each
    foreachBatch screens the batch against the MAINTAINED corpus
    k-gram table (operators/spans.py spans_against_kgram_set) plus
    within-batch duplicates, appends the batch's spans to the result,
    then appends the batch's distinct k-grams to the standing table —
    the production shape where a 100 TB corpus's k-gram index is
    appended per accepted batch, never recomputed. Since round 11 the
    append set is the MERGE-unique relation (only k-grams NOT already
    standing — operators/spans.py new_kgrams_for_append, the retention
    rule docs/SCALE.md measured: table bounded by distinct k-grams
    instead of growing per batch; screening is policy-invariant, proven
    by tools/bench_stream_kgram.py's per-batch span assertion, so the
    oracle is unchanged). The oracle is the one-shot SQL of the same
    batch-visibility rule ("a position is duplicated iff some
    occurrence exists in an EARLIER batch or in a different doc of the
    SAME batch"), so the driver hash proves the stream of batch screens
    equals the batch-semantics recompute. Per-batch cost: batch k-gram
    explode + one membership join + one anti-join against the standing
    table."""
    from transit_efficiency_analysis_spark.demo.textprep import _K
    from transit_efficiency_analysis_spark.operators.spans import (
        new_kgrams_for_append,
        spans_against_kgram_set,
    )

    batch = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feed_dir = tempfile.mkdtemp(prefix="stream_dupscreen_feed_")
    ckpt_dir = tempfile.mkdtemp(prefix="stream_dupscreen_ckpt_")
    result_dir = os.path.join(
        tempfile.mkdtemp(prefix="stream_dupscreen_res_"), "spans"
    )
    kgram_tbl = os.path.join(
        tempfile.mkdtemp(prefix="stream_dupscreen_kg_"), "kgrams"
    )

    def _kgram_set() -> DataFrame:
        if os.path.isdir(kgram_tbl) and any(
            p.startswith("part-") for p in os.listdir(kgram_tbl)
        ):
            return spark.read.parquet(kgram_tbl)
        return spark.createDataFrame([], "kgram long")

    def screen(bdf: DataFrame, _batch_id: int) -> None:
        spans_against_kgram_set(bdf, _kgram_set(), k=_K).write.mode(
            "append"
        ).parquet(result_dir)
        new_kgrams_for_append(bdf, _kgram_set(), k=_K).write.mode(
            "append"
        ).parquet(kgram_tbl)

    try:
        t0 = time.time() - 3600
        written: set[str] = set()
        for b in range(4):
            batch.where(F.col("doc_id") % 4 == b).coalesce(1).write.mode(
                "append"
            ).parquet(feed_dir)
            new = set(glob.glob(os.path.join(feed_dir, "part-*"))) - written
            for p in new:
                os.utime(p, (t0 + b, t0 + b))
            written |= new
        docs = (
            spark.readStream.format("parquet")
            .schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .load(feed_dir)
        )
        q = (
            docs.writeStream.foreachBatch(screen)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return lazy_result(
            spark, spark.read.parquet(result_dir), "stream_dup_screen_"
        )
    finally:
        for d in (
            feed_dir,
            ckpt_dir,
            os.path.dirname(result_dir),
            os.path.dirname(kgram_tbl),
        ):
            shutil.rmtree(d, ignore_errors=True)
