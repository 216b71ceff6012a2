"""Driver-verified ingest demos.

``q_ingest_gtfs_static`` exercises the real static-ingest pipeline
(CSV readers with explicit schemas → broadcast star join with calendar
fan-out → GTFS >=24h time parsing → PK dedup) on GTFS-shaped CSVs that are
generated deterministically from the testdata tables at demo time; the
DuckDB oracle reproduces the same expansion straight from the tables, so
the whole CSV→join→parse path is hash-verified, not just unit-tested.

``q_upsert_merge`` verifies the micro-batch merge kernel (union existing
state + incoming batch → keep newest per key) — the ``MERGE INTO`` body.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.demo import demo
from transit_efficiency_analysis_spark.operators.upsert import merge_batch
from transit_efficiency_analysis_spark.sources.gtfs_static import (
    build_gtfs_data,
    read_gtfs_static,
)
from transit_efficiency_analysis_spark.sources.registry import load_table

# GTFS-shaped views over testdata (kept tiny: suppliers as trips, region
# dates as service days, parts as stops — sizes bounded by dimension tables)
#
# trips:          one per supplier       (trip S<k>, service E/O by parity, route by nation)
# calendar_dates: two dates per parity class
# stop_times:     suppliers x 4 stops, clock derived from keys (incl >= 24h)
# stops/routes:   from part/nation keys


def _write_csvs(spark: SparkSession, sf_dir: str) -> str:
    out = os.path.join(
        tempfile.gettempdir(), f"teas_gtfs_demo_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    os.makedirs(out, exist_ok=True)
    # fixture generation is driver-side by design (writing CSV *inputs*),
    # so every collect is explicitly bounded + deterministically ordered:
    # 500 trips x 4 stops is plenty for the demo at any SF
    sup = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey").orderBy("s_suppkey").limit(500).collect()
    )
    parts = (
        load_table(spark, sf_dir, "part")
        .select("p_partkey").orderBy("p_partkey").limit(30).collect()
    )
    nations = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
    )

    with open(os.path.join(out, "trips.txt"), "w") as f:
        f.write("trip_id,service_id,route_id\n")
        for r in sup:
            k = r["s_suppkey"]
            f.write(f"S{k},{'EVEN' if k % 2 == 0 else 'ODD'},R{k % 5}\n")
    with open(os.path.join(out, "calendar_dates.txt"), "w") as f:
        f.write("service_id,date\n")
        f.write("EVEN,20230615\nEVEN,20230616\nODD,20230615\n")
    with open(os.path.join(out, "stop_times.txt"), "w") as f:
        f.write("trip_id,arrival_time,departure_time,stop_id,stop_sequence\n")
        for r in sup:
            k = r["s_suppkey"]
            for seq in range(1, 5):
                stop = parts[(k * 4 + seq) % len(parts)]["p_partkey"]
                h = 24 + (k + seq) % 3 * 3 if (k + seq) % 5 == 0 else 3 + (k + seq) % 21
                m = (k * 7 + seq) % 60
                f.write(f"S{k},{h:02d}:{m:02d}:00,{h:02d}:{m:02d}:30,{stop},{seq}\n")
    with open(os.path.join(out, "stops.txt"), "w") as f:
        f.write("stop_id,stop_name,stop_lat,stop_lon\n")
        for r in parts:
            p = r["p_partkey"]
            f.write(f"{p},stop_{p},{46 + (p % 100) / 100.0},{-81 + (p % 50) / 100.0}\n")
    with open(os.path.join(out, "routes.txt"), "w") as f:
        f.write("route_id,route_long_name\n")
        for i in range(5):
            name = nations[i % len(nations)]["n_name"]
            f.write(f"R{i},{name} line\n")
    return out


_GTFS_ORACLE = """
WITH sup AS (SELECT s_suppkey AS k
             FROM (SELECT s_suppkey FROM supplier ORDER BY s_suppkey LIMIT 500)),
parts AS (SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS idx
          FROM (SELECT p_partkey FROM part ORDER BY p_partkey LIMIT 30)),
np AS (SELECT count(*) AS n FROM parts),
nat AS (SELECT n_name, row_number() OVER (ORDER BY n_nationkey) - 1 AS idx FROM nation),
st AS (
    SELECT 'S' || CAST(k AS VARCHAR) AS trip_id,
           CASE WHEN k % 2 = 0 THEN 'EVEN' ELSE 'ODD' END AS service_id,
           'R' || CAST(k % 5 AS VARCHAR) AS route_id,
           seq AS stop_sequence,
           (SELECT p_partkey FROM parts, np WHERE idx = (k * 4 + seq) % n) AS stop_id,
           CASE WHEN (k + seq) % 5 = 0 THEN 24 + (k + seq) % 3 * 3
                ELSE 3 + (k + seq) % 21 END AS h,
           (k * 7 + seq) % 60 AS m
    FROM sup CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS seq)
),
cal AS (
    SELECT * FROM (VALUES ('EVEN', '20230615'), ('EVEN', '20230616'), ('ODD', '20230615'))
        t(service_id, date_str)
),
expanded AS (
    SELECT st.*, cal.date_str FROM st JOIN cal ON st.service_id = cal.service_id
)
SELECT trip_id,
       CAST(strptime(date_str, '%Y%m%d') AS DATE) AS start_date,
       CAST(stop_sequence AS BIGINT) AS stop_sequence,
       stop_id,
       route_id,
       'stop_' || CAST(stop_id AS VARCHAR) AS stop_name,
       (SELECT n_name FROM nat WHERE idx = CAST(substr(route_id, 2) AS INTEGER) % 25)
           || ' line' AS route_long_name,
       timezone('UTC', timezone('America/Toronto', make_timestamp(
           CAST(year(d2) AS BIGINT), CAST(month(d2) AS BIGINT), CAST(day(d2) AS BIGINT),
           CAST(h % 24 AS BIGINT), CAST(m AS BIGINT), 0.0))) AS arrival_time,
       timezone('UTC', timezone('America/Toronto', make_timestamp(
           CAST(year(d2) AS BIGINT), CAST(month(d2) AS BIGINT), CAST(day(d2) AS BIGINT),
           CAST(h % 24 AS BIGINT), CAST(m AS BIGINT), 30.0))) AS departure_time,
       CAST(46 + (stop_id % 100) / 100.0 AS VARCHAR) || ', '
           || CAST(-81 + (stop_id % 50) / 100.0 AS VARCHAR) AS geo_coordinates
FROM (
    SELECT e.*, CAST(strptime(e.date_str, '%Y%m%d') AS DATE) + to_days(CAST(e.h // 24 AS INTEGER)) AS d2
    FROM expanded e
)
"""


@demo("q_ingest_gtfs_static", sql=_GTFS_ORACLE)
def q_ingest_gtfs_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the full static-ingest pipeline on generated GTFS CSVs: schema'd CSV
    scan → broadcast star join (calendar fan-out) → gtfs_time_to_utc
    (>=24h rollover) → gtfs_data projection."""
    csv_dir = _write_csvs(spark, sf_dir)
    return build_gtfs_data(read_gtfs_static(spark, csv_dir))


# ---------------------------------------------------------------------------
# GTFS-RT protobuf decode (reference realtime_extractor.py:97-118): a
# deterministic .pb fixture feed is wire-ENCODED from a trip spec, then
# decoded back through the real ingest path (driver-side wire decode →
# explode). The DuckDB oracle is a VALUES literal generated from the SAME
# spec — so the gate verifies encode∘decode = identity plus the unix→
# timestamp, NULL-presence, explode, and vehicle-entity-skip semantics.

_RT_POLL_UNIX = 1767268700  # 2026-01-01 11:58:20 UTC


def _rt_trip_spec() -> list[tuple[int, str, str, list]]:
    """(payload_row, trip_id, start_date, updates) — 40 trips over 4
    payload rows; update counts 0-4, arrival/departure presence varied,
    multi-byte varints (stop_sequence > 127, times > 2^31)."""
    trips = []
    for k in range(40):
        updates = []
        for s in range(1, (k % 5) + 1):
            seq = s if k % 7 else 120 + 10 * k + s
            base = 1767268800 + 60 * k + 10 * s
            arr = base if (k + s) % 3 != 0 else None
            dep = base + 30 if (k + s) % 4 != 0 else None
            updates.append((seq, f"STOP{(k * 3 + s) % 11}", arr, dep))
        trips.append((k % 4, f"T{k:03d}", "20260101", updates))
    return trips


def _rt_oracle_sql() -> str:
    rows = []
    for payload_row, trip_id, _date, updates in _rt_trip_spec():
        poll = _RT_POLL_UNIX + payload_row
        for seq, stop_id, arr, dep in updates:
            ts = lambda u: (  # noqa: E731
                f"to_timestamp({u})" if u is not None else "CAST(NULL AS TIMESTAMPTZ)"
            )
            rows.append(
                f"('{trip_id}', DATE '2026-01-01', CAST({seq} AS INTEGER), "
                f"'{stop_id}', {ts(arr)}, {ts(dep)}, to_timestamp({poll}))"
            )
    values = ",\n        ".join(rows)
    return f"""
    SELECT trip_id, start_date, stop_sequence, stop_id,
           CAST(arrival_time AS TIMESTAMP) AS arrival_time,
           CAST(departure_time AS TIMESTAMP) AS departure_time,
           CAST(poll_ts AS TIMESTAMP) AS poll_ts
    FROM (VALUES
        {values}
    ) t(trip_id, start_date, stop_sequence, stop_id,
        arrival_time, departure_time, poll_ts)
    """


@demo("q_ingest_gtfs_rt", sql=_rt_oracle_sql())
def q_ingest_gtfs_rt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the realtime-ingest decode path on staged .pb payloads: binary wire
    rows → driver-side decode (bundled pure-Python GTFS-RT parser) →
    explode to one row per (trip, stop_time_update), absent arrival/
    departure → NULL, non-trip entities skipped."""
    from datetime import datetime, timezone

    from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
        decode_feed,
        decode_protobuf_payloads,
    )
    from transit_efficiency_analysis_spark.sources.gtfs_rt_wire import (
        encode_feed_message,
    )

    by_payload: dict[int, list] = {}
    for payload_row, trip_id, date, updates in _rt_trip_spec():
        by_payload.setdefault(payload_row, []).append((trip_id, date, updates))
    rows = [
        (
            datetime.fromtimestamp(_RT_POLL_UNIX + i, tz=timezone.utc).replace(
                tzinfo=None
            ),
            bytearray(encode_feed_message(_RT_POLL_UNIX + i, trips)),
        )
        for i, trips in sorted(by_payload.items())
    ]
    payloads = spark.createDataFrame(rows, "poll_ts timestamp, payload binary")
    return decode_feed(decode_protobuf_payloads(payloads))


@demo(
    "q_upsert_merge",
    sql="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM (
            SELECT * FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT * FROM events WHERE event_id % 2 = 1
        )
    ) WHERE rn = 1
    """,
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """micro-batch merge: existing state (even events) + incoming batch
    (odd events) → keep newest per (user, type) — the MERGE INTO body."""
    e = load_table(spark, sf_dir, "events")
    existing = e.where(F.col("event_id") % 2 == 0)
    incoming = e.where(F.col("event_id") % 2 == 1)
    merged = merge_batch(
        existing, incoming, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    )
    return merged.select("user_id", "event_type", "event_id", "ts", "value")
