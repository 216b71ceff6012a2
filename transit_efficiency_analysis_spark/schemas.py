"""Explicit StructType schemas for the engine's tables (SURVEY.md §1.2-1.3).

The reference declares schemas as hand-written Postgres DDL
(``README.md:108-167``) and lets pandas infer CSV types; here every
production read uses an explicit schema (no inference): the source CSVs and
feeds with the StructTypes below, and a table the engine wrote with the
schema its writer recorded in the parquet footer (``sinks.read_table``), or
with the written DataFrame's own schema right after the write. Only the
demo inputs that ``sources/registry.py`` loads are read as their files
declare. Truth follows the reference *code*, not its stale DDL — e.g.
``temperature`` is included (``scripts/realtime_extractor.py:204-207``).

Key semantic choices carried over:
- ``trip_updates.stop_id`` is a STRING (realtime feed delivers text) while
  ``gtfs_data.stop_id`` is LONG — the cast happens in the join condition,
  exactly as the reference does (``scripts/diff_times.py:101``).
- all timestamps are UTC instants (``TimestampType`` with session tz UTC).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: composite upsert/dedup identity shared by all three tables (README.md:120,137,165)
PRIMARY_KEY = ["trip_id", "start_date", "stop_sequence", "stop_id"]

GTFS_DATA = T.StructType(
    [
        T.StructField("trip_id", T.StringType(), False),
        T.StructField("start_date", T.DateType(), False),
        T.StructField("stop_sequence", T.LongType(), False),
        T.StructField("stop_id", T.LongType(), False),
        T.StructField("route_id", T.StringType(), True),
        T.StructField("stop_name", T.StringType(), True),
        T.StructField("route_long_name", T.StringType(), True),
        T.StructField("arrival_time", T.TimestampType(), True),
        T.StructField("departure_time", T.TimestampType(), True),
        T.StructField("geo_coordinates", T.StringType(), True),
    ]
)

TRIP_UPDATES = T.StructType(
    [
        T.StructField("trip_id", T.StringType(), False),
        T.StructField("start_date", T.DateType(), False),
        T.StructField("stop_sequence", T.IntegerType(), False),
        T.StructField("stop_id", T.StringType(), False),  # string on purpose
        T.StructField("arrival_time", T.TimestampType(), True),
        T.StructField("departure_time", T.TimestampType(), True),
        T.StructField("weather_group", T.StringType(), True),
        T.StructField("weather_description", T.StringType(), True),
        T.StructField("temperature", T.DoubleType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

#: output of the delay consolidation (FIXTURES.md §6; README.md:141-167 + temperature)
TRIP_UPDATES_WITH_DIFFS_COLUMNS = [
    "trip_id",
    "start_date",
    "stop_sequence",
    "stop_id",
    "route_id",
    "stop_name",
    "route_long_name",
    "actual_arrival_time",
    "scheduled_arrival_time",
    "arrival_time_diff_in_minutes",
    "actual_departure_time",
    "scheduled_departure_time",
    "departure_time_diff_in_minutes",
    "average_diff_in_minutes",
    "weather_group",
    "weather_description",
    "temperature",
    "day_type",
    "sudbury_hour_of_day",
    "geo_coordinates",
    "created_at",
    "updated_at",
]

# --- GTFS static source files (5 CSVs inside gtfs.zip; historical_extractor.py:54-58)

GTFS_STOP_TIMES = T.StructType(
    [
        T.StructField("trip_id", T.StringType(), False),
        T.StructField("arrival_time", T.StringType(), True),  # HH:MM:SS, H may be >= 24
        T.StructField("departure_time", T.StringType(), True),
        T.StructField("stop_id", T.LongType(), False),
        T.StructField("stop_sequence", T.LongType(), False),
    ]
)

GTFS_TRIPS = T.StructType(
    [
        T.StructField("trip_id", T.StringType(), False),
        T.StructField("service_id", T.StringType(), False),
        T.StructField("route_id", T.StringType(), False),
    ]
)

GTFS_CALENDAR_DATES = T.StructType(
    [
        T.StructField("service_id", T.StringType(), False),
        T.StructField("date", T.StringType(), False),  # yyyyMMdd
    ]
)

GTFS_STOPS = T.StructType(
    [
        T.StructField("stop_id", T.LongType(), False),
        T.StructField("stop_name", T.StringType(), True),
        T.StructField("stop_lat", T.DoubleType(), True),
        T.StructField("stop_lon", T.DoubleType(), True),
    ]
)

GTFS_ROUTES = T.StructType(
    [
        T.StructField("route_id", T.StringType(), False),
        T.StructField("route_long_name", T.StringType(), True),
    ]
)

#: nested realtime feed row (pre-decoded protobuf shape; FIXTURES.md §4)
REALTIME_FEED_RAW = T.StructType(
    [
        T.StructField("poll_ts", T.TimestampType(), False),
        T.StructField(
            "entity",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("trip_id", T.StringType(), False),
                        T.StructField("start_date", T.StringType(), False),
                        T.StructField(
                            "stop_time_update",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("stop_sequence", T.IntegerType(), False),
                                        T.StructField("stop_id", T.StringType(), False),
                                        T.StructField("arrival_unix", T.LongType(), True),
                                        T.StructField("departure_unix", T.LongType(), True),
                                    ]
                                )
                            ),
                            True,
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)
