"""Static GTFS ingest: 5 schedule CSVs → expanded ``gtfs_data`` table.

Replaces reference ``scripts/historical_extractor.py`` (HTTP zip fetch →
chunked pandas merges → per-row INSERT) with one declarative plan:
``spark.read.csv(schema)`` → broadcast star join → pure-column time
expressions → projection → (caller writes Parquet). The 5000-row chunking
(``historical_extractor.py:24``) is obsolete — Spark partitions the scan;
the per-row ``ON CONFLICT DO NOTHING`` sink (``:84-88``) becomes
``upsert_ignore`` + a set-based write.

Scale: stop_times is the fact (billions of rows at 100 TB-scale feeds);
trips/calendar_dates/stops/routes are small dimensions → explicit
``broadcast()`` keeps the star join shuffle-free. The calendar_dates join
fans out one expanded row per (schedule row × service date), exactly like
the reference's merge (``historical_extractor.py:63-67``).
"""

from __future__ import annotations

import io
import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark import schemas
from transit_efficiency_analysis_spark.functions.time import (
    gtfs_time_to_utc,
    yyyymmdd_to_date,
)

GTFS_FILES = {
    "stop_times": schemas.GTFS_STOP_TIMES,
    "trips": schemas.GTFS_TRIPS,
    "calendar_dates": schemas.GTFS_CALENDAR_DATES,
    "stops": schemas.GTFS_STOPS,
    "routes": schemas.GTFS_ROUTES,
}


def extract_zip(zip_bytes: bytes, out_dir: str) -> dict[str, str]:
    """Driver-side unzip of a gtfs.zip payload (the HTTP fetch itself is
    orchestration, not an engine operator — SURVEY §2.1 src-http-zip).
    Returns {table: csv_path}."""
    paths = {}
    with zipfile.ZipFile(io.BytesIO(zip_bytes)) as zf:
        for name in GTFS_FILES:
            member = f"{name}.txt"
            zf.extract(member, out_dir)
            paths[name] = os.path.join(out_dir, member)
    return paths


def read_gtfs_static(spark: SparkSession, csv_dir: str) -> dict[str, DataFrame]:
    """Read the 5 GTFS CSVs with explicit schemas (no inference —
    SURVEY §1.2 'schema system')."""
    out = {}
    for name, schema in GTFS_FILES.items():
        out[name] = spark.read.csv(
            os.path.join(csv_dir, f"{name}.txt"), header=True, schema=schema
        )
    return out


def build_gtfs_data(tables: dict[str, DataFrame], tz: str = "America/Toronto") -> DataFrame:
    """Star-join denormalization + GTFS time parsing → ``schemas.GTFS_DATA``.

    Mirrors ``historical_extractor.py:61-81``: inner merges on
    trip_id/service_id/stop_id/route_id (duplicate service dates fan out),
    ``gtfs_time_to_utc`` on arrival/departure against the service date,
    yyyyMMdd → DATE rename to start_date, lat/lon stringified into
    ``geo_coordinates``.
    """
    st = tables["stop_times"]
    joined = (
        st.join(F.broadcast(tables["trips"]), "trip_id")
        .join(F.broadcast(tables["calendar_dates"]), "service_id")
        .join(F.broadcast(tables["stops"]), "stop_id")
        .join(F.broadcast(tables["routes"]), "route_id")
    )
    return joined.select(
        F.col("trip_id"),
        yyyymmdd_to_date("date").alias("start_date"),
        F.col("stop_sequence"),
        F.col("stop_id"),
        F.col("route_id"),
        F.col("stop_name"),
        F.col("route_long_name"),
        gtfs_time_to_utc("date", "arrival_time", tz).alias("arrival_time"),
        gtfs_time_to_utc("date", "departure_time", tz).alias("departure_time"),
        # the reference stringifies python float repr; shortest-repr of a
        # double is identical in Spark's cast-to-string for non-edge values
        F.concat_ws(
            ", ", F.col("stop_lat").cast("string"), F.col("stop_lon").cast("string")
        ).alias("geo_coordinates"),
    )

