"""Realtime GTFS-RT ingest: nested feed → flat ``trip_updates`` rows.

Replaces reference ``scripts/realtime_extractor.py:97-118`` (protobuf
``ParseFromString`` + python loops → pandas rows) with the UDTF shape:
nested struct rows → ``explode`` → column expressions.

- ``decode_protobuf_payloads`` turns raw ``.pb`` payloads into nested feed
  rows (``schemas.REALTIME_FEED_RAW``). It is the one decode path. It
  collects the payloads and parses them on the driver with the bundled
  pure-Python wire decoder (``sources/gtfs_rt_wire.py``: public protobuf
  wire format and public GTFS-RT field numbers, no runtime deps), which
  covers the five leaves the reference reads from its generated bindings
  (``lib/gtfs_realtime_pb2.py``). A poll is one payload of about 155 KB,
  so the driver holds O(payload) memory, and no pandas/Arrow Python
  worker runs: the decoded rows are a local relation.
- ``decode_feed`` explodes nested feed rows, from that decoder or any
  upstream one, into one row per stop-time update with pure column
  projections.
- ``feed_dates`` reads the service dates a feed touches straight from its
  nested entities, so a poll knows which ``start_date`` partitions it
  rewrites before any row is exploded.

Missing arrival/departure in an update is NULL (``realtime_extractor.py:
107-108``); persisting with epoch-0 DEFAULT semantics is the writer's
choice (``apply_epoch0_default``), reproducing the reference DDL
(``README.md:131-132``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transit_efficiency_analysis_spark import schemas
from transit_efficiency_analysis_spark.functions.time import yyyymmdd_to_date
from transit_efficiency_analysis_spark.functions.weather import (
    kelvin_to_celsius,
    weather_group_for_id,
)


def decode_feed(feed: DataFrame) -> DataFrame:
    """Nested feed rows (``schemas.REALTIME_FEED_RAW``) → one row per
    (trip, stop_time_update), timestamps from unix seconds, NULL when the
    field is absent."""
    entities = feed.select(
        "poll_ts", F.explode("entity").alias("e")
    ).select(
        "poll_ts",
        F.col("e.trip_id").alias("trip_id"),
        F.col("e.start_date").alias("start_date_str"),
        F.explode("e.stop_time_update").alias("u"),
    )
    return entities.select(
        F.col("trip_id"),
        yyyymmdd_to_date("start_date_str").alias("start_date"),
        F.col("u.stop_sequence").alias("stop_sequence"),
        F.col("u.stop_id").alias("stop_id"),
        F.timestamp_seconds("u.arrival_unix").alias("arrival_time"),
        F.timestamp_seconds("u.departure_unix").alias("departure_time"),
        F.col("poll_ts"),
    )


def feed_dates(feed: DataFrame) -> list:
    """The distinct service dates of ``feed``'s entities (nested feed rows,
    ``schemas.REALTIME_FEED_RAW``), parsed as ``decode_feed`` parses them;
    None stands for a NULL date.

    A superset of the dates of ``decode_feed(feed)``: an entity with no
    stop-time update adds its date here but no row there. Over a local
    relation (a decoded poll) the projection folds into the relation, so
    the collect runs no Spark job."""
    dates = F.array_distinct(
        F.transform("entity", lambda e: yyyymmdd_to_date(e["start_date"]))
    )
    return list({d for row in feed.select(dates).collect() for d in row[0] or ()})


def apply_epoch0_default(df: DataFrame) -> DataFrame:
    """NULL arrival/departure → epoch-0 sentinel (the column DEFAULT in the
    reference's DDL, ``README.md:131-132``)."""
    epoch0 = F.timestamp_seconds(F.lit(0))
    return df.withColumns(
        {c: F.coalesce(c, epoch0) for c in ("arrival_time", "departure_time")}
    )


def enrich_weather(
    df: DataFrame,
    weather_id: int | None,
    weather_description: str | None,
    temperature_kelvin: float | None,
) -> DataFrame:
    """Denormalize a driver-side weather observation onto every row of the
    micro-batch as literal columns (``realtime_extractor.py:181-204``) —
    id → coarse group bucket, Kelvin → Celsius. None → NULL columns (the
    rate-limited no-call case)."""
    if weather_id is None:
        return df.withColumns(
            {
                "weather_group": F.lit(None).cast("string"),
                "weather_description": F.lit(None).cast("string"),
                "temperature": F.lit(None).cast("double"),
            }
        )
    return df.withColumns(
        {
            "weather_group": weather_group_for_id(F.lit(weather_id)),
            "weather_description": F.lit(weather_description),
            "temperature": kelvin_to_celsius(F.lit(float(temperature_kelvin))),
        }
    )


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nested field and array element nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    return dt


def decode_protobuf_payloads(payloads: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Raw GTFS-RT ``.pb`` binary payloads → nested feed rows in the
    ``schemas.REALTIME_FEED_RAW`` shape, decoded on the driver.

    The payload column (and ``poll_ts`` when present) is collected, each
    payload is parsed by ``gtfs_rt_wire.parse_feed_message`` (reference
    ``scripts/realtime_extractor.py:97-118``), and the rows come back as a
    local relation built from an Arrow table. ``poll_ts`` comes from the
    input column of that name when present, else from the feed header's
    own timestamp.

    The Arrow types are ``REALTIME_FEED_RAW``'s with every field nullable:
    ``createDataFrame`` of an Arrow table rebuilds nested lists and
    rejects a non-nullable nested field. ``decode_feed`` reads fields by
    name, so the nullability does not reach the flat rows.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from transit_efficiency_analysis_spark.sources.gtfs_rt_wire import parse_feed_message

    has_poll_ts = "poll_ts" in payloads.columns
    cols = [F.col(payload_col)] + ([F.unix_micros("poll_ts")] if has_poll_ts else [])
    polls, entities = [], []
    for row in payloads.select(*cols).collect():
        header_ts, ents = parse_feed_message(bytes(row[0]))
        if has_poll_ts:
            polls.append(row[1])
        else:
            polls.append(None if header_ts is None else header_ts * 1_000_000)
        entities.append(ents)
    table = pa.Table.from_pydict(
        {"poll_ts": polls, "entity": entities},
        schema=to_arrow_schema(_nullable(schemas.REALTIME_FEED_RAW)),
    )
    return payloads.sparkSession.createDataFrame(table)


# The product benchmark (perfbench/run.py) still imports this name; it
# goes once the benchmark calls decode_protobuf_payloads directly.
decode_protobuf_payloads_auto = decode_protobuf_payloads
