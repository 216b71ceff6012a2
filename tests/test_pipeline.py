"""End-to-end pipeline test: schedule ingest → two realtime polls →
consolidation, asserting delay arithmetic on the final table. This is the
whole reference system (three cron scripts + two databases) as three calls.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark import schemas
from transit_efficiency_analysis_spark.pipeline import (
    Store,
    consolidate,
    ingest_realtime,
    ingest_schedule,
)

CSVS = {
    "stop_times": """trip_id,arrival_time,departure_time,stop_id,stop_sequence
T1,10:30:00,10:31:00,100,1
T1,10:45:00,10:46:00,200,2
""",
    "trips": "trip_id,service_id,route_id\nT1,S1,R1\n",
    "calendar_dates": "service_id,date\nS1,20230615\n",
    "stops": "stop_id,stop_name,stop_lat,stop_lon\n100,Downtown,46.49,-80.99\n200,Uptown,46.52,-81.01\n",
    "routes": "route_id,route_long_name\nR1,Main Line\n",
}

# scheduled arrivals (UTC): stop1 14:30, stop2 14:45 (EDT +4)
ARR1 = int(datetime(2023, 6, 15, 14, 30).timestamp())
ARR2 = int(datetime(2023, 6, 15, 14, 45).timestamp())


def _feed(spark, poll_ts, updates):
    return spark.createDataFrame(
        [(poll_ts, [("T1", "20230615", updates)])], schemas.REALTIME_FEED_RAW
    )


@pytest.mark.slow
def test_full_pipeline(spark, tmp_path):
    csv_dir = tmp_path / "gtfs"
    csv_dir.mkdir()
    for name, content in CSVS.items():
        (csv_dir / f"{name}.txt").write_text(content)
    store = Store(str(tmp_path / "store"))

    gd = ingest_schedule(spark, str(csv_dir), store)
    assert gd.count() == 2

    # poll 1: stop 1 running 2 min late; poll 2 revises to 3 min late and
    # adds stop 2 on time
    ingest_realtime(
        spark,
        _feed(spark, datetime(2023, 6, 15, 14, 0), [(1, "100", ARR1 + 120, ARR1 + 180)]),
        store,
        weather=(801, "few clouds", 293.15),
    )
    tu = ingest_realtime(
        spark,
        _feed(
            spark,
            datetime(2023, 6, 15, 14, 5),
            [(1, "100", ARR1 + 180, ARR1 + 240), (2, "200", ARR2, None)],
        ),
        store,
        weather=(801, "few clouds", 293.15),
    )
    assert tu.count() == 2  # keep-newest collapsed the two stop-1 polls

    diffs = consolidate(spark, store)
    rows = {r["stop_sequence"]: r for r in diffs.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["arrival_time_diff_in_minutes"] == 3.0  # newest poll won
    assert rows[2]["arrival_time_diff_in_minutes"] == 0.0
    # stop 2 had no departure → epoch-0 default → NULL actual, 0.0 diff
    assert rows[2]["actual_departure_time"] is None
    assert rows[2]["departure_time_diff_in_minutes"] == 0.0
    assert rows[1]["weather_group"] == "Clouds"
    assert abs(rows[1]["temperature"] - 20.0) < 1e-9
    assert rows[1]["day_type"] == "Thursday"
    assert rows[1]["sudbury_hour_of_day"] == 10


@pytest.mark.slow
def test_audit_columns_from_injected_wallclock(spark, tmp_path):
    """ts-now production path (reference realtime_extractor.py:185,234):
    created_at/updated_at come from the processing wall clock — injected
    here for determinism, ``current_timestamp()`` in production — with the
    conditional-update suppression: an unchanged poll leaves the stored
    row's weather AND updated_at untouched."""
    csv_dir = tmp_path / "gtfs"
    csv_dir.mkdir()
    for name, content in CSVS.items():
        (csv_dir / f"{name}.txt").write_text(content)
    store = Store(str(tmp_path / "store"))
    ingest_schedule(spark, str(csv_dir), store)

    n1 = datetime(2023, 6, 15, 14, 0, 11)
    n2 = datetime(2023, 6, 15, 14, 5, 22)
    n3 = datetime(2023, 6, 15, 14, 10, 33)
    upd = [(1, "100", ARR1 + 120, ARR1 + 180)]

    # poll 1: insert → created_at = n1, updated_at NULL
    tu = ingest_realtime(
        spark,
        _feed(spark, datetime(2023, 6, 15, 14, 0), upd),
        store,
        weather=(800, "clear sky", 290.15),
        now=n1,
    )
    r = tu.collect()[0]
    assert r["created_at"] == n1 and r["updated_at"] is None

    # poll 2: identical times, NEW weather → suppressed: everything kept
    tu = ingest_realtime(
        spark,
        _feed(spark, datetime(2023, 6, 15, 14, 5), upd),
        store,
        weather=(501, "moderate rain", 280.15),
        now=n2,
    )
    r = tu.collect()[0]
    assert r["weather_group"] == "Clear"        # old weather retained
    assert r["created_at"] == n1 and r["updated_at"] is None

    # poll 3: arrival revised → update fires: new weather, updated_at = n3
    tu = ingest_realtime(
        spark,
        _feed(spark, datetime(2023, 6, 15, 14, 10), [(1, "100", ARR1 + 300, ARR1 + 360)]),
        store,
        weather=(600, "light snow", 270.15),
        now=n3,
    )
    r = tu.collect()[0]
    assert r["weather_group"] == "Snow"
    assert r["created_at"] == n1                # first-insert stamp immutable
    assert r["updated_at"] == n3                # last real change

    # production default: current_timestamp() → a real, recent stamp
    store2 = Store(str(tmp_path / "store2"))
    ingest_schedule(spark, str(csv_dir), store2)
    tu = ingest_realtime(spark, _feed(spark, datetime(2023, 6, 15, 14, 0), upd), store2)
    r = tu.collect()[0]
    assert r["created_at"] is not None and r["created_at"] > datetime(2026, 1, 1)


@pytest.mark.slow
def test_incremental_consolidation_equals_full(spark, tmp_path):
    from datetime import date

    from transit_efficiency_analysis_spark.pipeline import consolidate_incremental

    csv_dir = tmp_path / "gtfs"
    csv_dir.mkdir()
    csvs = dict(CSVS)
    # two service dates → two diffs partitions
    csvs["calendar_dates"] = "service_id,date\nS1,20230615\nS1,20230616\n"
    for name, content in csvs.items():
        (csv_dir / f"{name}.txt").write_text(content)
    store = Store(str(tmp_path / "store"))
    ingest_schedule(spark, str(csv_dir), store)

    arr1_d2 = ARR1 + 86400  # same local clock on the next service date
    ingest_realtime(
        spark,
        _feed(spark, datetime(2023, 6, 15, 14, 0), [(1, "100", ARR1 + 60, None)]),
        store,
    )
    ingest_realtime(
        spark,
        _feed_on(spark, datetime(2023, 6, 16, 14, 0), "20230616", [(1, "100", arr1_d2 + 300, None)]),
        store,
    )
    full = consolidate(spark, store)
    full_rows = sorted(map(str, full.collect()))

    # a revision arrives for day 2 only → incremental rebuild of that date
    ingest_realtime(
        spark,
        _feed_on(spark, datetime(2023, 6, 16, 14, 5), "20230616", [(1, "100", arr1_d2 + 600, None)]),
        store,
    )
    inc = consolidate_incremental(spark, store, [date(2023, 6, 16)])
    inc_rows = sorted(map(str, inc.collect()))

    # ground truth: full rebuild over the updated store
    truth = sorted(map(str, consolidate(spark, store).collect()))
    assert inc_rows == truth
    assert inc_rows != full_rows  # the day-2 revision actually changed things


def _feed_on(spark, poll_ts, date_str, updates):
    return spark.createDataFrame(
        [(poll_ts, [("T1", date_str, updates)])], schemas.REALTIME_FEED_RAW
    )


# -- the poll's touched-date set and its job count ----------------------------


def _local_feed(spark, poll_ts, entities):
    """One poll as the decoder hands it over: nested feed rows in a local
    relation built from an Arrow table, where a NULL ``start_date`` can
    occur."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from transit_efficiency_analysis_spark.sources.gtfs_realtime import _nullable

    ents = [
        {
            "trip_id": trip_id,
            "start_date": start_date,
            "stop_time_update": [
                {"stop_sequence": seq, "stop_id": stop, "arrival_unix": arr,
                 "departure_unix": dep}
                for seq, stop, arr, dep in updates
            ],
        }
        for trip_id, start_date, updates in entities
    ]
    table = pa.Table.from_pydict(
        {"poll_ts": [poll_ts], "entity": [ents]},
        schema=to_arrow_schema(_nullable(schemas.REALTIME_FEED_RAW)),
    )
    return spark.createDataFrame(table)


def _table_rows(df):
    return sorted(map(str, df.select(sorted(df.columns)).collect()))


@pytest.mark.slow
def test_poll_dates_cover_empty_updates_and_null_dates(spark, tmp_path):
    """The touched-date set comes from the nested feed, so it holds the
    date of an entity with no stop-time update and the NULL date. The
    committed table equals a merge of the batch into the whole table: a
    batch date missing from the set would lose that date's stored rows."""
    from transit_efficiency_analysis_spark import sinks
    from transit_efficiency_analysis_spark.operators.upsert import merge_batch
    from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
        apply_epoch0_default,
        decode_feed,
        enrich_weather,
    )

    store = Store(str(tmp_path / "store"))
    ingest_realtime(
        spark,
        _local_feed(spark, datetime(2023, 6, 15, 14, 0), [
            ("T0", "20230614", [(1, "100", ARR1 - 86400, None)]),
            ("T1", "20230615", [(1, "100", ARR1 + 60, None), (2, "200", ARR2, None)]),
            ("T3", "20230616", [(1, "100", ARR1 + 86400, None)]),
            ("TN", None, [(1, "100", ARR1, None)]),
        ]),
        store,
        now=datetime(2023, 6, 15, 14, 0, 5),
    )
    assert len(sinks.table_dates(store.trip_updates)) == 4

    now = datetime(2023, 6, 15, 14, 5, 5)
    feed = _local_feed(spark, datetime(2023, 6, 15, 14, 5), [
        ("T1", "20230615", [(1, "100", ARR1 + 120, None)]),
        ("T3", "20230616", []),  # no update: a date with no row
        ("TN2", None, [(1, "200", ARR2, None)]),
    ])
    batch = enrich_weather(apply_epoch0_default(decode_feed(feed)), None, None, None)
    batch = batch.withColumn("audit_ts", F.lit(now.isoformat(sep=" ")).cast("timestamp"))
    want = _table_rows(merge_batch(
        spark.read.parquet(store.trip_updates), batch, keys=list(schemas.PRIMARY_KEY),
        order_by=["poll_ts"], tracked=["arrival_time", "departure_time"], ts_col="audit_ts",
    ))

    got = ingest_realtime(spark, feed, store, now=now)
    assert _table_rows(got) == want
    assert _table_rows(spark.read.parquet(store.trip_updates)) == want
    assert len(want) == 6


@pytest.mark.slow
def test_poll_and_incremental_rebuild_run_no_schema_or_date_job(spark, tmp_path, count_jobs):
    """On a two-date store, a poll of a decoded (local) feed and an
    incremental rebuild run only their merge/join and write jobs: no
    footer-inference job for a read and no job to find the batch's
    dates. The counts are pinned; each extra read or date pass adds
    at least one."""
    from datetime import date

    from transit_efficiency_analysis_spark.pipeline import consolidate_incremental
    from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
        decode_protobuf_payloads,
    )
    from transit_efficiency_analysis_spark.sources.gtfs_rt_wire import encode_feed_message

    csv_dir = tmp_path / "gtfs"
    csv_dir.mkdir()
    csvs = dict(CSVS)
    csvs["calendar_dates"] = "service_id,date\nS1,20230615\nS1,20230616\n"
    for name, content in csvs.items():
        (csv_dir / f"{name}.txt").write_text(content)
    store = Store(str(tmp_path / "store"))
    ingest_schedule(spark, str(csv_dir), store)

    def poll(ts, arr):
        payload = encode_feed_message(ts, [
            ("T1", "20230615", [(1, "100", arr, None)]),
            ("T1", "20230616", [(1, "100", arr + 86400, None)]),
        ])
        raw = spark.createDataFrame([(bytearray(payload),)], "payload binary")
        return decode_protobuf_payloads(raw)  # its own collect, before the poll

    ingest_realtime(spark, poll(ARR1 - 1800, ARR1 + 60), store)
    consolidate(spark, store)
    feed = poll(ARR1 - 1500, ARR1 + 120)
    tu, poll_jobs = count_jobs(lambda: ingest_realtime(spark, feed, store))
    assert tu.count() == 2
    diffs, rebuild_jobs = count_jobs(
        lambda: consolidate_incremental(spark, store, [date(2023, 6, 15)])
    )
    assert diffs.count() == 2
    assert (poll_jobs, rebuild_jobs) == (2, 2)
