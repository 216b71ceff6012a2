"""Golden tests for the ingest layer (FIXTURES.md §1/§4/§5.5).

Static: CSV → star join fan-out → GTFS time parsing → gtfs_data shape.
Realtime: nested feed struct → explode → trip_updates rows with NULL /
epoch-0 sentinel handling and weather enrichment.
"""

from __future__ import annotations

from datetime import date, datetime

import pytest

from transit_efficiency_analysis_spark import schemas
from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
    apply_epoch0_default,
    decode_feed,
    enrich_weather,
)
from transit_efficiency_analysis_spark.sources.gtfs_static import (
    build_gtfs_data,
    read_gtfs_static,
)

STOP_TIMES = """trip_id,arrival_time,departure_time,stop_id,stop_sequence
T1,10:30:00,10:31:00,100,1
T1,25:15:00,25:16:00,200,2
T2,08:00:00,08:05:00,100,1
"""
TRIPS = """trip_id,service_id,route_id
T1,S1,R1
T2,S2,R1
"""
CALENDAR_DATES = """service_id,date
S1,20230615
S1,20230616
S2,20230615
"""
STOPS = """stop_id,stop_name,stop_lat,stop_lon
100,Downtown,46.49,-80.99
200,Uptown,46.52,-81.01
"""
ROUTES = """route_id,route_long_name
R1,Main Line
"""


@pytest.fixture(scope="module")
def gtfs_data(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("gtfs")
    for name, content in [
        ("stop_times", STOP_TIMES),
        ("trips", TRIPS),
        ("calendar_dates", CALENDAR_DATES),
        ("stops", STOPS),
        ("routes", ROUTES),
    ]:
        (d / f"{name}.txt").write_text(content)
    return build_gtfs_data(read_gtfs_static(spark, str(d)))


def test_calendar_fanout_and_columns(gtfs_data):
    rows = gtfs_data.collect()
    # T1 has 2 service dates x 2 stops + T2 has 1 date x 1 stop = 5 rows
    assert len(rows) == 5
    assert gtfs_data.columns == [f.name for f in schemas.GTFS_DATA.fields]


def test_time_parse_and_rollover(gtfs_data):
    by_key = {(r["trip_id"], r["start_date"], r["stop_sequence"]): r for r in gtfs_data.collect()}
    r = by_key[("T1", date(2023, 6, 15), 1)]
    # 10:30 EDT on 2023-06-15 → 14:30 UTC
    assert r["arrival_time"] == datetime(2023, 6, 15, 14, 30)
    # >= 24h rollover lands on the service date + 1 but keeps start_date
    r2 = by_key[("T1", date(2023, 6, 15), 2)]
    assert r2["arrival_time"] == datetime(2023, 6, 16, 5, 15)
    assert r2["start_date"] == date(2023, 6, 15)


def test_geo_concat(gtfs_data):
    r = next(r for r in gtfs_data.collect() if r["stop_id"] == 100)
    assert r["geo_coordinates"] == "46.49, -80.99"


@pytest.fixture(scope="module")
def feed_df(spark):
    rows = [
        (
            datetime(2026, 1, 1, 12, 0),
            [
                (
                    "T1",
                    "20260101",
                    [
                        (1, "100", 1767268800, 1767268860),  # both present
                        (2, "200", None, 1767269400),  # arrival absent
                        (3, "300", None, None),  # both absent
                    ],
                ),
                ("T2", "20260101", None),  # no updates at all
            ],
        )
    ]
    return spark.createDataFrame(rows, schemas.REALTIME_FEED_RAW)


def test_decode_feed_explodes_and_nulls(feed_df):
    out = decode_feed(feed_df).collect()
    assert len(out) == 3  # T2 (no stop updates) contributes nothing
    by_seq = {r["stop_sequence"]: r for r in out}
    assert by_seq[1]["arrival_time"] == datetime(2026, 1, 1, 12, 0)
    assert by_seq[1]["stop_id"] == "100"  # stays string (cast only at join)
    assert by_seq[2]["arrival_time"] is None
    assert by_seq[3]["arrival_time"] is None and by_seq[3]["departure_time"] is None
    assert by_seq[2]["start_date"] == date(2026, 1, 1)


def test_epoch0_default(feed_df):
    out = apply_epoch0_default(decode_feed(feed_df)).collect()
    by_seq = {r["stop_sequence"]: r for r in out}
    assert by_seq[2]["arrival_time"] == datetime(1970, 1, 1)  # NULL → sentinel
    assert by_seq[1]["arrival_time"] == datetime(2026, 1, 1, 12, 0)  # untouched


def test_weather_enrichment(feed_df):
    decoded = decode_feed(feed_df)
    out = enrich_weather(decoded, 501, "moderate rain", 283.15).collect()[0]
    assert out["weather_group"] == "Rain"
    assert out["weather_description"] == "moderate rain"
    assert abs(out["temperature"] - 10.0) < 1e-9
    none_out = enrich_weather(decoded, None, None, None).collect()[0]
    assert none_out["weather_group"] is None and none_out["temperature"] is None


# --- raw .pb wire decode (sources/gtfs_rt_wire.py) -------------------------
# Tiny proto2 wire ENCODER, test-only: varint + length-delimited framing per
# the public protobuf encoding spec; field numbers per public gtfs-realtime
# spec. Lets us synthesize byte-exact .pb payloads without any proto runtime.


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


def _field(num: int, wire: int, payload: bytes) -> bytes:
    return _varint((num << 3) | wire) + payload


def _msg(num: int, body: bytes) -> bytes:
    return _field(num, 2, _varint(len(body)) + body)


def _string(num: int, s: str) -> bytes:
    raw = s.encode()
    return _field(num, 2, _varint(len(raw)) + raw)


def _stop_time_event(t: int) -> bytes:
    return _field(2, 0, _varint(t))  # StopTimeEvent.time = 2


def _stop_time_update(seq: int, stop_id: str, arr: int | None, dep: int | None) -> bytes:
    body = _field(1, 0, _varint(seq))  # stop_sequence = 1
    if arr is not None:
        body += _msg(2, _stop_time_event(arr))  # arrival = 2
    if dep is not None:
        body += _msg(3, _stop_time_event(dep))  # departure = 3
    body += _string(4, stop_id)  # stop_id = 4
    return body


def _feed_bytes(header_ts: int, trips: list) -> bytes:
    header = _string(1, "2.0") + _field(3, 0, _varint(header_ts))  # version, timestamp
    out = _msg(1, header)
    for trip_id, start_date, updates in trips:
        trip = _string(1, trip_id) + _string(3, start_date)  # TripDescriptor 1/3
        tu = _msg(1, trip)
        for u in updates:
            tu += _msg(2, _stop_time_update(*u))  # stop_time_update = 2
        entity = _string(1, trip_id) + _msg(3, tu)  # FeedEntity.id, .trip_update
        out += _msg(2, entity)
    # a vehicle-position-only entity (field 4) must be skipped by the decoder
    out += _msg(2, _string(1, "veh") + _msg(4, _string(8, "V1")))
    return out


POLL = datetime(2026, 1, 1, 12, 0)
PB_TRIPS = [
    ("T1", "20260101", [(1, "100", 1767268800, 1767268860), (2, "200", None, 1767269400)]),
    ("T2", "20260101", []),
]


def test_wire_parse_feed_message():
    from transit_efficiency_analysis_spark.sources.gtfs_rt_wire import parse_feed_message

    header_ts, ents = parse_feed_message(_feed_bytes(1767268700, PB_TRIPS))
    assert header_ts == 1767268700
    assert [e["trip_id"] for e in ents] == ["T1", "T2"]  # vehicle entity skipped
    u1, u2 = ents[0]["stop_time_update"]
    assert u1 == {
        "stop_sequence": 1, "stop_id": "100",
        "arrival_unix": 1767268800, "departure_unix": 1767268860,
    }
    assert u2["arrival_unix"] is None and u2["departure_unix"] == 1767269400
    # multi-byte varints: stop_sequence 300 and a large timestamp survive
    _, big = parse_feed_message(
        _feed_bytes(0, [("T3", "20260101", [(300, "5", 2**33, None)])])
    )
    assert big[0]["stop_time_update"][0]["stop_sequence"] == 300
    assert big[0]["stop_time_update"][0]["arrival_unix"] == 2**33


def test_decode_protobuf_payloads_end_to_end(spark):
    """Raw .pb bytes → driver-side wire decode → decode_feed explode: the
    fully ungated realtime ingest path (reference realtime_extractor.py:
    97-118 parse_pb_data equivalent)."""
    from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
        decode_protobuf_payloads,
    )

    payload = _feed_bytes(int(POLL.timestamp()), PB_TRIPS)
    df = spark.createDataFrame(
        [(POLL, bytearray(payload))], "poll_ts timestamp, payload binary"
    )
    flat = decode_feed(decode_protobuf_payloads(df)).collect()
    assert len(flat) == 2
    by_seq = {r["stop_sequence"]: r for r in flat}
    assert by_seq[1]["trip_id"] == "T1" and by_seq[1]["stop_id"] == "100"
    assert by_seq[1]["arrival_time"] == datetime(2026, 1, 1, 12, 0)
    assert by_seq[2]["arrival_time"] is None  # absent arrival → NULL
    assert by_seq[1]["poll_ts"] == POLL

    # no poll_ts column → falls back to the feed header timestamp
    df2 = spark.createDataFrame([(bytearray(payload),)], "payload binary")
    rows = decode_protobuf_payloads(df2).select("poll_ts").collect()
    assert rows[0]["poll_ts"] == datetime.utcfromtimestamp(int(POLL.timestamp()))

    # two payloads in one DataFrame: each row keeps its own poll_ts (from
    # the column, else from its own header), and a payload holding only a
    # vehicle entity decodes to a feed row with no entities
    later = datetime(2026, 1, 1, 12, 5)
    second = _feed_bytes(int(later.timestamp()), [("T9", "20260102", [(7, "700", 5, 6)])])
    vehicle_only = _feed_bytes(int(later.timestamp()), [])
    two = spark.createDataFrame(
        [(POLL, bytearray(payload)), (later, bytearray(second))],
        "poll_ts timestamp, payload binary",
    )
    for frame in (two, two.drop("poll_ts")):
        got = sorted(
            (r["trip_id"], r["stop_sequence"], r["poll_ts"])
            for r in decode_feed(decode_protobuf_payloads(frame)).collect()
        )
        assert got == [("T1", 1, POLL), ("T1", 2, POLL), ("T9", 7, later)]
    lone = spark.createDataFrame([(bytearray(vehicle_only),)], "payload binary")
    decoded = decode_protobuf_payloads(lone).collect()
    assert len(decoded) == 1 and decoded[0]["entity"] == []
    assert decode_feed(decode_protobuf_payloads(lone)).count() == 0


def test_decode_empty_payloads_is_typed_and_commits_nothing(spark, tmp_path):
    """No payloads → an empty feed of REALTIME_FEED_RAW's types; a poll of
    it leaves trip_updates' rows as they were, on a one-date table (merged
    in full) and on a two-date table (the nothing-touched return)."""
    from transit_efficiency_analysis_spark.pipeline import Store, ingest_realtime
    from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
        decode_protobuf_payloads,
    )

    empty = decode_protobuf_payloads(spark.createDataFrame([], "payload binary"))
    assert empty.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        (f.name, f.dataType.simpleString()) for f in schemas.REALTIME_FEED_RAW
    ]
    second_date = [("T9", "20260102", [(7, "700", 1767355200, None)])]
    cases = [("one_date", PB_TRIPS, 2), ("two_dates", PB_TRIPS + second_date, 3)]
    for name, trips, rows in cases:
        store = Store(str(tmp_path / name))
        raw = spark.createDataFrame(
            [(POLL, bytearray(_feed_bytes(int(POLL.timestamp()), trips)))],
            "poll_ts timestamp, payload binary",
        )
        before = sorted(ingest_realtime(spark, decode_protobuf_payloads(raw), store).collect())
        after = sorted(ingest_realtime(spark, empty, store).collect())
        assert after == before and len(before) == rows


def test_decoded_feed_is_a_local_relation(spark):
    """The decoder hands Spark the parsed rows, not a Python UDF over the
    payloads: the analyzed plan is one LocalRelation, so the decode runs no
    pandas/Arrow Python worker."""
    from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
        decode_protobuf_payloads,
    )

    payload = _feed_bytes(int(POLL.timestamp()), PB_TRIPS)
    for raw in (
        spark.createDataFrame([(POLL, bytearray(payload))], "poll_ts timestamp, payload binary"),
        spark.createDataFrame([], "payload binary"),
    ):
        plan = decode_protobuf_payloads(raw)._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"


def test_bmp_wav_decoders_roundtrip():
    """Real container parsers: BMP (incl. top-down negative height) and
    WAV (incl. an unknown chunk before fmt, odd-size word alignment)."""
    import struct

    from transit_efficiency_analysis_spark.operators.multimodal import (
        decode_bmp,
        decode_wav_header,
        encode_bmp,
        encode_wav,
    )

    assert decode_bmp(encode_bmp(17, 9)) == (17, 9, 3)
    # top-down BMP: negative height normalizes
    b = bytearray(encode_bmp(4, 6))
    struct.pack_into("<i", b, 22, -6)
    assert decode_bmp(bytes(b)) == (4, 6, 3)
    try:
        decode_bmp(b"nope")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass

    assert decode_wav_header(encode_wav(2, 16000, 16, 12345)) == (2, 16000, 16, 12345)
    # tolerate an unknown odd-sized chunk before fmt (word alignment)
    wav = encode_wav(1, 8000, 16, 10)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = wav[:12] + junk + wav[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav_header(patched) == (1, 8000, 16, 10)
