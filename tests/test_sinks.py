"""``sinks``' atomic versioned-dir commit: ``overwrite_table``, with and
without partition carry-over, and the whole-table ``replace_table``; every
pipeline stage committing through them (crash injection inside the write
job and before the flip), and the date-scoped realtime poll built on them
(``pipeline.merge_touched_dates``); ``sinks.read_table``, the
footer-schema read of a committed table, and the merges that read through
it."""

from __future__ import annotations

import os
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transit_efficiency_analysis_spark import pipeline, schemas, sinks
from transit_efficiency_analysis_spark.operators.upsert import (
    merge_batch,
    merge_into,
    merge_into_sql,
)
from transit_efficiency_analysis_spark.pipeline import (
    Store,
    consolidate,
    consolidate_incremental,
    ingest_realtime,
    ingest_schedule,
    merge_touched_dates,
)
from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
    apply_epoch0_default,
    decode_feed,
    decode_protobuf_payloads,
    enrich_weather,
    feed_dates,
)
from transit_efficiency_analysis_spark.sources.gtfs_rt_wire import encode_feed_message

D1, D2, D3 = date(2023, 6, 14), date(2023, 6, 15), date(2023, 6, 16)
ARR = int(datetime(2023, 6, 15, 14, 30).timestamp())


def _dated(spark, rows):
    return spark.createDataFrame(rows, "start_date date, k int, v string")


def _live(table: str) -> dict[str, dict[str, tuple[int, bytes]]]:
    """{partition dir: {data file: (inode, bytes)}} of the live version."""
    out = {}
    for d in sorted(os.listdir(table)):
        part = os.path.join(table, d)
        if d.startswith("start_date=") and os.path.isdir(part):
            files = {}
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    with open(os.path.join(part, f), "rb") as fh:
                        files[f] = (os.stat(os.path.join(part, f)).st_ino, fh.read())
            out[d] = files
    return out


def _versions(table: str) -> list[str]:
    parent, base = os.path.split(table)
    return sorted(n for n in os.listdir(parent) if n.startswith(f"{base}._v"))


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_default_path_flips_symlink_and_drops_superseded_versions(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    spark.range(3).write.mode("overwrite").parquet(table)  # plain-dir table

    got = sinks.overwrite_table(spark.range(5), table)
    assert os.path.islink(table) and _versions(table) == ["t._v1"]
    assert sorted(r.id for r in got.collect()) == list(range(5))

    got = sinks.overwrite_table(spark.range(2), table)
    assert os.readlink(table) == os.path.abspath(f"{table}._v2")
    assert _versions(table) == ["t._v2"]
    assert sorted(r.id for r in got.collect()) == [0, 1]
    assert not any(n.startswith("id=") for n in os.listdir(table))  # unpartitioned


def test_committed_table_is_read_with_the_writers_schema(spark, tmp_path):
    """The returned DataFrame is read with the written schema (no footer
    inference), which equals an inferred read of the table: same column
    order with the partition column last, same types and nullability."""
    frames = [
        _dated(spark, [(D1, 1, "a"), (D2, 2, "b")]),
        spark.range(3).withColumn("start_date", F.lit(D1)),  # non-nullable columns
    ]
    for i, df in enumerate(frames):
        for part in (None, "start_date"):
            table = str(tmp_path / f"t{i}_{part}")
            got = sinks.overwrite_table(df, table, partition_by=part)
            assert got.schema == spark.read.parquet(table).schema
            assert _rows(got) == _rows(df)


def test_partition_by_rejects_object_store_targets(spark):
    """The one local-path check rejects an object-store target in either
    commit, partitioned or not, and in ``Store`` before any stage runs."""
    df = spark.range(1)
    for call in (
        lambda: sinks.overwrite_table(df, "s3a://bucket/t", partition_by="id"),
        lambda: sinks.overwrite_table(df, "s3a://bucket/t"),
        lambda: sinks.replace_table(df, "s3a://bucket/t", partition_by="id"),
        lambda: Store("s3a://b/s"),
    ):
        with pytest.raises(ValueError, match="is not a local/POSIX path"):
            call()


def test_untouched_partitions_keep_their_files(spark, tmp_path):
    table = str(tmp_path / "t")
    rows = [(D1, 1, "a"), (D2, 2, "b"), (D3, 3, "c")]
    sinks.overwrite_table(_dated(spark, rows), table, partition_by="start_date")
    before = _live(table)
    assert set(before) == {f"start_date={d}" for d in (D1, D2, D3)}

    got = sinks.overwrite_table(
        _dated(spark, [(D2, 2, "b2"), (D2, 4, "d")]), table, partition_by="start_date"
    )
    after = _live(table)
    touched = f"start_date={D2}"
    for d in set(before) - {touched}:
        assert after[d] == before[d]  # same file names, inodes and bytes
    old_inodes = {ino for ino, _ in before[touched].values()}
    assert after[touched] and not old_inodes & {ino for ino, _ in after[touched].values()}
    assert _versions(table) == ["t._v2"]
    assert _rows(got, ["start_date", "k", "v"]) == sorted(
        [(str(D1), "1", "a"), (str(D2), "2", "b2"), (str(D2), "4", "d"), (str(D3), "3", "c")]
    )


def test_replace_table_drops_the_partitions_df_lacks(spark, tmp_path):
    table = str(tmp_path / "t")
    sinks.overwrite_table(
        _dated(spark, [(D1, 1, "a"), (D2, 2, "b")]), table, partition_by="start_date"
    )
    got = sinks.replace_table(_dated(spark, [(D2, 3, "c")]), table, partition_by="start_date")
    assert set(_live(table)) == {f"start_date={D2}"}
    assert _rows(got, ["start_date", "k", "v"]) == [(str(D2), "3", "c")]
    assert _versions(table) == ["t._v2"]


def _crash_at_flip(src, dst):
    raise OSError("crash before the flip")


def test_failure_before_flip_keeps_old_table_and_next_call_cleans_up(
    spark, tmp_path, monkeypatch
):
    table = str(tmp_path / "t")
    sinks.overwrite_table(
        _dated(spark, [(D1, 1, "a"), (D2, 2, "b")]), table, partition_by="start_date"
    )
    want = _rows(spark.read.parquet(table))

    monkeypatch.setattr(sinks.os, "replace", _crash_at_flip)
    with pytest.raises(OSError, match="crash before the flip"):
        sinks.overwrite_table(_dated(spark, [(D2, 2, "x")]), table, partition_by="start_date")
    monkeypatch.undo()

    assert _versions(table) == ["t._v1", "t._v2"]  # the orphan is written
    assert os.readlink(table) == os.path.abspath(f"{table}._v1")
    assert _rows(spark.read.parquet(table)) == want

    got = sinks.overwrite_table(
        _dated(spark, [(D2, 2, "y")]), table, partition_by="start_date"
    )
    assert _versions(table) == ["t._v3"]  # the orphan went with the old version
    assert _rows(got, ["start_date", "k", "v"]) == [(str(D1), "1", "a"), (str(D2), "2", "y")]


# -- every pipeline stage commits atomically ----------------------------------

#: a one-trip schedule running on D1 and D2; ``v2`` moves its second stop
SCHEDULE = {
    "stop_times": "trip_id,arrival_time,departure_time,stop_id,stop_sequence\n"
                  "T1,10:30:00,10:31:00,100,1\nT1,10:45:00,10:46:00,200,{second}\n",
    "trips": "trip_id,service_id,route_id\nT1,S1,R1\n",
    "calendar_dates": "service_id,date\nS1,20230614\nS1,20230615\n",
    "stops": "stop_id,stop_name,stop_lat,stop_lon\n100,Downtown,46.49,-80.99\n"
             "200,Uptown,46.52,-81.01\n",
    "routes": "route_id,route_long_name\nR1,Main Line\n",
}
ARR_D1 = ARR - 86400
CRASH = "crash inside the write job"


def _schedule(root, second_stop: int) -> str:
    d = root / f"gtfs_v{second_stop}"
    d.mkdir(exist_ok=True)
    for name, content in SCHEDULE.items():
        (d / f"{name}.txt").write_text(content.replace("{second}", str(second_stop)))
    return str(d)


def _poll(spark, store, minute, delay_s):
    """Both stops on D2, and the first on D1 from the first poll only."""
    entities = [("T1", "20230615", [(1, "100", ARR + delay_s, None),
                                    (2, "200", ARR + 900 + delay_s, None)])]
    if minute == 0:
        entities.append(("T1", "20230614", [(1, "100", ARR_D1 + 30, None)]))
    poll_ts = datetime(2023, 6, 15, 14, minute)
    ingest_realtime(spark, _feed(spark, poll_ts, entities), store,
                    now=datetime(2023, 6, 15, 14, minute, 5))


def _prepare(spark, root, stage: str):
    """A committed store, plus the poll the stage under test then reads."""
    store = Store(str(root / "store"))
    ingest_schedule(spark, _schedule(root, 2), store)
    _poll(spark, store, 0, 60)
    consolidate(spark, store)
    if stage != "ingest_schedule":
        _poll(spark, store, 5, 240)
    return store


STAGES = {
    # name: (the call, its table, the layer a crash is patched into)
    "ingest_schedule": (
        lambda spark, store, root: ingest_schedule(spark, _schedule(root, 3), store),
        "gtfs_data", "upsert_ignore",
    ),
    "consolidate": (
        lambda spark, store, root: consolidate(spark, store), "diffs", "compute_delays",
    ),
    "consolidate_incremental": (
        lambda spark, store, root: consolidate_incremental(spark, store, [D2]),
        "diffs", "compute_delays",
    ),
}


def _crash_in_job(layer):
    """``layer`` whose rows raise for the second stop in the write's own
    tasks: the layer's output is the plan the stage writes, after its
    last shuffle."""
    def crashing(*args, **kwargs):
        df = layer(*args, **kwargs)
        boom = F.when(F.col("stop_sequence") >= 2, F.raise_error(F.lit(CRASH)))
        return df.withColumn("trip_id", boom.otherwise(F.col("trip_id")))

    return crashing


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """Each stage's table after an uninterrupted run (computed once)."""
    cache = {}

    def rows(stage):
        if stage not in cache:
            root = tmp_path_factory.mktemp(f"ref_{stage}")
            store = _prepare(spark, root, stage)
            call, table, _ = STAGES[stage]
            call(spark, store, root)
            cache[stage] = _rows(spark.read.parquet(getattr(store, table)))
        return cache[stage]

    return rows


@pytest.mark.parametrize("point", ["in_job", "before_flip"])
@pytest.mark.parametrize("stage", list(STAGES))
def test_stage_crash_keeps_the_old_table_and_a_rerun_converges(
    spark, tmp_path, monkeypatch, uninterrupted, stage, point
):
    call, table, layer = STAGES[stage]
    store = _prepare(spark, tmp_path, stage)
    path = getattr(store, table)
    before = _rows(spark.read.parquet(path))
    want = uninterrupted(stage)
    assert want != before  # the stage changes the table

    if point == "in_job":
        monkeypatch.setattr(pipeline, layer, _crash_in_job(getattr(pipeline, layer)))
        match = CRASH
    else:
        monkeypatch.setattr(sinks.os, "replace", _crash_at_flip)
        match = "crash before the flip"
    with pytest.raises(Exception, match=match):
        call(spark, store, tmp_path)
    monkeypatch.undo()
    assert _rows(spark.read.parquet(path)) == before

    call(spark, store, tmp_path)
    assert _rows(spark.read.parquet(path)) == want
    assert len(_versions(path)) == 1


# -- read_table: the footer-schema read ---------------------------------------


def _wide(spark, rows):
    """Rows of several types, non-nullable ones included."""
    return spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("k", T.LongType(), False),
            T.StructField("start_date", T.DateType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("amount", T.DecimalType(28, 6), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
        ]),
    )


WIDE_ROWS = [
    (1, D1, datetime(2023, 6, 14, 8), Decimal("1.500000"), ["a"]),
    (2, D2, None, None, None),
]


@pytest.mark.parametrize(
    "layout", ["partitioned", "unpartitioned", "empty_partitioned"]
)
def test_read_table_schema_equals_an_inferred_read(spark, tmp_path, count_jobs, layout):
    """Same columns, order, types and nullability as an inferred read, for
    a partitioned table (partition column last), a legacy unpartitioned
    table (``start_date`` in place) and the schema-only file of an empty
    partitioned table; and no Spark job to read it."""
    table = str(tmp_path / "t")
    if layout == "unpartitioned":
        _wide(spark, WIDE_ROWS).write.parquet(table)
    else:
        df = _wide(spark, WIDE_ROWS if layout == "partitioned" else [])
        sinks.overwrite_table(df, table, partition_by="start_date")

    got, jobs = count_jobs(lambda: sinks.read_table(spark, table))
    assert jobs == 0
    assert got.schema == spark.read.parquet(table).schema
    assert _rows(got) == _rows(spark.read.parquet(table))


def test_read_table_reads_a_null_only_date_as_date(spark, tmp_path):
    table = str(tmp_path / "t")
    sinks.overwrite_table(_dated(spark, [(None, 1, "a")]), table, partition_by="start_date")
    assert sinks.table_dates(table) == [None]
    got = sinks.read_table(spark, table)
    assert got.schema["start_date"].dataType == T.DateType()
    assert _rows(got, ["start_date", "k", "v"]) == [("None", "1", "a")]


def test_read_table_falls_back_to_inference_without_spark_footer(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", None]}), str(table / "part-0.parquet"))
    assert b"org.apache.spark.sql.parquet.row.metadata" not in (
        pq.read_schema(str(table / "part-0.parquet")).metadata or {}
    )
    got = sinks.read_table(spark, str(table))
    assert got.schema == spark.read.parquet(str(table)).schema
    assert _rows(got) == [("1", "a"), ("2", "None")]


def test_table_dates_lists_the_partition_dirs(spark, tmp_path):
    table = str(tmp_path / "t")
    assert sinks.table_dates(table) == []  # missing
    sinks.overwrite_table(
        _dated(spark, [(D2, 1, "a"), (D1, 2, "b"), (None, 3, "c")]), table,
        partition_by="start_date",
    )
    assert sorted(sinks.table_dates(table), key=str) == [D1, D2, None]
    flat = str(tmp_path / "flat")
    sinks.overwrite_table(_dated(spark, [(D1, 1, "a")]), flat)
    assert sinks.table_dates(flat) == []  # unpartitioned


# -- the realtime poll on the partitioned commit ------------------------------


def _feed(spark, poll_ts, entities):
    return spark.createDataFrame([(poll_ts, entities)], schemas.REALTIME_FEED_RAW)


def _ingest_unpartitioned(spark, feed, store, now):
    """The poll as the unpartitioned layout ran it: the whole table merged
    and rewritten flat."""
    batch = apply_epoch0_default(decode_feed(feed))
    batch = enrich_weather(batch, None, None, None)
    batch = batch.withColumn("audit_ts", F.lit(now.isoformat(sep=" ")).cast("timestamp"))
    existing = (
        spark.read.parquet(store.trip_updates)
        if os.path.exists(store.trip_updates)
        else batch.limit(0)
    )
    merged = merge_batch(
        existing, batch, keys=list(schemas.PRIMARY_KEY), order_by=["poll_ts"],
        tracked=["arrival_time", "departure_time"], ts_col="audit_ts",
    )
    sinks.overwrite_table(merged, store.trip_updates)


POLL1 = (
    datetime(2023, 6, 15, 14, 0),
    [("T0", "20230614", [(1, "100", ARR - 86400, None)]),
     ("T1", "20230615", [(1, "100", ARR + 60, None)])],
)
#: 00:30 on the 16th: the 15th's last trip is still running past midnight
#: while the 16th's first trip has started
POLL2 = (
    datetime(2023, 6, 16, 0, 30),
    [("T1", "20230615", [(1, "100", ARR + 120, None), (2, "200", ARR + 900, None)]),
     ("T2", "20230616", [(1, "100", ARR + 86400, None)])],
)


def test_batch_spanning_two_dates_commits_both_in_one_flip(spark, tmp_path):
    store = Store(str(tmp_path / "store"))
    ingest_realtime(spark, _feed(spark, *POLL1), store, now=datetime(2023, 6, 15, 14, 0, 5))
    before = _live(store.trip_updates)
    assert set(before) == {f"start_date={D1}", f"start_date={D2}"}

    tu = ingest_realtime(
        spark, _feed(spark, *POLL2), store, now=datetime(2023, 6, 16, 0, 30, 5)
    )
    after = _live(store.trip_updates)
    assert _versions(store.trip_updates) == ["trip_updates._v2"]
    assert after[f"start_date={D1}"] == before[f"start_date={D1}"]
    assert set(after) == {f"start_date={d}" for d in (D1, D2, D3)}
    assert not (
        {i for i, _ in before[f"start_date={D2}"].values()}
        & {i for i, _ in after[f"start_date={D2}"].values()}
    )
    got = {(r.trip_id, str(r.start_date), r.stop_sequence) for r in tu.collect()}
    assert got == {
        ("T0", str(D1), 1), ("T1", str(D2), 1), ("T1", str(D2), 2), ("T2", str(D3), 1)
    }


def test_unpartitioned_table_is_read_in_full_and_rewritten_partitioned(spark, tmp_path):
    legacy = Store(str(tmp_path / "legacy"))
    fresh = Store(str(tmp_path / "fresh"))
    n1, n2 = datetime(2023, 6, 15, 14, 0, 5), datetime(2023, 6, 16, 0, 30, 5)
    _ingest_unpartitioned(spark, _feed(spark, *POLL1), legacy, n1)
    assert not _live(legacy.trip_updates)
    ingest_realtime(spark, _feed(spark, *POLL1), fresh, now=n1)

    # POLL2 holds no D1 row: a read through its date filter would drop T0
    got = ingest_realtime(spark, _feed(spark, *POLL2), legacy, now=n2)
    want = ingest_realtime(spark, _feed(spark, *POLL2), fresh, now=n2)
    assert set(_live(legacy.trip_updates)) == {f"start_date={d}" for d in (D1, D2, D3)}
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) == 4


def _merge(spark, rows, path):
    return merge_touched_dates(
        _dated(spark, rows).withColumn("ts", F.col("k").cast("timestamp")), path,
        keys=["start_date", "k"], order_by=["ts"], tracked=["v"], ts_col="ts",
        dates=lambda: list({d for d, _, _ in rows}),
    )


def test_empty_poll_leaves_the_table_alone_and_null_dates_merge(spark, tmp_path):
    path = str(tmp_path / "state")
    assert _merge(spark, [], path).count() == 0  # readable before any date exists
    _merge(spark, [(D1, 1, "a"), (None, 2, "b")], path)
    version = os.readlink(path)
    assert _rows(_merge(spark, [], path), ["start_date", "k", "v"]) == [
        (str(D1), "1", "a"), ("None", "2", "b")
    ]
    assert os.readlink(path) == version  # nothing touched, nothing committed
    # the NULL date is a partition too: its stored rows are read and kept
    got = _merge(spark, [(None, 3, "c")], path)
    assert _rows(got, ["start_date", "k", "v"]) == [
        (str(D1), "1", "a"), ("None", "2", "b"), ("None", "3", "c")
    ]


def test_empty_start_date_commits_to_the_null_partition(spark, tmp_path):
    """GTFS-RT's ``start_date`` is optional and the wire decoder reads an
    absent one as "": the poll parses it as a NULL date instead of failing,
    and ``feed_dates`` names the NULL partition it then rewrites."""
    payload = encode_feed_message(ARR - 1800, [
        ("T1", "20230615", [(1, "100", ARR + 60, None)]),
        ("T9", "", [(1, "100", ARR + 120, None)]),
    ])
    feed = decode_protobuf_payloads(
        spark.createDataFrame([(bytearray(payload),)], "payload binary")
    )
    assert sorted(feed_dates(feed), key=str) == [D2, None]
    store = Store(str(tmp_path / "store"))
    tu = ingest_realtime(spark, feed, store, now=datetime(2023, 6, 15, 14, 0, 5))
    assert {(r.trip_id, r.start_date) for r in tu.collect()} == {("T1", D2), ("T9", None)}
    assert sorted(sinks.table_dates(store.trip_updates), key=str) == [D2, None]
    # a malformed date is still an error, not a NULL
    bad = _feed(spark, datetime(2023, 6, 15, 14), [("T1", "2023-06-15", [(1, "100", ARR, None)])])
    with pytest.raises(Exception, match="CANNOT_PARSE_TIMESTAMP"):
        decode_feed(bad).collect()


# -- merge_into / merge_into_sql read the state through read_table -------------


@pytest.mark.parametrize(
    "merge, want_jobs", [(merge_into, 2), (merge_into_sql, 4)],
    ids=["merge_into", "merge_into_sql"],
)
def test_merge_reads_the_stored_state_without_an_inference_job(
    spark, tmp_path, count_jobs, merge, want_jobs
):
    """A second batch runs only the merge's own jobs: reading the stored
    state through ``read_table`` adds no footer-inference job (an inferred
    ``spark.read.parquet`` adds one)."""
    path = str(tmp_path / "state")

    def batch(rows):
        return spark.createDataFrame(rows, "k int, v string, ts int")

    merge(path, batch([(1, "a", 1), (2, "b", 1)]), keys=["k"], order_by=["ts"])
    got, jobs = count_jobs(
        lambda: merge(path, batch([(2, "c", 2), (3, "d", 2)]), keys=["k"], order_by=["ts"])
    )
    assert _rows(got, ["k", "v"]) == [("1", "a"), ("2", "c"), ("3", "d")]
    assert jobs == want_jobs
