"""``sinks.overwrite_table``: the atomic versioned-dir commit, with and
without partition carry-over, and the date-scoped realtime poll built on
it (``pipeline.merge_touched_dates``)."""

from __future__ import annotations

import os
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark import schemas, sinks
from transit_efficiency_analysis_spark.operators.upsert import merge_batch
from transit_efficiency_analysis_spark.pipeline import Store, ingest_realtime, merge_touched_dates
from transit_efficiency_analysis_spark.sources.gtfs_realtime import (
    apply_epoch0_default,
    decode_feed,
    enrich_weather,
)

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
    with pytest.raises(ValueError, match="local/posix path"):
        sinks.overwrite_table(spark.range(1), "s3a://bucket/t", partition_by="id")


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


def test_failure_before_flip_keeps_old_table_and_next_call_cleans_up(
    spark, tmp_path, monkeypatch
):
    table = str(tmp_path / "t")
    sinks.overwrite_table(
        _dated(spark, [(D1, 1, "a"), (D2, 2, "b")]), table, partition_by="start_date"
    )
    want = _rows(spark.read.parquet(table))

    def crash(src, dst):
        raise OSError("crash before the flip")

    monkeypatch.setattr(sinks.os, "replace", crash)
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
