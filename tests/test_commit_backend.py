"""The manifest commit protocol's filesystem primitives and its
optimistic-concurrency loop.

1. The on-disk dialect: ``<root>/.manifest.json`` is a JSON map of
   ``bucket -> version`` and ``<root>/.v/b<bucket>_v<version>/`` holds
   each write-once version dir, so existing tables keep resolving.
2. The manifest and the meta are written through one durable writer:
   the file is fsynced before ``os.replace`` and the directory after
   it, and a failed write leaves no temp file.
3. ``merge_with_retry`` / ``filter_with_retry`` recompute after the
   touched-bucket detector's ``ConcurrentWriteError`` and stay bounded;
   races are staged through the ``_before_commit`` seam.
4. ``q_upsert_merge_retry`` runs its race and its retry on every
   invocation and converges to the keep-newest oracle.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import pytest

from transit_efficiency_analysis_spark.operators import upsert as U

BASE = datetime(2026, 1, 1)
SCHEMA = "key long, ts timestamp, value double, seq long"


def _mk_rows(raw):
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


def _rows(df):
    return {r.key: int((r.ts - BASE).total_seconds() // 60) for r in df.collect()}


def test_posix_backend_layout_is_legacy_compatible(tmp_path):
    """The manifest primitives speak the established on-disk dialect
    exactly: ``<root>/.v/b<bucket>_v<version>`` version dirs and a
    ``<root>/.manifest.json`` of ``{"<bucket>": <version>}`` — existing
    tables keep resolving."""
    root = str(tmp_path)
    assert U._version_path(root, 3, 7) == os.path.join(root, ".v", "b3_v7")
    assert U._read_manifest(root) == {}
    assert U._list_versions(root) == {}

    staged = tmp_path / "staged_part"
    staged.mkdir()
    (staged / "part-0.parquet").write_bytes(b"x")
    assert U._publish(root, str(staged), 3, 6, []) == 7
    published = U._version_path(root, 3, 7)
    assert (tmp_path / ".v" / "b3_v7" / "part-0.parquet").read_bytes() == b"x"
    assert not staged.exists()
    assert U._list_versions(root) == {3: [(7, published)]}
    # the next version is above every listed one, orphans included
    staged.mkdir()
    assert U._publish(root, str(staged), 3, 0, U._list_versions(root)[3]) == 8
    assert [v for v, _ in U._list_versions(root)[3]] == [7, 8]

    U._write_manifest(root, {10: 2, 3: 7})
    with open(os.path.join(root, ".manifest.json")) as f:
        assert f.read() == '{"3": 7, "10": 2}'
    assert U._read_manifest(root) == {3: 7, 10: 2}
    assert U._manifest_dirs(root, {10: 2, 3: 7}, {3}) == [published]


def _seed(spark, target):
    """Keys 0..19 at minute ``key``, in 4 buckets."""
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )


def _same_bucket_rival(spark, key):
    """Another seeded key in ``key``'s bucket, so a rival merge of it
    advances a bucket the loser rewrites."""
    buckets = {
        r.key: r.b
        for r in spark.createDataFrame([(k,) for k in range(20)], "key long")
        .select("key", U._bucket_expr(["key"], 4).alias("b"))
        .collect()
    }
    return next(k for k in range(20) if k != key and buckets[k] == buckets[key])


def _rival_merges(spark, target, rival, times):
    """A ``_before_commit`` hook: on each of the first ``times`` calls a
    REAL merge of ``rival`` commits inside the caller's window."""
    calls = []

    def hook():
        calls.append(1)
        if len(calls) <= times:
            U.merge_into_partitioned(
                target,
                spark.createDataFrame(
                    _mk_rows([(rival, 500 + len(calls), 6)]), SCHEMA
                ),
                keys=["key"], order_by=["ts", "seq"], num_buckets=4,
            )

    return hook, calls


def test_merge_with_retry_converges_after_cas_conflicts(spark, tmp_path):
    """Two detector conflicts staged through ``_before_commit``, then
    convergence: the third attempt's recompute sees both rivals' state
    and lands the batch — bounded retries, correct final rows. The lost
    attempts' version dirs sit below the versions the later commits
    read, so their cleanup reclaims them and no orphan is left."""
    target = str(tmp_path / "tbl")
    _seed(spark, target)
    rival = _same_bucket_rival(spark, 5)
    hook, calls = _rival_merges(spark, target, rival, times=2)
    out = U.merge_with_retry(
        target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
        _before_commit=hook,
    )
    rows = _rows(out)
    assert len(calls) == 3  # two lost attempts, then the commit
    assert rows[5] == 999 and rows[rival] == 502 and len(rows) == 20
    assert _rows(U.read_partitioned(spark, target)) == rows
    assert sorted(os.listdir(os.path.join(target, ".v"))) == sorted(
        f"b{b}_v{v}" for b, v in U._read_manifest(target).items()
    )


def test_merge_with_retry_bounded_then_raises(spark, tmp_path):
    """A competitor on every attempt exhausts the bounded retries and
    the last ConcurrentWriteError propagates (never an infinite loop);
    the table keeps the competitors' commits and none of the loser's."""
    target = str(tmp_path / "tbl")
    _seed(spark, target)
    rival = _same_bucket_rival(spark, 5)
    hook, calls = _rival_merges(spark, target, rival, times=99)
    with pytest.raises(U.ConcurrentWriteError):
        U.merge_with_retry(
            target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=4,
            retries=2, _before_commit=hook,
        )
    assert len(calls) == 3  # initial attempt + 2 retries
    rows = _rows(U.read_partitioned(spark, target))
    assert rows[5] == 5 and rows[rival] == 503


def test_merge_with_retry_covers_detector_conflicts(spark, tmp_path):
    """The protocol's touched-bucket detector raises
    ConcurrentWriteError; merge_with_retry recomputes and converges
    carrying BOTH writers' rows. The competitor writes to the bucket
    the loser touches; in a disjoint bucket the detector (correctly)
    lets both commits land."""
    target = str(tmp_path / "tbl")
    _seed(spark, target)
    rival = _same_bucket_rival(spark, 6)
    hook, calls = _rival_merges(spark, target, rival, times=1)
    out = U.merge_with_retry(
        target, spark.createDataFrame(_mk_rows([(6, 666, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
        _before_commit=hook,
    )
    rows = _rows(out)
    assert len(calls) == 2  # first attempt lost to the detector
    assert rows[6] == 666 and rows[rival] == 501  # both writers survive


def test_meta_json_shape_is_mode_tagged_and_legacy_compatible(spark, tmp_path):
    """A fresh table's ``.merge_meta.json`` keeps its on-disk shape:
    bucket count, keys, order, the p_bucket-free row schema the
    typed-empty paths rebuild from, and the ``"commit": "manifest"``
    tag that tells a manifest-protocol table from a legacy one."""
    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(1, 1, 1)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=2,
    )
    with open(os.path.join(target, ".merge_meta.json")) as f:
        meta = json.load(f)
    assert meta["num_buckets"] == 2 and meta["keys"] == ["key"]
    assert meta["order_by"] == ["ts", "seq"]
    field_names = [fld["name"] for fld in meta["schema"]["fields"]]
    assert field_names == ["key", "ts", "value", "seq"]  # no p_bucket
    assert meta["commit"] == "manifest"


def test_merge_retry_demo_converges_and_is_fixed_point(spark, sf_dir):
    """The demo's final table state equals keep-newest-per-key over ALL
    events (the oracle), and a re-invocation — which re-runs the staged
    race on the same cached table — returns the identical state
    (idempotent within a process, like q_upsert_merge_parquet)."""
    from transit_efficiency_analysis_spark.demo import load_registry

    sf = sf_dir
    fn = load_registry()["q_upsert_merge_retry"].fn
    out1 = {(r.user_id, r.event_type): (r.event_id, r.ts, r.value)
            for r in fn(spark, sf).collect()}
    events = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    expected = {
        (r.user_id, r.event_type): (r.event_id, r.ts, r.value)
        for r in U.upsert_keep_newest(
            events, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
        ).collect()
    }
    assert out1 == expected
    out2 = {(r.user_id, r.event_type): (r.event_id, r.ts, r.value)
            for r in fn(spark, sf).collect()}
    assert out2 == out1


def test_merge_retry_demo_race_executes_and_restores_backend(spark, sf_dir):
    """Each invocation runs the race and the retry, read off the
    table's ``.manifest.json``: a bucket all three batches touch
    advances by exactly 4 versions (batch 0's re-merge, writer A's lost
    attempt, which leaves an orphan version, the rival's commit and A's
    retried commit). Three merges with no lost attempt would advance it
    by 3, and A committing from its stale read by 2. Afterwards ``.v/``
    holds exactly the manifest's dirs: the lost attempt's orphans are
    swept."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.demo import load_registry
    from transit_efficiency_analysis_spark.demo._tmpcache import _RESULT_CACHE

    sf = sf_dir
    fn = load_registry()["q_upsert_merge_retry"].fn
    fn(spark, sf).count()
    key = f"upsert_merge_retry_{sf.strip('/').replace('/', '_')}"
    target = f"{_RESULT_CACHE[key]}/state"

    events = spark.read.parquet(f"{sf}/events.parquet")
    bucket = U._bucket_expr(["user_id", "event_type"], 16).alias("b")
    touched = [
        {r.b for r in events.where(F.col("event_id") % 3 == i)
         .select(bucket).distinct().collect()}
        for i in range(3)
    ]
    in_all = touched[0] & touched[1] & touched[2]
    assert in_all

    for _ in range(2):
        before = U._read_manifest(target)
        fn(spark, sf).count()
        after = U._read_manifest(target)
        assert {b: after[b] - before[b] for b in in_all} == {b: 4 for b in in_all}
        assert sorted(os.listdir(os.path.join(target, ".v"))) == sorted(
            f"b{b}_v{v}" for b, v in after.items()
        )


def test_write_meta_once_fsyncs_and_cleans_tmp(tmp_path, monkeypatch):
    """The meta write and the manifest swap share one durable writer:
    it fsyncs the file contents before the rename and the parent dir
    after it (a power loss persisting the rename with empty contents
    bricks the table on json.load), and a failed write removes its temp
    file and leaves the committed file as it was."""
    local = str(tmp_path)
    synced = []
    real_fsync = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: (synced.append(fd), real_fsync(fd)))
    U._write_meta_once(local, 4, ["key"], ["ts"], {"fields": []})
    assert len(synced) >= 2  # file contents + parent directory
    with open(os.path.join(local, ".merge_meta.json")) as f:
        assert json.load(f)["commit"] == "manifest"
    synced.clear()
    U._write_manifest(local, {0: 1})
    assert len(synced) >= 2
    assert U._read_manifest(local) == {0: 1}
    assert not [p for p in os.listdir(local) if p.endswith(".tmp")]

    # a failed dump must not leak its temp file or touch the old contents
    monkeypatch.setattr(json, "dump", lambda *a, **k: (_ for _ in ()).throw(OSError("disk full")))
    with pytest.raises(OSError, match="disk full"):
        U._write_meta_once(local, 4, ["key"], ["ts"], {"fields": []})
    with pytest.raises(OSError, match="disk full"):
        U._write_manifest(local, {0: 2})
    assert not [p for p in os.listdir(local) if p.endswith(".tmp")]
    assert U._read_manifest(local) == {0: 1}


def test_filter_with_retry_converges_after_detector_conflict(spark, tmp_path):
    """filter_with_retry (round 18): a merge landing inside the
    compaction's window trips the detector; the retry re-applies the
    condition to the ADVANCED state, so the winner's rows are subject
    to the same filter — never silently overwritten, never resurrected."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    attempts = []

    def competing_merge():
        attempts.append(1)
        if len(attempts) == 1:
            # one surviving row (key 3 < 10) and one the filter must
            # also drop (key 25 >= 10) — both committed mid-compaction
            U.merge_into_partitioned(
                target,
                spark.createDataFrame(_mk_rows([(3, 333, 5), (25, 25, 5)]), SCHEMA),
                keys=["key"], order_by=["ts", "seq"], num_buckets=4,
            )

    out = U.filter_with_retry(
        spark, target, F.col("key") < 10, _before_commit=competing_merge,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert len(attempts) == 2  # first compaction attempt lost, retried
    assert set(rows) == set(range(10))  # 10..19 and 25 filtered away
    assert rows[3] == 333  # the winner's surviving update is present


def test_filter_with_retry_bounded_then_raises(spark, tmp_path):
    """Persistent interleaving exhausts the bounded retries and the
    typed conflict propagates."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(8)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=2,
    )
    calls = []

    def always_competing():
        calls.append(1)
        U.merge_into_partitioned(
            target,
            spark.createDataFrame(_mk_rows([(1, 100 + len(calls), 5)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=2,
        )

    with pytest.raises(U.ConcurrentWriteError):
        U.filter_with_retry(
            spark, target, F.col("key") < 4, retries=1,
            _before_commit=always_competing,
        )
    assert len(calls) == 2  # initial attempt + 1 retry, both lost
