"""merge_into_partitioned / filter_partitioned / read_partitioned on the
manifest commit protocol: convergence to keep-newest-per-key, compaction
as a pure filter, and loud rejection of tables the protocol does not
own."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.operators.upsert import (
    filter_partitioned,
    merge_into_partitioned,
    read_partitioned,
    upsert_keep_newest,
)

BASE = datetime(2026, 1, 1)
SCHEMA = "key long, ts timestamp, value double, seq long"


def _mk_rows(raw):
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


def _merge(spark, target, raw, **kw):
    return merge_into_partitioned(
        target, spark.createDataFrame(raw, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4, **kw,
    )


def _rows(df):
    return sorted((r.key, r.ts, r.value) for r in df.collect())


def test_merge_converges_to_keep_newest(spark, tmp_path):
    """Wide seed, trickle with a new key, then an older redelivery that
    must not clobber the newer stored row: the merge's return and a
    fresh read both equal keep-newest-per-key over every batch."""
    batches = [
        _mk_rows([(k, k, 1) for k in range(20)]),    # wide seed
        _mk_rows([(5, 999, 7), (21, 21, 2)]),        # trickle + new key
        # older redelivery for key 5 (must NOT clobber ts=999) + update
        _mk_rows([(5, 100, 9), (3, 3000, 4)]),
    ]
    target = str(tmp_path / "tbl")
    for b in batches:
        out = _merge(spark, target, b)
    all_obs = spark.createDataFrame([r for b in batches for r in b], SCHEMA)
    expect = _rows(upsert_keep_newest(all_obs, ["key"], ["ts", "seq"]))
    assert _rows(out) == expect
    assert _rows(read_partitioned(spark, target)) == expect


def test_filter_partitioned_expires_and_merges_continue(spark, tmp_path):
    """Compaction applies the expiry, keeps the layout and meta, and
    later merges land on the compacted table."""
    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(k, k, 1) for k in range(30)]))
    cutoff = BASE + timedelta(minutes=20)
    out = filter_partitioned(spark, target, F.col("ts") >= F.lit(cutoff))
    assert sorted(r.key for r in out.collect()) == list(range(20, 30))
    _merge(spark, target, _mk_rows([(2, 5000, 8)]))
    state = {r.key: r.ts for r in read_partitioned(spark, target).collect()}
    assert state[2] == BASE + timedelta(minutes=5000)
    assert sorted(state) == [2] + list(range(20, 30))


def _snapshot(root: str) -> dict[str, str]:
    """Every path under ``root`` -> symlink target or file bytes."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            if os.path.islink(p):
                out[p] = "link:" + os.readlink(p)
            elif os.path.isfile(p):
                with open(p, "rb") as f:
                    out[p] = f.read().hex()
    return out


def test_legacy_symlink_table_is_rejected(spark, tmp_path):
    """A table from the retired symlink protocol — meta without
    ``"commit": "manifest"``, ``p_bucket=N`` links into ``.v/`` — is
    outside input: merge, compaction and read all raise a ValueError
    naming the table, and none of them reads it as empty or rewrites
    it."""
    target = tmp_path / "legacy"
    rows = spark.createDataFrame(_mk_rows([(1, 1, 1), (2, 2, 2)]), SCHEMA)
    vdir = target / ".v" / "b1_v1"
    rows.coalesce(1).write.parquet(str(vdir))
    os.symlink(str(vdir), str(target / "p_bucket=1"))
    (target / ".merge_meta.json").write_text(json.dumps({
        "num_buckets": 4,
        "keys": ["key"],
        "order_by": ["ts", "seq"],
        "schema": rows.schema.jsonValue(),
    }))
    before = _snapshot(str(target))

    calls = [
        lambda: _merge(spark, str(target), _mk_rows([(3, 3, 3)])),
        lambda: filter_partitioned(spark, str(target), F.lit(True)),
        lambda: read_partitioned(spark, str(target)),
    ]
    for call in calls:
        with pytest.raises(ValueError, match=str(target)):
            call()
    assert _snapshot(str(target)) == before
    assert not (target / ".manifest.json").exists()


def test_wide_commit_lists_version_root_once(spark, tmp_path, monkeypatch):
    """A commit lists ``.v/`` ONCE — for its publishes and its cleanup
    together — however many buckets it touches: a merge and a
    compaction over 32+ touched buckets each make exactly one listing
    (a per-bucket listing makes two per bucket, and a 4096-bucket pass
    spends seconds of driver time on them)."""
    from transit_efficiency_analysis_spark.operators import upsert as U

    target = str(tmp_path / "tbl")

    def merge(raw):
        return merge_into_partitioned(
            target, spark.createDataFrame(raw, SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=64,
        )

    merge(_mk_rows([(k, k, 1) for k in range(400)]))
    touched = len(U._read_manifest(target))
    assert touched >= 32

    real_listdir = os.listdir
    listings = []

    def counting_listdir(path="."):
        if os.path.basename(os.path.normpath(str(path))) == ".v":
            listings.append(path)
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", counting_listdir)
    # every key rewritten: all buckets publish a new version and clean
    # up the superseded one
    merge(_mk_rows([(k, 1000 + k, 2) for k in range(400)]))
    assert len(listings) == 1
    assert set(U._read_manifest(target).values()) == {2}
    assert sorted(
        name for name in real_listdir(os.path.join(target, ".v"))
    ) == sorted(f"b{b}_v2" for b in U._read_manifest(target))

    listings.clear()
    filter_partitioned(spark, target, F.col("key") >= F.lit(0))
    assert len(listings) == 1
    assert len(U._read_manifest(target)) == touched


def test_version_name_collision_fails_commit_keeps_published_dir(
    spark, tmp_path, monkeypatch
):
    """A concurrent writer that publishes the version name this merge
    computed (after this merge listed ``.v/``) wins: the rename onto its
    non-empty dir fails, the merge raises ConcurrentWriteError, the
    rival's dir keeps its bytes and the manifest is untouched."""
    from transit_efficiency_analysis_spark.operators import upsert as U

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(1, 1, 1)]))
    manifest = U._read_manifest(target)
    (bucket, version), = manifest.items()
    rival = os.path.join(target, ".v", f"b{bucket}_v{version + 1}")
    os.makedirs(rival)
    with open(os.path.join(rival, "part-rival"), "w") as f:
        f.write("rival")

    real_list = U._list_versions

    def listed_before_rival(local):
        # the listing this commit took predates the rival's publish
        return {
            b: [(v, p) for v, p in vs if p != rival]
            for b, vs in real_list(local).items()
        }

    monkeypatch.setattr(U, "_list_versions", listed_before_rival)
    with pytest.raises(U.ConcurrentWriteError, match="concurrent writer"):
        _merge(spark, target, _mk_rows([(1, 50, 2)]))
    with open(os.path.join(rival, "part-rival")) as f:
        assert f.read() == "rival"
    assert os.listdir(rival) == ["part-rival"]
    assert U._read_manifest(target) == manifest
    assert _rows(read_partitioned(spark, target)) == [
        (1, BASE + timedelta(minutes=1), 1.0)
    ]
