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
