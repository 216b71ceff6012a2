"""Round-12 regression tests (VERDICT r11 asks #2/#6, ADVICE r11 items).

Covers:
- merge_into_partitioned — the batch-proportional pure-Parquet MERGE:
  parity with merge_batch (the spec) across batch splits and bucket
  counts, byte-identical untouched buckets, bucket-count pinning.
- merge_newer_condition's null-aware order keys: merge_into_sql /
  merge_sql_plan now agree with merge_batch when a stored row carries a
  NULL order-by component (ADVICE r11: a real-timestamp source must
  replace a NULL-timestamp stored row, as row_number desc NULLS LAST
  does).
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st

from transit_efficiency_analysis_spark.operators.upsert import (
    merge_batch,
    merge_into_partitioned,
    merge_sql_plan,
)

BASE = datetime(2026, 1, 1)
SCHEMA = "key long, ts timestamp, value double, seq long"


def _mk_rows(raw):
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=500),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=25,
)


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


# ------------------------------------------------- partitioned MERGE


@settings(max_examples=6, deadline=None)
@given(
    raw=rows_strategy,
    split=st.integers(min_value=0, max_value=25),
    buckets=st.sampled_from([1, 4, 16]),
)
def test_merge_partitioned_batch_split_parity(
    spark, tmp_path_factory, raw, split, buckets
):
    """ANY two-way batch split through the partitioned runtime equals
    merge_batch folded in memory (merge_batch IS the spec), for 1, 4
    and 16 buckets — 1 bucket degenerates to merge_into_sql's shape."""
    rows = _mk_rows(raw)
    target = str(tmp_path_factory.mktemp("pmerge") / "tbl")
    state_mem = spark.createDataFrame([], SCHEMA)
    for b in (rows[:split], rows[split:]):
        if not b:
            continue
        inc = spark.createDataFrame(b, SCHEMA)
        stored = merge_into_partitioned(
            target, inc, keys=["key"], order_by=["ts", "seq"],
            num_buckets=buckets,
        )
        state_mem = merge_batch(state_mem, inc, keys=["key"], order_by=["ts", "seq"])
    assert _collect(stored) == _collect(state_mem)


def _bucket_digests(table_dir: str) -> dict[int, tuple[str, str]]:
    """bucket -> (committed version dir name, digest of its data files),
    resolved through the table's manifest."""
    import json

    with open(os.path.join(table_dir, ".manifest.json")) as f:
        manifest = {int(b): v for b, v in json.load(f).items()}
    out = {}
    for b, v in manifest.items():
        vdir = os.path.join(table_dir, ".v", f"b{b}_v{v}")
        h = hashlib.sha256()
        for f in sorted(os.listdir(vdir)):
            if f.startswith(("_", ".")):
                continue
            with open(os.path.join(vdir, f), "rb") as fh:
                h.update(f.encode())
                h.update(fh.read())
        out[b] = (os.path.basename(vdir), h.hexdigest())
    return out


def test_merge_partitioned_untouched_partitions_byte_identical(spark, tmp_path):
    """A merge whose batch hashes into a strict subset of buckets must
    leave every other bucket's manifest entry and version dir untouched
    (same dir, same bytes) — the batch-proportional claim, pinned at the
    byte level."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    seed = _mk_rows([(k, 10, 1) for k in range(40)])  # spreads over buckets
    merge_into_partitioned(
        target, spark.createDataFrame(seed, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )
    before = _bucket_digests(target)
    assert len(before) >= 4, "seed should populate several buckets"

    # one single-key batch -> exactly one touched bucket
    batch = [(3, BASE + timedelta(minutes=99), 9.0, 1000)]
    merge_into_partitioned(
        target, spark.createDataFrame(batch, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )
    after = _bucket_digests(target)
    assert set(after) == set(before)
    changed = [b for b in before if before[b] != after[b]]
    assert len(changed) == 1, (
        f"exactly one bucket should change, got {changed}"
    )
    # the touched bucket got a new version dir, not an edited one
    (b,) = changed
    assert after[b][0] != before[b][0]
    # and the table still answers correctly
    got = {r.key: r.value for r in read_partitioned(spark, target).collect()}
    assert got[3] == 9.0 and got[5] == 1.0


def test_merge_partitioned_rejects_bucket_count_change(spark, tmp_path):
    import pytest

    target = str(tmp_path / "tbl")
    inc = spark.createDataFrame(_mk_rows([(0, 1, 1)]), SCHEMA)
    merge_into_partitioned(target, inc, keys=["key"], order_by=["ts", "seq"],
                           num_buckets=4)
    with pytest.raises(ValueError, match="num_buckets"):
        merge_into_partitioned(target, inc, keys=["key"],
                               order_by=["ts", "seq"], num_buckets=8)


def test_merge_partitioned_null_key_component(spark, tmp_path):
    """NULL merge keys hash to a stable bucket and match null-safely —
    one stored row per NULL key, updated in place across batches."""
    target = str(tmp_path / "tbl")
    b1 = [(None, BASE + timedelta(minutes=1), 1.0, 0),
          (7, BASE + timedelta(minutes=1), 1.0, 1)]
    b2 = [(None, BASE + timedelta(minutes=2), 2.0, 2)]
    merge_into_partitioned(target, spark.createDataFrame(b1, SCHEMA),
                           keys=["key"], order_by=["ts", "seq"], num_buckets=4)
    out = merge_into_partitioned(target, spark.createDataFrame(b2, SCHEMA),
                                 keys=["key"], order_by=["ts", "seq"],
                                 num_buckets=4)
    rows = out.collect()
    assert len(rows) == 2
    null_rows = [r for r in rows if r.key is None]
    assert len(null_rows) == 1 and null_rows[0].value == 2.0


def test_merge_partitioned_scan_prunes_untouched_partitions(
    spark, tmp_path, monkeypatch
):
    """A trickle merge reads the stored side from the touched buckets'
    version dirs only: every path the merge resolves through the
    manifest belongs to a touched bucket, and the stored slice it reads
    holds exactly that bucket's rows."""
    from transit_efficiency_analysis_spark.operators import upsert as U

    target = str(tmp_path / "tbl")
    seed = _mk_rows([(k, 10, 1) for k in range(40)])
    merge_into_partitioned(
        target, spark.createDataFrame(seed, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )
    (touched,) = [
        r[0]
        for r in spark.range(1)
        .select(U._bucket_expr(["id"], 8).alias("b"))
        .collect()
    ]  # bucket of key=0

    resolved: list[str] = []
    real = U._manifest_dirs

    def recording(local, manifest, buckets=None):
        dirs = real(local, manifest, buckets)
        resolved.extend(dirs)
        return dirs

    monkeypatch.setattr(U, "_manifest_dirs", recording)
    batch = [(0, BASE + timedelta(minutes=99), 9.0, 1000)]
    out = merge_into_partitioned(
        target, spark.createDataFrame(batch, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
        return_touched_only=True,
    )
    assert resolved, "the merge never resolved its stored slice"
    names = {os.path.basename(d) for d in resolved}
    assert all(n.startswith(f"b{touched}_v") for n in names), names
    # key 0 already existed, so the touched bucket's row count is
    # unchanged by the merge
    expect = sum(
        1
        for r in spark.createDataFrame(seed, SCHEMA)
        .select(U._bucket_expr(["key"], 8).alias("b"))
        .collect()
        if r.b == touched
    )
    assert out.count() == expect


# ------------------------------------------------- null-aware newer


def test_merge_sql_plan_null_order_key_parity_with_merge_batch(spark):
    """ADVICE r11: stored row with NULL ts must be replaced by a real-ts
    source (and a NULL-ts source must never displace a real-ts stored
    row) — merge_sql_plan now agrees with merge_batch on both."""
    stored = spark.createDataFrame(
        [(0, None, 1.0, 0), (1, BASE, 1.0, 1)], SCHEMA
    )
    batch = spark.createDataFrame(
        [(0, BASE, 2.0, 10), (1, None, 2.0, 11)], SCHEMA
    )
    plan = _collect(
        merge_sql_plan(stored, batch, keys=["key"], order_by=["ts", "seq"])
    )
    spec = _collect(
        merge_batch(stored, batch, keys=["key"], order_by=["ts", "seq"])
    )
    assert plan == spec
    got = {r[0]: (r[1], r[2]) for r in plan}
    assert got[0] == (BASE, 2.0), "real ts must replace stored NULL ts"
    assert got[1] == (BASE, 1.0), "NULL ts must not displace stored real ts"


@settings(max_examples=6, deadline=None)
@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.one_of(st.none(), st.integers(min_value=0, max_value=500)),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=20,
    ),
    split=st.integers(min_value=0, max_value=20),
)
def test_merge_sql_plan_parity_with_nullable_order_keys(spark, raw, split):
    """Property form: batch-split parity between the executed MERGE
    algebra and merge_batch holds with NULLs in the ts order column
    (seq stays the unique total-order tiebreaker)."""
    rows = [
        (k, None if ts is None else BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]
    state_plan = spark.createDataFrame([], SCHEMA)
    state_spec = spark.createDataFrame([], SCHEMA)
    for b in (rows[:split], rows[split:]):
        if not b:
            continue
        inc = spark.createDataFrame(b, SCHEMA)
        from transit_efficiency_analysis_spark.operators.upsert import (
            upsert_keep_newest,
        )

        collapsed = upsert_keep_newest(inc, ["key"], ["ts", "seq"])
        state_plan = merge_sql_plan(
            state_plan, collapsed, keys=["key"], order_by=["ts", "seq"]
        )
        state_spec = merge_batch(state_spec, inc, keys=["key"], order_by=["ts", "seq"])
    assert _collect(state_plan) == _collect(state_spec)


# ------------------------------------------------- hier SemDeDup


def test_semantic_dedup_hier_keeps_zero_norm_vectors(spark):
    """ADVICE r11: the map-only fold dropped vectors whose every
    candidate similarity was NULL (zero-norm vector -> divide-by-zero).
    With the r12 pre-normalized raw-dot fold a zero-norm vector scores
    0.0 everywhere, ties to the smallest scanned cell, and must appear
    in the output with kept=true (the flat semantic_dedup behavior) —
    no silent row loss, even when zero vectors also seed zero-norm
    centroids."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_hier,
    )

    rows = [(i, [float(i + d) for d in range(4)]) for i in range(12)]
    rows += [(100, [0.0, 0.0, 0.0, 0.0]), (101, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_hier(
        df, n_centroids=4, coarse_cells=2, threshold=0.9
    ).collect()
    assert len(out) == len(rows), "every input vector must appear"
    zero = {r.vec_id: r for r in out if r.vec_id >= 100}
    assert set(zero) == {100, 101}
    assert all(r.kept and r.cell >= 0 for r in zero.values())
    # flat form agrees on the no-row-loss contract
    flat = semantic_dedup_hier(df, n_centroids=4, coarse_cells=1)
    assert flat.count() == len(rows)
    assert semantic_dedup(df, n_centroids=4).count() == len(rows)


# ------------------------------------------------- partitioned compaction


def test_filter_partitioned_expires_and_preserves_layout(spark, tmp_path):
    """filter_partitioned: rows failing the predicate are physically
    gone, the bucket layout + meta survive, an entirely-expired bucket
    loses its manifest entry, and merges continue working afterwards."""
    import json

    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
        merge_into_partitioned,
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    rows = _mk_rows([(k, k, 1) for k in range(30)])  # ts = k minutes
    merge_into_partitioned(
        target, spark.createDataFrame(rows, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )
    cutoff = BASE + timedelta(minutes=20)
    out = filter_partitioned(spark, target, F.col("ts") >= F.lit(cutoff))
    assert sorted(r.key for r in out.collect()) == list(range(20, 30))
    # physical: a fresh read agrees (expired rows not merely filtered)
    again = read_partitioned(spark, target)
    assert again.count() == 10
    # layout: meta intact, only non-empty buckets remain in the manifest
    # and every committed version dir is named by it
    meta = json.load(open(os.path.join(target, ".merge_meta.json")))
    assert meta["num_buckets"] == 8
    manifest = json.load(open(os.path.join(target, ".manifest.json")))
    assert 0 < len(manifest) <= 8
    assert sorted(os.listdir(os.path.join(target, ".v"))) == sorted(
        f"b{b}_v{v}" for b, v in manifest.items()
    )
    # merges still work after compaction (incl. a key whose bucket was
    # emptied: its bucket is recreated)
    late = _mk_rows([(0, 99, 7), (25, 99, 8)])
    merged = merge_into_partitioned(
        target, spark.createDataFrame(late, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )
    got = {r.key for r in merged.collect()}
    assert got == set(range(20, 30)) | {0}


def test_filter_partitioned_rejects_non_partitioned_target(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
    )

    plain = str(tmp_path / "plain")
    spark.createDataFrame(_mk_rows([(0, 1, 1)]), SCHEMA).write.parquet(plain)
    with pytest.raises(FileNotFoundError):
        filter_partitioned(spark, plain, F.lit(True))


@settings(max_examples=5, deadline=None)
@given(
    raw=rows_strategy,
    splits=st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=13, max_value=25),
    ),
    cutoff_min=st.integers(min_value=0, max_value=500),
)
def test_merge_compact_interleaving_equals_spec_fold(
    spark, tmp_path_factory, raw, splits, cutoff_min
):
    """Property: merge / compact / merge through real partitioned
    storage equals the in-memory spec fold with the same filter applied
    at the same point — compaction is semantically JUST a filter, never
    a merge-state mutation (keys re-arriving after being compacted away
    re-insert cleanly)."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
        merge_into_partitioned,
    )

    rows = _mk_rows(raw)
    a, b = splits
    batches = [rows[:a], rows[a:b], rows[b:]]
    cutoff = BASE + timedelta(minutes=cutoff_min)
    pred = F.col("ts") >= F.lit(cutoff)

    target = str(tmp_path_factory.mktemp("mcprop") / "tbl")
    spec = spark.createDataFrame([], SCHEMA)
    stored = None
    for i, batch in enumerate(batches):
        if batch:
            inc = spark.createDataFrame(batch, SCHEMA)
            stored = merge_into_partitioned(
                target, inc, keys=["key"], order_by=["ts", "seq"],
                num_buckets=4,
            )
            spec = merge_batch(spec, inc, keys=["key"], order_by=["ts", "seq"])
        if i == 1 and stored is not None:
            stored = filter_partitioned(spark, target, pred)
            spec = spec.where(pred)
    if stored is None:
        return
    assert _collect(stored) == _collect(spec)


def test_merge_partitioned_rejects_reserved_column(spark, tmp_path):
    import pytest

    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
    )

    df = spark.createDataFrame(
        [(0, 1, 2)], "key long, p_bucket long, seq long"
    )
    with pytest.raises(ValueError, match="p_bucket"):
        merge_into_partitioned(str(tmp_path / "t"), df, keys=["key"],
                               order_by=["seq"])
