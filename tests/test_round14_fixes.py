"""Regression tests: the partitioned MERGE's manifest commit protocol
(write-once version dirs, touched-only returns, interleaving detection,
typed-empty reads, orphan sweep) and ``_l2sq_decimal``'s ragged-slice
guard.

``_l2sq_decimal`` fails loudly on ragged slice lengths instead of
letting ``zip_with`` NULL-pad through the fold (the join form sums over
the (s,pos) intersection — a silent divergence class). ``semantic_dedup``
logs a steer toward ``semantic_dedup_hier`` past its quadratic knee.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

BASE = datetime(2026, 1, 1)
SCHEMA = "key long, ts timestamp, value double, seq long"


def _mk_rows(raw):
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


def test_l2sq_decimal_ragged_raises(spark):
    """ADVICE r13 #4: unequal slice lengths must raise at execution, not
    NULL-pad through the fold — fold mode's contract is uniform per-row
    dims; the join form it replaces sums over the (s,pos) intersection,
    so silence here would be a cross-mode divergence."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.similarity import (
        _l2sq_decimal,
    )

    ragged = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.0, 2.0])], "a array<double>, b array<double>"
    )
    with pytest.raises(Exception, match="ragged slice lengths"):
        ragged.select(_l2sq_decimal(F.col("a"), F.col("b")).alias("d")).collect()

    # equal lengths: exact decimal sum, unchanged
    ok = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 0.0])], "a array<double>, b array<double>"
    ).select(_l2sq_decimal(F.col("a"), F.col("b")).alias("d")).collect()
    assert float(ok[0].d) == pytest.approx(8.0)

    # NULL arrays stay NULL-in-NULL-out (what the fold already did)
    nulls = spark.createDataFrame(
        [([1.0, 2.0], None)], "a array<double>, b array<double>"
    ).select(_l2sq_decimal(F.col("a"), F.col("b")).alias("d")).collect()
    assert nulls[0].d is None


# ------------------------------------------ manifest commit protocol


def _merge(spark, target, raw, **kw):
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
    )

    return merge_into_partitioned(
        target, spark.createDataFrame(raw, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4, **kw,
    )


def _rows(df):
    return sorted((r.key, r.ts, r.value) for r in df.collect())


def test_manifest_interleaving_fails_fast_and_never_destroys(spark, tmp_path):
    """The manifest re-check detects a concurrent merge and aborts with
    the table untouched; the merge's committed version (manifest entry
    AND version dir) survives — including for buckets the compaction
    would have EMPTIED."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(k, k, 1) for k in range(30)]))

    def concurrent_merge():
        _merge(spark, target, _mk_rows([(5, 999, 7)]))

    # the condition empties EVERY bucket; the interleaved merge commits
    # between staging write and the manifest re-check
    with pytest.raises(RuntimeError, match="concurrent merge"):
        filter_partitioned(
            spark, target, F.lit(False), _before_commit=concurrent_merge,
        )
    state = {r.key: r.ts for r in read_partitioned(spark, target).collect()}
    assert state[5] == BASE + timedelta(minutes=999)
    assert len(state) == 30  # compaction aborted whole
    # rerun cleanly: full drop, typed empty, table stays mergeable
    out = filter_partitioned(spark, target, F.lit(False))
    assert out.count() == 0
    assert read_partitioned(spark, target).count() == 0
    _merge(spark, target, _mk_rows([(7, 7, 2)]))
    assert read_partitioned(spark, target).count() == 1


def test_manifest_touched_only_return(spark, tmp_path):
    """return_touched_only resolves O(touched) manifest paths — the
    returned slice is exactly the touched buckets' post-merge rows."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        _bucket_expr,
    )
    from pyspark.sql import functions as F

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(k, k, 1) for k in range(30)]))
    out = _merge(spark, target, _mk_rows([(5, 999, 7)]), return_touched_only=True)
    got = {r.key for r in out.collect()}
    # key 5's bucket, post-merge: every stored key hashing there + 5
    b5 = spark.range(30).select(
        F.col("id").alias("key"),
        _bucket_expr(["key"], 4).alias("b"),
    ).collect()
    hot = {r.key for r in b5} and {
        r.key for r in b5
        if r.b == [x.b for x in b5 if x.key == 5][0]
    }
    assert got == hot
    assert {r.ts for r in out.collect() if r.key == 5} == {
        BASE + timedelta(minutes=999)
    }


def test_manifest_version_dirs_are_write_once(spark, tmp_path):
    """Object-store shape: committed version dirs are never mutated —
    a second merge touching the same bucket writes a NEW version dir
    and retires the old one via the manifest (then deletes it as
    superseded); the manifest is the only object replaced in place."""
    import json
    import os

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(1, 1, 1)]))
    with open(os.path.join(target, ".manifest.json")) as f:
        m1 = json.load(f)
    _merge(spark, target, _mk_rows([(1, 999, 2)]))
    with open(os.path.join(target, ".manifest.json")) as f:
        m2 = json.load(f)
    (b,) = m1.keys()
    assert m2[b] == m1[b] + 1
    vroot = os.path.join(target, ".v")
    assert sorted(os.listdir(vroot)) == [f"b{b}_v{m2[b]}"], (
        "superseded version dir not retired, or committed dir mutated"
    )


# ------------- derived-K guidance warning (VERDICT r13 stretch #7)


def test_semantic_dedup_warns_past_quadratic_knee(spark, caplog):
    """With a catalog row count showing n_centroids past ~2*sqrt(n), the
    flat form logs a steer toward semantic_dedup_hier (log, not raise —
    the result is still exact); without n_rows (the demo path) it stays
    silent and never runs a count() action."""
    import logging

    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup,
    )

    e = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    with caplog.at_level(logging.WARNING):
        semantic_dedup(e, n_centroids=20, lloyd_rounds=0, threshold=0.99,
                       n_rows=40)
    assert any("semantic_dedup_hier" in r.message for r in caplog.records)

    caplog.clear()
    with caplog.at_level(logging.WARNING):
        # K below the knee, and the no-n_rows demo path: both silent
        semantic_dedup(e, n_centroids=4, lloyd_rounds=0, threshold=0.99,
                       n_rows=40)
        out = semantic_dedup(e, n_centroids=20, lloyd_rounds=0,
                             threshold=0.99)
    assert not any("semantic_dedup_hier" in r.message for r in caplog.records)
    assert out.count() == 40  # plan unaffected by the guidance param


def test_read_partitioned_emptied_tables_and_orphan_sweep(spark, tmp_path):
    """read_partitioned returns a typed empty relation for an emptied
    table; sweep_orphans deletes exactly the version dirs the manifest
    doesn't name (quiesced-writer maintenance) and refuses a path with
    no manifest."""
    import os

    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
        read_partitioned,
        sweep_orphans,
    )

    target = str(tmp_path / "tbl_emptied")
    _merge(spark, target, _mk_rows([(1, 1, 1)]))
    filter_partitioned(spark, target, F.lit(False))
    out = read_partitioned(spark, target)
    assert out.count() == 0
    assert out.columns == ["key", "ts", "value", "seq"]

    target = str(tmp_path / "tbl_sweep")
    _merge(spark, target, _mk_rows([(1, 1, 1)]))
    # plant a crash orphan: a renamed-but-never-committed version dir
    vroot = os.path.join(target, ".v")
    (live,) = os.listdir(vroot)
    orphan = os.path.join(vroot, "b0_v99")
    os.makedirs(orphan)
    before = _rows(read_partitioned(spark, target))
    deleted = sweep_orphans(target)
    assert deleted == [orphan]
    assert sorted(os.listdir(vroot)) == [live]
    assert _rows(read_partitioned(spark, target)) == before

    with pytest.raises(ValueError, match="not manifest-protocol"):
        sweep_orphans(str(tmp_path / "no_table"))


# ------- property: manifest-protocol convergence over random splits


from hypothesis import given, settings, strategies as st  # noqa: E402

_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=500),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=5, deadline=None)
@given(raw=_rows_strategy, split=st.integers(min_value=0, max_value=25))
def test_manifest_merge_batch_split_parity_property(
    spark, tmp_path_factory, raw, split
):
    """ANY two-way batch split through the manifest-committed runtime
    equals merge_batch folded in memory (merge_batch IS the spec)."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_batch,
        merge_into_partitioned,
    )

    rows = _mk_rows(raw)
    target = str(tmp_path_factory.mktemp("mmerge") / "tbl")
    state_mem = spark.createDataFrame([], SCHEMA)
    stored = state_mem
    for b in (rows[:split], rows[split:]):
        if not b:
            continue
        inc = spark.createDataFrame(b, SCHEMA)
        stored = merge_into_partitioned(
            target, inc, keys=["key"], order_by=["ts", "seq"],
            num_buckets=4,
        )
        state_mem = merge_batch(
            state_mem, inc, keys=["key"], order_by=["ts", "seq"]
        )
    assert sorted(tuple(r) for r in stored.collect()) == sorted(
        tuple(r) for r in state_mem.collect()
    )


def test_manifest_read_pushes_filters_to_scan(spark, tmp_path):
    """The manifest-resolved read path is a plain parquet scan over
    explicit version-dir paths — predicate pushdown and column pruning
    must reach it exactly like any other scan (the 100 TB read-path
    contract; a manifest indirection that broke pushdown would be a
    silent full-scan regression)."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(k, k, k % 3) for k in range(50)]))
    df = read_partitioned(spark, target).where(F.col("key") == 7).select(
        "key", "value"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(key), EqualTo(key,7)" in plan, plan
    assert "ReadSchema: struct<key:bigint,value:double>" in plan, plan
    assert [r.key for r in df.collect()] == [7]
