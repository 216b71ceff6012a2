"""Property tests for the upsert kernel (SURVEY.md §5.3).

Invariant: replaying any interleaving / batching of updates through
``merge_batch`` produces exactly "latest observation per key", with
``upsert_ignore`` the mirror (earliest per key) — the set-based equivalent
of the reference's per-row ``ON CONFLICT`` upserts
(``realtime_extractor.py:205-230``).

Hypothesis drives the row generator; the Spark invocation itself runs on a
few deterministic draws per property (Spark jobs are too slow for hundreds
of examples), with the RNG seeded per-example by hypothesis.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.operators.upsert import (
    merge_batch,
    replay_conflict_update,
    upsert_ignore,
    upsert_keep_newest,
)

BASE = datetime(2026, 1, 1)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=500),  # ts offset minutes
        st.integers(min_value=0, max_value=5),  # value
    ),
    min_size=1,
    max_size=25,
)


def _mk_rows(raw):
    # seq is the unique tiebreaker (arrival order)
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


def _expected_latest(rows):
    best = {}
    for k, ts, v, seq in rows:
        if k not in best or (ts, seq) > (best[k][1], best[k][3]):
            best[k] = (k, ts, v, seq)
    return {k: (r[1], r[2], r[3]) for k, r in best.items()}


def _expected_earliest(rows):
    best = {}
    for k, ts, v, seq in rows:
        if k not in best or (ts, seq) < (best[k][1], best[k][3]):
            best[k] = (k, ts, v, seq)
    return {k: (r[1], r[2], r[3]) for k, r in best.items()}


SCHEMA = "key long, ts timestamp, value double, seq long"


@settings(max_examples=12, deadline=None)
@given(raw=rows_strategy, split=st.integers(min_value=0, max_value=25))
def test_merge_batch_equals_latest_per_key(spark, raw, split):
    rows = _mk_rows(raw)
    split = min(split, len(rows))
    existing = spark.createDataFrame(rows[:split] or [], SCHEMA)
    incoming = spark.createDataFrame(rows[split:] or [], SCHEMA)
    out = merge_batch(existing, incoming, keys=["key"], order_by=["ts", "seq"]).collect()
    got = {r["key"]: (r["ts"], r["value"], r["seq"]) for r in out}
    assert got == _expected_latest(rows)


@settings(max_examples=12, deadline=None)
@given(raw=rows_strategy)
def test_upsert_ignore_equals_earliest_per_key(spark, raw):
    rows = _mk_rows(raw)
    df = spark.createDataFrame(rows, SCHEMA)
    out = upsert_ignore(df, keys=["key"], order_by=["ts", "seq"]).collect()
    got = {r["key"]: (r["ts"], r["value"], r["seq"]) for r in out}
    assert got == _expected_earliest(rows)


def test_updated_at_set_only_when_tracked_changed(spark):
    rows = [
        # key 1: value changes between last two versions → updated_at set
        (1, BASE, 1.0, 0),
        (1, BASE + timedelta(minutes=1), 2.0, 1),
        # key 2: same value re-delivered → updated_at NULL
        (2, BASE, 5.0, 2),
        (2, BASE + timedelta(minutes=1), 5.0, 3),
        # key 3: single version → no previous → updated_at NULL
        (3, BASE, 7.0, 4),
    ]
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "now_ts", F.to_timestamp(F.lit("2026-02-01 00:00:00"))
    )
    out = upsert_keep_newest(
        df, keys=["key"], order_by=["ts", "seq"], tracked=["value"], now_col="now_ts"
    ).collect()
    by_key = {r["key"]: r for r in out}
    assert by_key[1]["updated_at"] == datetime(2026, 2, 1)
    assert by_key[2]["updated_at"] is None
    assert by_key[3]["updated_at"] is None
    assert by_key[1]["value"] == 2.0 and by_key[2]["value"] == 5.0


def _expected_replay(rows):
    """Python fold of the reference's ON CONFLICT DO UPDATE ... WHERE changed:
    per key in (ts, seq) order, state advances only when value differs."""
    state = {}
    for k, ts, v, seq in sorted(rows, key=lambda r: (r[0], r[1], r[3])):
        if k not in state:
            state[k] = {"ts": ts, "value": v, "seq": seq, "created": ts, "updated": None}
        elif state[k]["value"] != v:
            state[k].update(ts=ts, value=v, seq=seq, updated=ts)
    return state


def _replay_result_by_key(out):
    return {
        r["key"]: {
            "ts": r["ts"],
            "value": r["value"],
            "seq": r["seq"],
            "created": r["created_at"],
            "updated": r["updated_at"],
        }
        for r in out
    }


@settings(max_examples=12, deadline=None)
@given(raw=rows_strategy, split=st.integers(min_value=0, max_value=25))
def test_replay_conflict_update_matches_sequential_fold(spark, raw, split):
    """replay_conflict_update == the row-at-a-time ON CONFLICT fold, and
    merging in two micro-batches (split on observation order) gives the
    same state as one replay — batching invariance."""
    rows = _mk_rows(raw)
    # de-dup identical (key, ts, seq is unique already); replay order is (ts, seq)
    ordered = sorted(rows, key=lambda r: (r[1], r[3]))
    df = spark.createDataFrame(rows, SCHEMA)
    out = replay_conflict_update(
        df, keys=["key"], order_by=["ts", "seq"], tracked=["value"], ts_col="ts"
    ).collect()
    assert _replay_result_by_key(out) == _expected_replay(rows)

    split = min(split, len(ordered))
    b1 = spark.createDataFrame(ordered[:split] or [], SCHEMA)
    b2 = spark.createDataFrame(ordered[split:] or [], SCHEMA)
    state1 = merge_batch(
        b1.limit(0), b1, keys=["key"], order_by=["ts", "seq"], tracked=["value"], ts_col="ts"
    )
    state2 = merge_batch(
        state1, b2, keys=["key"], order_by=["ts", "seq"], tracked=["value"], ts_col="ts"
    ).collect()
    assert _replay_result_by_key(state2) == _expected_replay(rows)


def test_unchanged_redelivery_keeps_stored_payload(spark):
    """The ADVICE scenario: a poll with unchanged tracked times but new
    weather must keep the stored row entirely — old weather, old
    updated_at — exactly like the reference's suppressed update."""
    schema = "key long, ts timestamp, value double, weather string, seq long"
    t0, t1, t2 = BASE, BASE + timedelta(minutes=1), BASE + timedelta(minutes=2)
    rows = [
        (1, t0, 1.0, "clear", 0),   # insert
        (1, t1, 2.0, "rain", 1),    # tracked changed → update fires, weather=rain
        (1, t2, 2.0, "snow", 2),    # tracked unchanged → suppressed entirely
    ]
    df = spark.createDataFrame(rows, schema)
    out = replay_conflict_update(
        df, keys=["key"], order_by=["ts", "seq"], tracked=["value"], ts_col="ts"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["value"] == 2.0
    assert r["weather"] == "rain"       # NOT snow: unchanged poll was suppressed
    assert r["updated_at"] == t1        # last real change, not last poll
    assert r["created_at"] == t0        # first observation
    assert r["seq"] == 1


def test_replay_null_transitions_count_as_changes(spark):
    schema = "key long, ts timestamp, value double, seq long"
    t = [BASE + timedelta(minutes=i) for i in range(4)]
    rows = [
        (1, t[0], None, 0),   # insert with NULL tracked
        (1, t[1], None, 1),   # NULL → NULL: unchanged, suppressed
        (1, t[2], 3.0, 2),    # NULL → value: changed
        (1, t[3], None, 3),   # value → NULL: changed
    ]
    df = spark.createDataFrame(rows, schema)
    r = replay_conflict_update(
        df, keys=["key"], order_by=["ts", "seq"], tracked=["value"], ts_col="ts"
    ).collect()[0]
    assert r["seq"] == 3 and r["value"] is None
    assert r["updated_at"] == t[3] and r["created_at"] == t[0]


def test_merge_batch_carries_existing_audit_columns(spark):
    """Pre-existing state (with created_at/updated_at) + a batch that does
    not change tracked values → output keeps the carried audit columns."""
    schema = "key long, ts timestamp, value double, seq long"
    audit_schema = (
        "key long, ts timestamp, value double, seq long,"
        " created_at timestamp, updated_at timestamp"
    )
    t0, t1, t2 = BASE, BASE + timedelta(minutes=5), BASE + timedelta(minutes=9)
    existing = spark.createDataFrame([(1, t1, 4.0, 7, t0, t1)], audit_schema)
    incoming = spark.createDataFrame([(1, t2, 4.0, 8)], schema)
    r = merge_batch(
        existing, incoming, keys=["key"], order_by=["ts", "seq"],
        tracked=["value"], ts_col="ts",
    ).collect()[0]
    assert r["seq"] == 7                 # stored row survived the no-op poll
    assert r["created_at"] == t0         # first-insert stamp preserved
    assert r["updated_at"] == t1         # last-change stamp preserved


def test_updated_at_set_when_previous_value_null(spark):
    rows = [
        # previous version has NULL value; newest has a value → changed
        (1, BASE, None, 0),
        (1, BASE + timedelta(minutes=1), 3.0, 1),
        # previous has a value; newest is NULL → also changed
        (2, BASE, 5.0, 2),
        (2, BASE + timedelta(minutes=1), None, 3),
    ]
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "now_ts", F.to_timestamp(F.lit("2026-02-01 00:00:00"))
    )
    out = upsert_keep_newest(
        df, keys=["key"], order_by=["ts", "seq"], tracked=["value"], now_col="now_ts"
    ).collect()
    by_key = {r["key"]: r for r in out}
    assert by_key[1]["updated_at"] == datetime(2026, 2, 1)
    assert by_key[2]["updated_at"] == datetime(2026, 2, 1)


def test_merge_into_rewrite_backend_parity(spark, tmp_path):
    """merge_into through real storage == merge_batch
    folded in memory (merge_batch IS the specification), batch-split
    invariant, first batch bootstraps the table."""
    from transit_efficiency_analysis_spark.operators.upsert import merge_into

    rows = _mk_rows([(k % 4, (k * 37) % 500, k % 6) for k in range(30)])
    batches = [rows[:10], rows[10:18], rows[18:]]
    target = str(tmp_path / "state_tbl")

    state_mem = spark.createDataFrame([], SCHEMA)
    for b in batches:
        inc = spark.createDataFrame(b, SCHEMA)
        stored = merge_into(target, inc, keys=["key"], order_by=["ts", "seq"])
        state_mem = merge_batch(state_mem, inc, keys=["key"], order_by=["ts", "seq"])

    got = sorted(tuple(r) for r in stored.collect())
    want = sorted(tuple(r) for r in state_mem.collect())
    assert got == want
    # and both equal the single-shot latest-per-key on the full stream
    exp = _expected_latest(rows)
    assert {r[0]: (r[1], r[2], r[3]) for r in got} == exp
    # storage really is the carrier: a fresh read sees the same state
    again = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert again == want


def test_merge_into_rewrite_corrupt_target_raises(spark, tmp_path):
    """A read failure on an EXISTING target must re-raise, never be treated
    as 'first batch' (which would silently replace the committed table with
    just the incoming rows). Absence is probed explicitly, not inferred
    from exceptions."""
    import pytest

    from transit_efficiency_analysis_spark.operators.upsert import merge_into

    target = tmp_path / "corrupt_tbl"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    inc = spark.createDataFrame(_mk_rows([(0, 10, 1)]), SCHEMA)
    with pytest.raises(Exception):
        merge_into(str(target), inc, keys=["key"], order_by=["ts", "seq"])
    # the corrupt table was NOT overwritten
    assert (target / "part-00000.parquet").read_bytes().startswith(b"this is")


def test_merge_into_rewrite_tracked_replay(spark, tmp_path):
    """tracked-change mode through storage: unchanged re-deliveries keep
    the stored row; parity vs replay_conflict_update over the union."""
    from transit_efficiency_analysis_spark.operators.upsert import merge_into

    rows = _mk_rows(
        [(0, 10, 1), (0, 20, 1), (0, 30, 2), (1, 5, 3), (1, 6, 3)]
    )
    target = str(tmp_path / "tracked_tbl")
    stored = None
    for b in (rows[:2], rows[2:]):
        inc = spark.createDataFrame(b, SCHEMA)
        stored = merge_into(
            target, inc, keys=["key"], order_by=["ts", "seq"],
            tracked=["value"], ts_col="ts",
        )
    want_df = replay_conflict_update(
        spark.createDataFrame(rows, SCHEMA).withColumn(
            "created_at", F.lit(None).cast("timestamp")
        ).withColumn("updated_at", F.lit(None).cast("timestamp")),
        keys=["key"], order_by=["ts", "seq"], tracked=["value"], ts_col="ts",
    )
    key = lambda r: r["key"]
    got = sorted(stored.collect(), key=key)
    want = sorted(want_df.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_merge_into_sql_executes_merge_conditions(spark, tmp_path):
    """merge_into_sql runs merge_match_condition/merge_newer_condition
    for real (full-outer-join compilation over parquet state): batch-
    split invariant vs merge_batch, matched-but-OLDER sources must keep
    the stored row, unmatched sources insert, first batch bootstraps."""
    from transit_efficiency_analysis_spark.operators.upsert import merge_into_sql

    rows = _mk_rows([(k % 4, (k * 37) % 500, k % 6) for k in range(30)])
    batches = [rows[:10], rows[10:18], rows[18:]]
    target = str(tmp_path / "sql_state_tbl")

    state_mem = spark.createDataFrame([], SCHEMA)
    for b in batches:
        inc = spark.createDataFrame(b, SCHEMA)
        stored = merge_into_sql(target, inc, keys=["key"], order_by=["ts", "seq"])
        state_mem = merge_batch(state_mem, inc, keys=["key"], order_by=["ts", "seq"])

    got = sorted(tuple(r) for r in stored.collect())
    want = sorted(tuple(r) for r in state_mem.collect())
    assert got == want
    assert {r[0]: (r[1], r[2], r[3]) for r in got} == _expected_latest(rows)
    # storage is the carrier: a fresh read sees the committed state
    again = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert again == want


def test_merge_into_sql_older_batch_never_clobbers(spark, tmp_path):
    """The strictly-newer guard, isolated: an entire batch of stale
    observations for already-stored keys must leave the table unchanged
    (the broken-newer-condition failure mode the oracle demo also pins)."""
    from transit_efficiency_analysis_spark.operators.upsert import merge_into_sql

    target = str(tmp_path / "stale_tbl")
    fresh = _mk_rows([(0, 100, 1), (1, 200, 2)])
    merge_into_sql(
        target, spark.createDataFrame(fresh, SCHEMA),
        keys=["key"], order_by=["ts", "seq"],
    )
    # seq continues AFTER the stored rows but ts is strictly older
    stale = [
        (0, BASE + timedelta(minutes=5), 9.0, 10),
        (1, BASE + timedelta(minutes=5), 9.0, 11),
    ]
    out = merge_into_sql(
        target, spark.createDataFrame(stale, SCHEMA),
        keys=["key"], order_by=["ts", "seq"],
    )
    got = {r.key: (r.ts, r.value) for r in out.collect()}
    assert got == {
        0: (BASE + timedelta(minutes=100), 1.0),
        1: (BASE + timedelta(minutes=200), 2.0),
    }


def test_merge_into_sql_null_keys_match_nullsafe(spark, tmp_path):
    """<=> in the executed match condition: a NULL key component matches
    NULL (one stored row per NULL key, updated in place), never fans out
    into repeated inserts."""
    from transit_efficiency_analysis_spark.operators.upsert import merge_into_sql

    target = str(tmp_path / "nullkey_tbl")
    b1 = [(None, BASE + timedelta(minutes=1), 1.0, 0),
          (7, BASE + timedelta(minutes=1), 1.0, 1)]
    b2 = [(None, BASE + timedelta(minutes=2), 2.0, 2)]
    merge_into_sql(target, spark.createDataFrame(b1, SCHEMA),
                   keys=["key"], order_by=["ts", "seq"])
    out = merge_into_sql(target, spark.createDataFrame(b2, SCHEMA),
                         keys=["key"], order_by=["ts", "seq"])
    rows = sorted(out.collect(), key=lambda r: (r.key is None, r.key or 0))
    assert len(rows) == 2
    null_row = [r for r in rows if r.key is None]
    assert len(null_row) == 1 and null_row[0].value == 2.0


@settings(max_examples=8, deadline=None)
@given(raw=rows_strategy, split=st.integers(min_value=0, max_value=25))
def test_merge_into_sql_batch_split_invariant(spark, tmp_path_factory, raw, split):
    """Property form of the executed-MERGE parity: ANY two-way batch
    split folded through merge_into_sql's storage path equals the
    in-memory merge_batch fold (merge_batch IS the specification)."""
    from transit_efficiency_analysis_spark.operators.upsert import merge_into_sql

    rows = _mk_rows(raw)
    split = min(split, len(rows))
    target = str(tmp_path_factory.mktemp("msql") / "tbl")
    state_mem = spark.createDataFrame([], SCHEMA)
    stored = None
    for b in (rows[:split], rows[split:]):
        if not b:
            continue
        inc = spark.createDataFrame(b, SCHEMA)
        stored = merge_into_sql(target, inc, keys=["key"], order_by=["ts", "seq"])
        state_mem = merge_batch(state_mem, inc, keys=["key"], order_by=["ts", "seq"])
    got = sorted(tuple(r) for r in stored.collect())
    want = sorted(tuple(r) for r in state_mem.collect())
    assert got == want


def test_merge_sql_plan_single_join_no_cartesian(spark):
    """The executed MERGE must compile to ONE full-outer EQUI-join on
    the match keys — never a cartesian/nested-loop (which a malformed
    match condition would produce) — so the storage merge is one
    exchange pair at 100 TB. Tested on the plan itself (merge_sql_plan),
    not the committed re-read."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_sql_plan,
        upsert_keep_newest,
    )
    from transit_efficiency_analysis_spark.plans import physical_plan

    existing = spark.createDataFrame(_mk_rows([(0, 10, 1), (1, 20, 2)]), SCHEMA)
    batch = upsert_keep_newest(
        spark.createDataFrame(_mk_rows([(0, 30, 3)]), SCHEMA),
        keys=["key"],
        order_by=["ts", "seq"],
    )
    plan = physical_plan(
        merge_sql_plan(existing, batch, keys=["key"], order_by=["ts", "seq"])
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "FullOuter" in plan
