"""Round-13 regression tests (VERDICT r12 asks + ADVICE items).

- The FLAT ``semantic_dedup`` assignment (and the Lloyd-round assignment
  inside ``ivf_centroids``) adopted the broadcast-array fold — the last
  n × K data-proportional assignment exchanges in the tree (ask #1).
  Plan-pinned map-only here; output parity with the pre-rewrite form is
  carried by the unchanged oracle values and the flat==hier(coarse=1)
  bit-equality test in tests/test_spans_budget.py.
- Zero-norm vectors survive the FLAT form with kept=true (the r12 hier
  regression test, extended to the flat form per ask #1's done criteria).
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

BASE = datetime(2026, 1, 1)
SCHEMA = "key long, ts timestamp, value double, seq long"


def _mk_rows(raw):
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


def test_semantic_dedup_flat_assignment_is_map_only(spark, sf_dir):
    """Round-13 rewrite (VERDICT r12 ask #1): the flat nearest-cell
    assignment must be a broadcast-array fold, never an n × K row
    fan-out collapsed by a per-vec_id rank window. With lloyd_rounds=0
    the ONLY data-proportional exchanges allowed in the whole plan
    belong to _keep_first_in_cells' pairing stage (the dup groupBy +
    join-back — 2); no Window may be partitioned by the vector id."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup,
    )
    from transit_efficiency_analysis_spark.plans import (
        count_shuffles,
        physical_plan,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = semantic_dedup(e, n_centroids=8, lloyd_rounds=0, threshold=0.3)
    plan = physical_plan(out)
    assert "windowspecdefinition(vec_id" not in plan, (
        "flat assignment regressed to a per-vec_id rank window"
    )
    # <= 2 pairing-stage (hash) shuffles; the only other exchange
    # allowed is the round-15 small-input parallelism guard's
    # ROUND-ROBIN (fires at this test's single-split scale — a no-op on
    # any split-rich input; see _ensure_min_parallelism). Counting the
    # hash exchanges separately keeps the original regression coverage:
    # a third data-proportional KEYED shuffle still fails (review r15).
    assert plan.lower().count("exchange hashpartitioning") <= 2
    assert count_shuffles(out) <= 3


def test_semantic_dedup_lloyd_round_assignment_is_fold(spark, sf_dir):
    """The Lloyd-round assignment inside ivf_centroids uses the same
    fold: with lloyd_rounds=1 the plan gains centroid-mean aggregations
    (keyed by cell/pos — K-proportional, fine) but still NO per-vec_id
    rank window anywhere (the pre-r13 form exchanged n × K rows per
    Lloyd round)."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup,
    )
    from transit_efficiency_analysis_spark.plans import physical_plan
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = semantic_dedup(e, n_centroids=8, lloyd_rounds=1, threshold=0.3)
    assert "windowspecdefinition(vec_id" not in physical_plan(out), (
        "Lloyd-round assignment regressed to a per-vec_id rank window"
    )


def test_semantic_dedup_flat_keeps_zero_norm_vectors(spark):
    """A zero-norm vector scores 0.0 against every (normalized)
    centroid in the fold, ties to the smallest cell, and appears in the
    output with kept=true (its pairing cosines are NULL via try_divide,
    which never satisfies >= threshold) — the r12 hier regression
    extended to the flat form. Zero vectors also seed zero-norm
    CENTROIDS here (they sort first in the md5 draw at these sizes
    sometimes; either way the fold's NULL-skip handles them)."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(3)] + [
        (i, [float(i), 1.0, 0.0, 0.5]) for i in range(3, 8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for lr in (0, 1):
        out = {
            r.vec_id: r
            for r in semantic_dedup(
                df, n_centroids=4, lloyd_rounds=lr, threshold=0.95
            ).collect()
        }
        assert len(out) == len(rows), "zero-norm rows were dropped"
        for i in range(3):
            assert out[i].kept and out[i].dup_of is None


# --------------------------------------- partitioned MERGE (asks #3/#4/#6)


def _data_files(d):
    return [
        f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
    ]


def test_merge_wide_route_clusters_write_and_converges(spark, tmp_path):
    """A batch touching >= wide_threshold of the buckets takes the
    bucket-clustered write: each bucket's version dir holds exactly ONE
    data file (the direct route leaves one per shuffle task holding
    rows of that bucket), and the merged state still equals
    keep-newest-per-key over everything merged — routing must never
    change semantics."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
        upsert_keep_newest,
    )

    target = str(tmp_path / "tbl")
    seed = _mk_rows([(k, 10, 1) for k in range(60)])  # touches all buckets
    sdf = spark.createDataFrame(seed, SCHEMA)
    merge_into_partitioned(
        target, sdf, keys=["key"], order_by=["ts", "seq"], num_buckets=8
    )
    wide = _mk_rows([(k, 20, 2) for k in range(60)])  # all buckets again
    wdf = spark.createDataFrame(wide, SCHEMA)
    out = merge_into_partitioned(
        target, wdf, keys=["key"], order_by=["ts", "seq"], num_buckets=8
    )
    vroot = os.path.join(target, ".v")
    for name in os.listdir(vroot):
        files = _data_files(os.path.join(vroot, name))
        assert len(files) == 1, (
            f"wide route should write one file per bucket, {name} has "
            f"{len(files)}"
        )
    expect = {
        (r.key, r.ts, r.value, r.seq)
        for r in upsert_keep_newest(
            sdf.unionByName(wdf), ["key"], ["ts", "seq"]
        ).collect()
    }
    assert {(r.key, r.ts, r.value, r.seq) for r in out.collect()} == expect


def test_merge_trickle_route_still_direct_and_converges(spark, tmp_path):
    """A trickle batch (below the threshold) keeps the direct write and
    the same convergence guarantee; with wide_threshold=1.1 even an
    all-bucket batch is forced down the direct route — both routes are
    reachable by parameter, per the ask's 'unit test for both
    routes'."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
        upsert_keep_newest,
    )

    target = str(tmp_path / "tbl")
    seed = _mk_rows([(k, 10, 1) for k in range(60)])
    sdf = spark.createDataFrame(seed, SCHEMA)
    merge_into_partitioned(
        target, sdf, keys=["key"], order_by=["ts", "seq"], num_buckets=8,
        wide_threshold=1.1,
    )
    trickle = _mk_rows([(0, 30, 9)])
    tdf = spark.createDataFrame(trickle, SCHEMA)
    out = merge_into_partitioned(
        target, tdf, keys=["key"], order_by=["ts", "seq"], num_buckets=8
    )
    expect = {
        (r.key, r.ts, r.value, r.seq)
        for r in upsert_keep_newest(
            sdf.unionByName(tdf), ["key"], ["ts", "seq"]
        ).collect()
    }
    assert {(r.key, r.ts, r.value, r.seq) for r in out.collect()} == expect


def test_merge_return_touched_only(spark, tmp_path):
    """return_touched_only=True returns exactly the touched partitions'
    post-merge rows (the maintenance-loop slice), never the whole
    table."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        _bucket_expr,
        merge_into_partitioned,
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    seed = _mk_rows([(k, 10, 1) for k in range(60)])
    merge_into_partitioned(
        target, spark.createDataFrame(seed, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )
    batch = _mk_rows([(0, 30, 9), (1, 30, 9)])
    bdf = spark.createDataFrame(batch, SCHEMA)
    out = merge_into_partitioned(
        target, bdf, keys=["key"], order_by=["ts", "seq"], num_buckets=8,
        return_touched_only=True,
    )
    touched = {
        r.b for r in bdf.select(_bucket_expr(["key"], 8).alias("b")).collect()
    }
    full = read_partitioned(spark, target)
    expect = {
        (r.key, r.ts, r.value, r.seq)
        for r in full.withColumn("b", _bucket_expr(["key"], 8))
        .where(full["key"].isNotNull())
        .collect()
        if r.b in touched
    }
    got = {(r.key, r.ts, r.value, r.seq) for r in out.collect()}
    assert got == expect
    assert len(got) < 60  # strictly a slice, not the table


def test_merge_meta_recovery_and_atomic_first(spark, tmp_path):
    """The layout meta is committed before the first manifest swap, via
    temp file + os.replace: after the crash window it leaves (meta-only
    dir, no manifest), the next merge treats the table as empty and
    recreates it."""
    import json

    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
    )

    target = tmp_path / "tbl"
    target.mkdir()
    # simulate the crash window: meta landed, no manifest yet
    (target / ".merge_meta.json").write_text(
        json.dumps({"num_buckets": 99, "keys": ["key"], "order_by": ["ts"],
                    "commit": "manifest"})
    )
    out = merge_into_partitioned(
        str(target), spark.createDataFrame(_mk_rows([(0, 1, 1)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )
    assert out.count() == 1
    meta = json.loads((target / ".merge_meta.json").read_text())
    assert meta["num_buckets"] == 8  # recreated, not the stale crash relic
    # no stray temp meta files left behind
    assert not [n for n in os.listdir(target) if n.startswith(".merge_meta_")]


def test_filter_partitioned_fails_fast_on_concurrent_merge(spark, tmp_path):
    """Interleaving (VERDICT r12 ask #4): a merge committing between
    compaction's read and its swap must NOT be silently overwritten.
    The version snapshot detects it, the compaction raises with the
    table untouched, and the merge's update survives."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
        merge_into_partitioned,
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    seed = _mk_rows([(k, k, 1) for k in range(30)])
    merge_into_partitioned(
        target, spark.createDataFrame(seed, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=8,
    )

    def concurrent_merge():
        merge_into_partitioned(
            target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=8,
        )

    cutoff = BASE + timedelta(minutes=20)
    with pytest.raises(RuntimeError, match="concurrent merge"):
        filter_partitioned(
            spark, target, F.col("ts") >= F.lit(cutoff),
            _before_commit=concurrent_merge,
        )
    # the merge survived; the compaction changed nothing
    state = {r.key: r.ts for r in read_partitioned(spark, target).collect()}
    assert state[5] == BASE + timedelta(minutes=999)
    assert len(state) == 30  # nothing expired — compaction aborted whole
    # rerun without interleaving: succeeds and applies the filter
    out = filter_partitioned(spark, target, F.col("ts") >= F.lit(cutoff))
    keys = sorted(r.key for r in out.collect())
    assert keys == sorted(set(range(20, 30)) | {5})


# ------------------------------------ incremental dedup persist lifecycle


def test_incremental_minhash_persists_released_per_batch(spark):
    """VERDICT r12 ask #5: the maintenance-loop mode (consume=...) owns
    the per-doc persists — after each simulated
    micro-batch the session's persistent-RDD count is back to its
    baseline (a sustained foreachBatch ingest no longer accumulates one
    DISK_ONLY pair per batch)."""
    from transit_efficiency_analysis_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    def persistent_ids() -> set[int]:
        # IDs, not a count: Spark's ContextCleaner asynchronously
        # unpersists relations earlier tests garbage-collected, so an
        # equality on the COUNT flakes when such a drop lands mid-test
        # (observed in r15's suite run 4). A leak is GROWTH — new ids
        # surviving the batch — which id-set difference detects
        # regardless of concurrent drops of unrelated old ids.
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon w{i % 4} zeta eta theta")
         for i in range(24)],
        "doc_id long, text string",
    )
    base_ids = persistent_ids()
    counts = []
    for b in range(3):  # the foreachBatch shape: batch vs standing corpus
        counts.append(
            minhash_lsh_pairs_incremental(
                docs.where(docs.doc_id % 3 != b),
                docs.where(docs.doc_id % 3 == b),
                "doc_id",
                "text",
                k=3,
                bands=6,
                threshold=0.5,
                consume=lambda pairs: pairs.count(),
            )
        )
        leaked = persistent_ids() - base_ids
        assert not leaked, f"persists leaked across a batch: {leaked}"
    assert all(isinstance(c, int) for c in counts)
    assert sum(counts) > 0  # near-identical docs: the screen finds pairs
    # one-shot mode unchanged: lazy DataFrame back, persists alive
    lazy = minhash_lsh_pairs_incremental(
        docs.where(docs.doc_id % 3 != 0),
        docs.where(docs.doc_id % 3 == 0),
        "doc_id",
        "text",
    )
    assert lazy.count() == counts[0]
    spark.catalog.clearCache()


# -------------------------------------------- fold-assign property test

from hypothesis import given, settings, strategies as st

_comp = st.sampled_from([0.0, 1.0, -1.0, 0.5, 2.0])
_vec3 = st.tuples(_comp, _comp, _comp)


@settings(max_examples=15, deadline=None)
@given(
    vecs=st.lists(_vec3, min_size=1, max_size=8),
    cents=st.lists(_vec3, min_size=1, max_size=5),
)
def test_fold_assign_matches_reference_argmax(spark, vecs, cents):
    """_fold_assign == a Python reference argmax with the exact same
    IEEE arithmetic (sequential left-fold dot, per-element cv/cn
    normalization) and tie-breaks: max raw dot vs the pre-normalized
    centroid, ties -> smallest cell, NULL scores (zero-norm centroid)
    skipped, ALL-NULL -> smallest cell. The finite component set makes
    exact ties common — the regime where fold and rank forms could
    diverge."""
    import math

    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.functions.vectors import (
        as_double,
        norm,
    )
    from transit_efficiency_analysis_spark.operators.similarity import (
        _fold_assign,
    )

    base = spark.createDataFrame(
        [(i, list(v)) for i, v in enumerate(vecs)],
        "vec_id long, emb array<double>",
    ).select(
        "vec_id",
        as_double(F.col("emb")).alias("v"),
        norm(as_double(F.col("emb"))).alias("vn"),
    )
    cdf = spark.createDataFrame(
        [(j, list(c)) for j, c in enumerate(cents)],
        "cell long, emb array<double>",
    ).select(
        "cell",
        as_double(F.col("emb")).alias("cv"),
        norm(as_double(F.col("emb"))).alias("cn"),
    )
    got = {r.vec_id: r.cell for r in _fold_assign(base, cdf).collect()}

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def ref_cell(v):
        best_s, best_c = None, 0  # all-NULL fallback: smallest cell id
        for j, c in enumerate(cents):
            cn = math.sqrt(seq_dot(c, c))
            if cn == 0.0:
                continue  # cvu all-NULL -> dot NULL -> skipped
            d = seq_dot(v, [x / cn for x in c])
            if best_s is None or d > best_s:
                best_s, best_c = d, j
        return best_c

    assert got == {i: ref_cell(v) for i, v in enumerate(vecs)}
    assert len(got) == len(vecs)


rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=500),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None)
@given(raw=rows_strategy, split=st.integers(min_value=1, max_value=24))
def test_merge_routes_commit_identical_state(
    spark, tmp_path_factory, raw, split
):
    """Property: merging the same batch sequence through
    wide_threshold=0.0 (every batch takes the clustered route) and
    wide_threshold=1.1 (every batch takes the direct route) commits
    IDENTICAL table state after every merge — routing is purely a
    physical-write strategy, invisible to semantics."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
    )

    rows = _mk_rows(raw)
    df = spark.createDataFrame(rows, SCHEMA)
    b1 = df.where(df.seq < split)
    b2 = df.where(df.seq >= split)
    root = tmp_path_factory.mktemp("routes")
    clustered, direct = str(root / "clustered"), str(root / "direct")
    for batch in (b1, b2):
        if batch.isEmpty():
            continue
        got_c = merge_into_partitioned(
            clustered, batch, ["key"], ["ts", "seq"], num_buckets=4,
            wide_threshold=0.0,
        )
        got_d = merge_into_partitioned(
            direct, batch, ["key"], ["ts", "seq"], num_buckets=4,
            wide_threshold=1.1,
        )
        state_c = sorted(map(tuple, got_c.collect()))
        state_d = sorted(map(tuple, got_d.collect()))
        assert state_c == state_d


# ------------------------------------------ ivf_topk fold assignment


def test_ivf_topk_fold_assignment_is_map_only(spark, sf_dir):
    """The fold assignment relation must contain no per-vec_id rank
    window and no data-proportional exchange at all — only the
    broadcast of the centroid array."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.functions.vectors import (
        as_double,
        norm,
    )
    from transit_efficiency_analysis_spark.operators.similarity import (
        _fold_topk_cells,
        ivf_centroids,
    )
    from transit_efficiency_analysis_spark.plans import (
        count_shuffles,
        physical_plan,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, "vec_id", "embedding", 8, lloyd_rounds=0)
    base = e.select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        norm(as_double(F.col("embedding"))).alias("vn"),
    )
    ranked = _fold_topk_cells(base, cents, n_probe=2)
    plan = physical_plan(ranked)
    assert "windowspecdefinition(vec_id" not in plan
    # the only exchanges feed the tiny centroid-array aggregate (the
    # take-ordered seed + single-partition collect_list) — nothing
    # keyed on the data side
    assert "Exchange hashpartitioning(vec_id" not in plan
    assert count_shuffles(ranked) <= 1  # the centroid-array singleton agg
    # sanity: every vector got <= n_probe distinct cells, crank in {1,2}
    got = ranked.groupBy("vec_id").count().agg(F.max("count")).first()[0]
    assert got <= 2


def test_ivf_topk_fold_zero_norm_centroid_divergence(spark):
    """The fold never probes a zero-norm centroid (its NULL score is
    filtered): with exactly one useful centroid and n_probe=2 the
    assignment relation holds that one cell only."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.functions.vectors import (
        as_double,
        norm,
    )
    from transit_efficiency_analysis_spark.operators.similarity import (
        _fold_topk_cells,
    )

    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], "cell int, emb array<double>"
    ).select(
        "cell",
        as_double(F.col("emb")).alias("cv"),
        norm(as_double(F.col("emb"))).alias("cn"),
    )
    base = spark.createDataFrame(
        [(7, [2.0, 1.0])], "vec_id long, emb array<double>"
    ).select(
        "vec_id",
        as_double(F.col("emb")).alias("v"),
        norm(as_double(F.col("emb"))).alias("vn"),
    )
    got = {(r.cell, r.crank) for r in _fold_topk_cells(base, cents, 2).collect()}
    assert got == {(1, 1)}  # the zero-norm cell 0 is never probed


def test_ivf_pq_topk_fold_plan_no_vecid_windows(spark, sf_dir):
    """Fold-mode ivf_pq_topk must carry NO per-vec_id window anywhere —
    neither a coarse-assignment rank nor an encode argmin. The only
    window left is the final candidate top-k,
    partitioned by query_id over cell-bounded candidates."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from transit_efficiency_analysis_spark.plans import physical_plan
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = physical_plan(ivf_pq_topk(e, checkpoint=False))
    assert "windowspecdefinition(vec_id" not in plan
    assert "windowspecdefinition(query_id" in plan  # the candidate top-k


# ------------------------------------------ round-13 review follow-ups


def test_filter_partitioned_on_emptied_table_is_typed_noop(spark, tmp_path):
    """A compaction that drops EVERY row leaves meta (the table stays
    mergeable); a subsequent compaction must be a typed empty no-op —
    from the schema stored in the meta — not a schema-inference crash
    on a partitionless dir (round-13 review finding)."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
        merge_into_partitioned,
    )

    target = str(tmp_path / "tbl")
    merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(k, 1, 1) for k in range(9)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    out = filter_partitioned(spark, target, F.lit(False))  # drop all
    assert out.count() == 0
    again = filter_partitioned(spark, target, F.lit(True))
    assert again.count() == 0
    assert again.schema == out.schema
    assert [f.name for f in again.schema.fields] == [
        "key", "ts", "value", "seq"
    ]
    # and merges still work after the double compaction
    back = merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(0, 2, 2)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    assert back.count() == 1


def test_rejected_merge_leaks_no_persisted_relation(spark, tmp_path):
    """The bucket-count-drift rejection must not leak one persisted
    collapsed relation per failed attempt (round-13 review finding —
    the persist now happens after the meta validation)."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
    )

    def persistent_ids() -> set[int]:
        # id-set, not count — immune to the ContextCleaner's async
        # drops of unrelated earlier relations (see the minhash
        # lifecycle test above)
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    target = str(tmp_path / "tbl")
    df = spark.createDataFrame(_mk_rows([(k, 1, 1) for k in range(9)]), SCHEMA)
    merge_into_partitioned(
        target, df, keys=["key"], order_by=["ts", "seq"], num_buckets=4
    )
    base_ids = persistent_ids()
    for _ in range(3):
        with pytest.raises(ValueError, match="bucketed with"):
            merge_into_partitioned(
                target, df, keys=["key"], order_by=["ts", "seq"], num_buckets=8
            )
    leaked = persistent_ids() - base_ids
    assert not leaked, f"rejected merges leaked persists: {leaked}"
