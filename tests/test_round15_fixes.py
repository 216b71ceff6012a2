"""Round-15 regression tests.

- CORRECTNESS_r14's q_join_bucketed red row: a caller-owned session (the
  driver's) starts a fresh metastore each run but reuses the default
  warehouse directory, so a table LOCATION left by a previous run is
  invisible to ``DROP TABLE IF EXISTS`` yet still trips
  LOCATION_ALREADY_EXISTS on ``saveAsTable``. The demo must resolve the
  LIVE session's ``spark.sql.warehouse.dir`` (not a hardcoded path) and
  clear the stale db location. Reproduced here in a subprocess because
  the warehouse dir is a static conf — the suite's shared JVM cannot
  host a second warehouse.
- ADVICE r14 #1 (medium): the manifest-mode merge must base its commit
  on a manifest RE-READ taken immediately before the swap — a
  concurrent disjoint-bucket merge's entries survive — and fail fast
  when a touched bucket advanced (lost-update / compaction-resurrection
  class), mirroring ``filter_partitioned``'s detector.
- ADVICE r14 #2 (low): an empty batch merged into a fresh manifest
  table returns the typed empty relation, not an AnalysisException from
  a zero-path ``spark.read.parquet()``.
- ADVICE r14 #3 (low): ``sweep_orphans`` raises on a deletion failure
  instead of reporting the path as deleted.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from datetime import datetime, timedelta

import pytest

BASE = datetime(2026, 1, 1)
SCHEMA = "key long, ts timestamp, value double, seq long"


def _mk_rows(raw):
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


def _merge(spark, target, raw, **kw):
    from transit_efficiency_analysis_spark.operators.upsert import (
        merge_into_partitioned,
    )

    return merge_into_partitioned(
        target, spark.createDataFrame(raw, SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4, **kw,
    )


def _bucket_of(spark, key: int, num_buckets: int = 4) -> int:
    from pyspark.sql import functions as F

    return (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(key).cast("long")), F.lit(num_buckets))
            .cast("int")
            .alias("b")
        )
        .collect()[0].b
    )


def _keys_in_distinct_buckets(spark, n: int) -> list[int]:
    """First n keys (from 0..) that land in pairwise-distinct buckets."""
    out, seen = [], set()
    k = 0
    while len(out) < n:
        b = _bucket_of(spark, k)
        if b not in seen:
            seen.add(b)
            out.append(k)
        k += 1
    return out


def test_bucketed_demo_survives_stale_warehouse_location(tmp_path, sf_dir):
    """Exact driver failure mode: fresh metastore + pre-existing table dir
    under the session's (non-default-for-this-package) warehouse."""
    wh = str(tmp_path / "wh")
    # the demo's per-scale database name (demo/joins.py q_join_bucketed)
    db = f"teas_bucketed_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    stale = os.path.join(wh, f"{db}.db", "li")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-stale"), "w") as f:
        f.write("stale")

    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[4]")
            .appName("r15-bucketed-repro")
            .config("spark.sql.warehouse.dir", {wh!r})
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        from transit_efficiency_analysis_spark.demo.joins import q_join_bucketed

        n = q_join_bucketed(spark, {sf_dir!r}).count()
        assert n > 0, n
        print("OK", n)
        spark.stop()
        """
    ).format(
        repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        wh=wh,
        sf_dir=sf_dir,
    )

    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "OK" in proc.stdout


def test_manifest_merge_vs_merge_disjoint_buckets_both_survive(spark, tmp_path):
    """ADVICE r14 #1: a concurrent merge committing to DISJOINT buckets
    during this merge's staging window must survive the commit — the
    pre-fix code overwrote the whole manifest from the stale start-of-
    merge snapshot, silently dropping the other writer's entries."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        read_partitioned,
    )

    ka, kb = _keys_in_distinct_buckets(spark, 2)
    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(ka, 1, 1)]))  # seed: bucket A only

    def concurrent_merge():
        _merge(spark, target, _mk_rows([(kb, 50, 5)]))  # bucket B

    _merge(
        spark, target, _mk_rows([(ka, 100, 2)]),  # bucket A again
        _before_commit=concurrent_merge,
    )
    state = {r.key: r.ts for r in read_partitioned(spark, target).collect()}
    assert state[ka] == BASE + timedelta(minutes=100)
    assert state[kb] == BASE + timedelta(minutes=50), (
        "concurrent disjoint-bucket merge's manifest entry was lost"
    )


def test_manifest_merge_vs_merge_same_bucket_fails_fast(spark, tmp_path):
    """ADVICE r14 #1: a concurrent merge advancing a bucket THIS merge
    also rewrote must abort the outer merge (its merged rows were
    computed against the stale version), with the concurrent writer's
    data committed and the outer merge's rows recoverable by rerun."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(1, 1, 1)]))

    def concurrent_merge():
        _merge(spark, target, _mk_rows([(1, 50, 5)]))

    with pytest.raises(RuntimeError, match="concurrent writer advanced"):
        _merge(
            spark, target, _mk_rows([(1, 100, 2)]),
            _before_commit=concurrent_merge,
        )
    # the concurrent writer's commit is intact
    state = {r.key: r.ts for r in read_partitioned(spark, target).collect()}
    assert state[1] == BASE + timedelta(minutes=50)
    # rerun converges to keep-newest and sweeps the aborted merge's
    # orphan version dir via the normal superseded-cleanup path
    _merge(spark, target, _mk_rows([(1, 100, 2)]))
    state = {r.key: r.ts for r in read_partitioned(spark, target).collect()}
    assert state[1] == BASE + timedelta(minutes=100)


def test_manifest_merge_vs_compaction_resurrection_fails_fast(spark, tmp_path):
    """ADVICE r14 #1, the resurrection class: a compaction that commits
    (and deletes superseded version dirs) while a merge is staging must
    abort the merge — pre-fix, the merge's stale snapshot re-entered the
    manifest referencing version dirs the compaction's cleanup had
    deleted, leaving readers to crash on nonexistent paths."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.upsert import (
        filter_partitioned,
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(k, k, 1) for k in range(30)]))

    def concurrent_compaction():
        # empties every bucket -> every touched bucket of the merge
        # either advanced or vanished
        filter_partitioned(spark, target, F.lit(False))

    with pytest.raises(RuntimeError, match="concurrent writer advanced"):
        _merge(
            spark, target, _mk_rows([(1, 5000, 9)]),
            _before_commit=concurrent_compaction,
        )
    # the manifest only names live version dirs: the full read works
    # and reflects the compaction
    assert read_partitioned(spark, target).count() == 0
    # rerun lands cleanly on the compacted table
    _merge(spark, target, _mk_rows([(1, 5000, 9)]))
    state = {r.key: r.ts for r in read_partitioned(spark, target).collect()}
    assert state == {1: BASE + timedelta(minutes=5000)}


def test_manifest_empty_batch_into_fresh_table_returns_typed_empty(
    spark, tmp_path
):
    """ADVICE r14 #2: merging an empty batch into a fresh manifest table
    returns the typed empty relation (same shape read_partitioned
    produces) instead of raising on a zero-path parquet read."""
    from transit_efficiency_analysis_spark.operators.upsert import (
        read_partitioned,
    )

    target = str(tmp_path / "tbl")
    out = _merge(spark, target, [])
    assert out.columns == ["key", "ts", "value", "seq"]
    assert out.count() == 0
    # the table exists (meta + empty manifest) and stays mergeable
    assert read_partitioned(spark, target).count() == 0
    _merge(spark, target, _mk_rows([(1, 1, 1)]))
    assert read_partitioned(spark, target).count() == 1


def test_sweep_orphans_raises_on_failed_delete(spark, tmp_path, monkeypatch):
    """ADVICE r14 #3: a version dir that fails to delete must raise from
    the quiesced maintenance window, not be reported as deleted."""
    import shutil

    from transit_efficiency_analysis_spark.operators.upsert import (
        sweep_orphans,
    )

    target = str(tmp_path / "tbl")
    _merge(spark, target, _mk_rows([(1, 1, 1)]))
    # manufacture an orphan: a staged-but-never-committed version dir
    orphan = os.path.join(target, ".v", "b0_v99")
    os.makedirs(orphan)

    real_rmtree = shutil.rmtree

    def failing_rmtree(path, *a, **kw):
        if path == orphan:
            raise OSError("injected EIO")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", failing_rmtree)
    with pytest.raises(OSError, match="injected EIO"):
        sweep_orphans(target)

    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    deleted = sweep_orphans(target)
    assert deleted == [orphan]
    assert not os.path.exists(orphan)


# ------------------- the arrow assignment form (forced via n_rows) ---------

#: a row count far past every knee: the engine picks the arrow form
_ARROW_ROWS = 10**9


def test_ivf_topk_arrow_equals_fold(spark, sf_dir):
    """The arrow form (the Arrow/numpy twin, picked by a row count past
    the knee) must reproduce the fold (no row count) exactly on the test
    corpora — same neighbors, same ranks, same cosines — at lloyd_rounds
    0 and 1 (bit-parity pinned, never assumed)."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        ivf_topk,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    for lr in (0, 1):
        f = sorted(map(tuple, ivf_topk(
            e, n_centroids=8, n_probe=2, k=3, lloyd_rounds=lr,
        ).collect()))
        a = sorted(map(tuple, ivf_topk(
            e, n_centroids=8, n_probe=2, k=3, lloyd_rounds=lr,
            n_rows=_ARROW_ROWS,
        ).collect()))
        assert a == f


def test_arrow_topk_cells_matches_fold_zero_norm_semantics(spark):
    """The arrow twin mirrors the fold's zero-norm semantics exactly:
    a zero-norm centroid is never probed; when EVERY centroid is
    zero-norm the fallback probes the n_probe smallest cell ids."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.functions.vectors import (
        as_double,
        norm,
    )
    from transit_efficiency_analysis_spark.operators.similarity import (
        _arrow_topk_cells,
        _fold_topk_cells,
    )

    def rel(rows, schema):
        return spark.createDataFrame(rows, schema)

    def cents_of(rows):
        return rel(rows, "cell int, emb array<double>").select(
            "cell",
            as_double(F.col("emb")).alias("cv"),
            norm(as_double(F.col("emb"))).alias("cn"),
        )

    base = rel([(7, [2.0, 1.0])], "vec_id long, emb array<double>").select(
        "vec_id",
        as_double(F.col("emb")).alias("v"),
        norm(as_double(F.col("emb"))).alias("vn"),
    )
    # one zero-norm + one useful centroid: only the useful cell probed
    cents = cents_of([(0, [0.0, 0.0]), (1, [1.0, 0.0])])
    for fn in (_fold_topk_cells, _arrow_topk_cells):
        got = {(r.cell, r.crank) for r in fn(base, cents, 2).collect()}
        assert got == {(1, 1)}, fn.__name__
    # EVERY centroid zero-norm: both probe the n_probe smallest cells
    cents0 = cents_of([(3, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 0.0])])
    for fn in (_fold_topk_cells, _arrow_topk_cells):
        got = {(r.cell, r.crank) for r in fn(base, cents0, 2).collect()}
        assert got == {(1, 1), (2, 2)}, fn.__name__


def test_ivf_topk_arrow_plan_is_map_only(spark, sf_dir):
    """The arrow assignment must keep the fold's plan shape: no
    per-vec_id rank window, the scoring inside a MapInArrow node, and
    no data-side hash exchange in the assignment relation (the
    small-input guard's round-robin is the only exchange allowed)."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.functions.vectors import (
        as_double,
        norm,
    )
    from transit_efficiency_analysis_spark.operators.similarity import (
        _arrow_topk_cells,
        ivf_centroids,
    )
    from transit_efficiency_analysis_spark.plans import physical_plan
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, "vec_id", "embedding", 8)
    base = e.select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        norm(as_double(F.col("embedding"))).alias("vn"),
    )
    plan = physical_plan(_arrow_topk_cells(base, cents, 2))
    assert "MapInArrow" in plan
    assert "windowspecdefinition(vec_id" not in plan
    assert "Exchange hashpartitioning(vec_id" not in plan


def test_semantic_dedup_arrow_equals_fold(spark, sf_dir):
    """semantic_dedup's arrow form must reproduce the fold exactly —
    same kept/dropped sets, same dup_of witnesses, same cells — at
    lloyd_rounds 0 and 1 (the arrow path swaps BOTH the final and the
    per-Lloyd-round assignment)."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    for lr in (0, 1):
        f = sorted(map(tuple, semantic_dedup(
            e, n_centroids=8, lloyd_rounds=lr, threshold=0.3,
        ).collect()))
        a = sorted(map(tuple, semantic_dedup(
            e, n_centroids=8, lloyd_rounds=lr, threshold=0.3,
            n_rows=_ARROW_ROWS,
        ).collect()))
        assert a == f


def test_ivf_topk_arrow_bit_identity_random_corpus(spark):
    """The arrow path claims bit-identity BY CONSTRUCTION (sequential
    per-dim IEEE sequence = the fold's dot), so equality must hold on
    arbitrary data — not just the curated corpora. Seeded random
    vectors, duplicate-direction centroids included (the r13 tie-corpus
    shape: identical centroids force exact score ties, which only the
    cell-ascending tie-break resolves)."""
    import random

    from transit_efficiency_analysis_spark.operators.similarity import (
        ivf_topk,
    )

    rng = random.Random(4217)
    rows = []
    for vid in range(120):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)]))
    # clone vector 0's direction twice so two md5-drawn seeds can tie
    rows[50] = (50, list(rows[0][1]))
    rows[77] = (77, [x * 2.0 for x in rows[0][1]])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for lr in (0, 1):
        f = sorted(map(tuple, ivf_topk(
            df, n_centroids=6, n_probe=3, k=4, lloyd_rounds=lr,
        ).collect()))
        a = sorted(map(tuple, ivf_topk(
            df, n_centroids=6, n_probe=3, k=4, lloyd_rounds=lr,
            n_rows=_ARROW_ROWS,
        ).collect()))
        assert a == f, f"lloyd_rounds={lr}: arrow diverged from fold"


def test_ivf_pq_topk_arrow_equals_fold(spark, sf_dir):
    """ivf_pq_topk's arrow form — the fused bit-exact vectorized
    pipeline — must reproduce the fold exactly (ids, ranks, and the
    exact approx_l2sq decimals)."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    f = sorted(map(tuple, ivf_pq_topk(e).collect()))
    a = sorted(map(tuple, ivf_pq_topk(e, n_rows=_ARROW_ROWS).collect()))
    assert a == f
