"""Round-18 optimization pins.

1. ``delays_fused`` is row-for-row identical to the
   two-view ``compute_delays`` pipeline — the flagship's executed plan
   changed in round 18 and this is the in-repo equivalence witness (the
   DuckDB oracle is the cross-engine one).
2. The ``column_memo`` construction caches return stable expression
   trees: two invocations of a memoized demo produce identical results
   (the memo must never leak state between plans).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.operators.delay import compute_delays
from transit_efficiency_analysis_spark.operators.testdata_adapter import (
    delays_fused,
    gtfs_data_view,
    trip_updates_view,
)
from transit_efficiency_analysis_spark.sources.registry import load_table


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_delays_fused_matches_two_view_pipeline(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ref = _rows(
        compute_delays(trip_updates_view(o, li), gtfs_data_view(o, li), sort=False)
    )
    assert len(ref) > 0
    assert _rows(delays_fused(o, li, sort=False)) == ref


def test_memoized_trees_are_stable_across_invocations(spark, sf_dir):
    """Two plans built from the same memoized constant trees must agree
    with each other (construction memo, not result memo)."""
    from transit_efficiency_analysis_spark.operators.dedup import (
        simhash_fingerprints,
    )
    from transit_efficiency_analysis_spark.operators.similarity import lsh_topk

    d = load_table(spark, sf_dir, "documents")
    a = _rows(simhash_fingerprints(d, "doc_id", "text"))
    b = _rows(simhash_fingerprints(d, "doc_id", "text"))
    assert a == b and len(a) > 0

    e = load_table(spark, sf_dir, "embeddings")
    x = _rows(lsh_topk(e, planes=4, dims=64, k=2))
    y = _rows(lsh_topk(e, planes=4, dims=64, k=2))
    assert x == y and len(x) > 0


def test_memoized_alias_does_not_mutate_cache(spark, sf_dir):
    """Aliasing/operating on a memoized Column must not corrupt the
    cached tree for later callers."""
    from transit_efficiency_analysis_spark.operators.similarity import _vn

    c1 = _vn("embedding")
    _ = c1.alias("renamed")
    _ = c1 + 1
    c2 = _vn("embedding")
    e = load_table(spark, sf_dir, "embeddings")
    r1 = _rows(e.select(c2.alias("n")))
    assert len(r1) > 0


def _old_pq_rank(enc, adc, k):
    """The pre-round-18 _pq_rank tail, verbatim (commit 19ebad3): the
    exploded (qcell, s, code) join + pairs-keyed SUM + full rank window.
    Kept here as the parity reference for the packed map-side tail."""
    from pyspark.sql import Window

    from transit_efficiency_analysis_spark.functions.parity import parity_double

    scored = (
        enc.alias("enc")
        .join(
            adc.alias("adc"),
            (F.col("adc.qcell") == F.col("enc.cell"))
            & (F.col("adc.s") == F.col("enc.s"))
            & (F.col("adc.code") == F.col("enc.code"))
            & (F.col("adc.query_id") != F.col("enc.vec_id")),
        )
        .groupBy(
            F.col("adc.query_id").alias("query_id"),
            F.col("enc.vec_id").alias("neighbor_id"),
        )
        .agg(F.sum("td").alias("d_exact"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("d_exact").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            parity_double(F.col("d_exact"), 9).alias("approx_l2sq"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _pq_rank_fixture(spark):
    """Synthetic (enc, adc) pair exercising every tail edge: m=2
    subspaces, dense codes 0..1, a never-probed cell, a query that is
    itself a corpus member (self-exclusion), NULL tds (partial-sum skip
    AND the all-NULL -> NULL d_exact case), and a d_exact tie that
    straddles the k cut (tie-break by neighbor_id)."""
    from decimal import Decimal

    enc_rows = [
        # cell 10
        (1, 10, 0, 0), (1, 10, 1, 1),
        (2, 10, 0, 1), (2, 10, 1, 0),
        (3, 10, 0, 0), (3, 10, 1, 0),
        # cell 20
        (4, 20, 0, 1), (4, 20, 1, 1),
        (5, 20, 0, 0), (5, 20, 1, 1),
        # cell 30 (probed only by query 9)
        (6, 30, 0, 0), (6, 30, 1, 0),
    ]
    enc = spark.createDataFrame(
        enc_rows, "vec_id bigint, cell int, s int, code int"
    )

    def d(x):
        return None if x is None else Decimal(x)

    adc_rows = [
        # query 1 (== member vec 1) probes cells 10 and 20
        (1, 10, 0, 0, d("1.0")), (1, 10, 0, 1, d("2.0")),
        (1, 10, 1, 0, d("3.0")), (1, 10, 1, 1, d("4.0")),
        (1, 20, 0, 0, d("0.5")), (1, 20, 0, 1, None),
        (1, 20, 1, 0, d("1.5")), (1, 20, 1, 1, None),
        # query 4 (== member vec 4) probes cell 10 only
        (4, 10, 0, 0, d("2.25")), (4, 10, 0, 1, d("1.125")),
        (4, 10, 1, 0, d("0.625")), (4, 10, 1, 1, d("0.375")),
        # query 9 (not a member) probes cells 30 and 20;
        # vec 4 and vec 5 tie at 5.0 across the k=2 boundary
        (9, 30, 0, 0, d("1.0")), (9, 30, 0, 1, d("9.0")),
        (9, 30, 1, 0, d("2.0")), (9, 30, 1, 1, d("9.0")),
        (9, 20, 0, 0, d("1.5")), (9, 20, 0, 1, d("1.5")),
        (9, 20, 1, 0, d("4.0")), (9, 20, 1, 1, d("3.5")),
    ]
    adc = spark.createDataFrame(
        adc_rows, "query_id bigint, qcell int, s int, code int, td decimal(18,9)"
    )
    return enc, adc


def test_pq_rank_packed_tail_matches_join_tail(spark):
    """The round-18 packed map-side _pq_rank is row-identical to the old
    exploded-join tail on a corpus with NULL tds, self-queries, ties at
    the cut, and unprobed cells — at k below, at, and above the
    candidate count."""
    from transit_efficiency_analysis_spark.operators.similarity import _pq_rank

    enc, adc = _pq_rank_fixture(spark)
    for k in (1, 2, 10):
        got = _rows(_pq_rank(enc, adc, k))
        ref = _rows(_old_pq_rank(enc, adc, k))
        assert got == ref and len(ref) > 0, f"k={k}"


def test_pq_rank_null_dexact_ranks_first(spark):
    """The all-NULL-lookup neighbor keeps SUM's semantics: present with
    NULL d_exact, sorted ahead of every finite distance (NULLS FIRST in
    both the in-array sort and the rank window)."""
    from transit_efficiency_analysis_spark.operators.similarity import _pq_rank

    enc, adc = _pq_rank_fixture(spark)
    rows = {
        (r.query_id, r.rank): (r.neighbor_id, r.approx_l2sq)
        for r in _pq_rank(enc, adc, 2).collect()
    }
    # query 1: vec 4's two lookups are both NULL -> NULL d_exact, rank 1
    assert rows[(1, 1)] == (4, None)
    # vec 5 sums only its non-NULL subspace (0.5), skipping the NULL
    assert rows[(1, 2)] == (5, 0.5)
    # query 9: vec 4/vec 5 tie at 5.0 -> neighbor_id breaks it; vec 6 (3.0)
    # is rank 1 and the tie loser (vec 5) falls outside k=2
    assert rows[(9, 1)] == (6, 3.0)
    assert rows[(9, 2)] == (4, 5.0)
