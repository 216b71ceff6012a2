"""The round-18 FUSED arrow ivf_pq pipeline (_ivf_pq_arrow_fused).

The broad arrow-vs-fold equality suite (tests/test_pq_arrow_encode.py,
tests/test_round15_fixes.py) already exercises the fused path through
the public entry (forced with a row count past the PQ knee) on clean
corpora at two SFs, with
string ids and with dims < m. This file pins the corners the fusion
specifically restructured: the driver-built codebook on ragged group
widths (dims % m != 0 — the trailing short subspace), ks larger than
the corpus (short codebooks), the all-zero-norm fallback (no scorable
centroid → driver-side fallback cells feed the residual base), the
NULL-component validation raise, and the plan shape (exactly ONE
Python-boundary stage, no re-pivot exchanges).
"""

from __future__ import annotations

import pytest

from transit_efficiency_analysis_spark.operators.similarity import ivf_pq_topk

#: ``n_rows`` that forces each form: none keeps the fold, a row count far
#: past the PQ knee picks the fused arrow pipeline
_N_ROWS = {"fold": None, "arrow": 10**9}


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _both(df, **kw):
    out = {}
    for mode in ("fold", "arrow"):
        out[mode] = sorted(
            map(
                tuple,
                ivf_pq_topk(
                    df, n_rows=_N_ROWS[mode], checkpoint=False, **kw
                ).collect(),
            )
        )
    return out


def test_fused_equals_fold_ragged_groups(spark):
    """dims % m != 0 — the driver-built codebook must reproduce F.slice's
    truncate-at-end grouping exactly. dims=10, m=4: sub_d=2 and FIVE
    groups with a trailing width-2 slice. Then, on a seeded tie-free
    corpus: (6, 4) sub_d=1 and six groups of 1, more than m; (6, 2) two
    exact groups; (7, 3) groups of 2, 2, 2 plus a PARTIAL trailing group
    of 1; (7, 2) groups of 3, 3, 1."""
    import random

    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 4.0 for j in range(10)])
        for i in range(1, 25)
    ]
    got = _both(
        _corpus(spark, rows), n_centroids=3, m=4, ks=6, n_probe=2, k=3
    )
    assert got["arrow"] == got["fold"]
    assert got["arrow"], "ragged-group corpus returned no rows"

    rng = random.Random(13)
    for dims, m, ks in ((6, 4, 8), (6, 2, 8), (7, 3, 8), (7, 2, 4)):
        rows = [
            (i, [rng.uniform(-3.0, 3.0) for _ in range(dims)]) for i in range(40)
        ]
        got = _both(
            _corpus(spark, rows), n_centroids=4, m=m, ks=ks, n_probe=2, k=2
        )
        assert got["arrow"] == got["fold"], f"dims={dims}, m={m}, ks={ks}"
        assert got["arrow"]


def test_fused_equals_fold_ks_exceeds_corpus(spark):
    """ks > |corpus|: the md5 pool returns fewer rows than ks, so the
    codebook is short — codes must stay the dense 0..len-1 draw."""
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(1, 6)]
    got = _both(
        _corpus(spark, rows), n_centroids=2, m=2, ks=16, n_probe=2, k=2
    )
    assert got["arrow"] == got["fold"]
    assert got["arrow"]


def test_fused_equals_fold_all_zero_norm_fallback(spark):
    """Every vector zero → every centroid zero-norm → no scorable cell:
    both modes must take the fallback (probe the n_probe smallest cell
    ids, crank-1 residuals against the raw fallback centroid)."""
    rows = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(1, 9)]
    got = _both(
        _corpus(spark, rows), n_centroids=3, m=2, ks=4, n_probe=2, k=3
    )
    assert got["arrow"] == got["fold"]
    assert got["arrow"], "fallback corpus returned no rows"


def test_fused_null_component_raises(spark):
    rows = [(1, [1.0, None, 1.0, 1.0]), (2, [0.5, 0.1, 0.2, 0.3]),
            (3, [0.2, 0.9, 0.4, 0.5])]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="NULL vector"):
        ivf_pq_topk(
            df, n_centroids=2, m=2, ks=2, n_probe=1, k=1,
            n_rows=_N_ROWS["arrow"],
        ).count()


def test_fused_plan_single_python_stage(spark, sf_dir):
    """The point of the fusion: ONE MapInArrow node (assign+encode+ADC),
    zero BatchEvalPython, and none of the stage form's re-pivot
    aggregates (no collect_list of (s, code) structs anywhere)."""
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = (
        ivf_pq_topk(e, n_rows=_N_ROWS["arrow"], checkpoint=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # checkpoint=False keeps full lineage, so the ONE fused relation
    # prints once per consumer (the neighbor pack + the query ADC side)
    # — exactly 2 occurrences, and both are the SAME function (the
    # shipped checkpoint=True form persists it and runs it once). The
    # stage form printed the coarse assign PLUS separate encode and ADC
    # python ops per consumer.
    assert plan.count("MapInArrow") == 2, plan
    assert plan.count("fused(") == 2, plan
    assert "BatchEvalPython" not in plan
    # the old tail re-built per-entity arrays from exploded rows; the
    # fused relation arrives packed, so only the neighbor pack remains
    assert plan.count("collect_list") <= 2, plan
