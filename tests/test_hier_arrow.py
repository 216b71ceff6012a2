"""semantic_dedup_hier's arrow form: the two-level escape path gets the
same vectorized assignment twins as the flat form — coarse via
_arrow_assign, fine via the per-group _arrow_fine_assign — picked by
the same resolver from ``n_rows``, never without it.

Pins: end-to-end fold/arrow equality (real corpus at two SFs), the
resolver's two-level dot envelope, the dark default (registered demo
plans no Python node), and the fine twin's edge semantics against a
hand-built fold mirror (zero-norm vectors/centroids, all-unscorable
fallback, memberless-group drop)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.operators.similarity import (
    _arrow_fine_assign,
    _argmax_cell,
    semantic_dedup_hier,
)


def _embeddings(spark, sf_dir):
    from transit_efficiency_analysis_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


#: ``n_rows`` that forces each form: none keeps the fold, a row count
#: far past every knee picks the arrow twins
_N_ROWS = {"fold": None, "arrow": 10**9}


def _run(spark, sf_dir, mode):
    out = semantic_dedup_hier(
        _embeddings(spark, sf_dir), "vec_id", "embedding",
        n_centroids=16, coarse_cells=4, threshold=0.3, n_rows=_N_ROWS[mode],
    ).collect()
    return sorted((r.vec_id, r.cell, r.kept, r.dup_of) for r in out)


def test_hier_arrow_equals_fold_sf001(spark, sf_dir):
    assert _run(spark, sf_dir, "arrow") == _run(spark, sf_dir, "fold")


@pytest.mark.slow
def test_hier_arrow_equals_fold_sf01(spark):
    a = _run(spark, "/root/testdata/sf0.01", "arrow")
    assert a == _run(spark, "/root/testdata/sf0.01", "fold")
    assert len(a) == 500


def test_hier_auto_resolves_on_two_level_envelope(spark, sf_dir):
    """The knee's input is the per-row dot count C + K/C (not K)
    against the HIER-specific threshold (1.4M envelope dots — the
    lowest measured arrow-win point for the two-level shape, far below
    the flat form's 16M because the hier fold's per-row interpretation
    cost exceeds its dot count): with K=16, C=4 the envelope is 8
    dots/row, so 175k rows crosses and 170k does not. The flat default
    threshold is untouched."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        _AUTO_ARROW_MIN_NK,
        _AUTO_ARROW_MIN_NK_HIER,
        _resolve_assign,
    )

    env = 4 + 16 // 4
    assert _resolve_assign(
        175_000, env, min_nk=_AUTO_ARROW_MIN_NK_HIER
    ) == "arrow"
    assert _resolve_assign(
        170_000, env, min_nk=_AUTO_ARROW_MIN_NK_HIER
    ) == "fold"
    # default min_nk unchanged — flat callers keep the 16M knee
    assert _AUTO_ARROW_MIN_NK == 16_000_000
    assert _resolve_assign(2_000_000, env) == "arrow"
    assert _resolve_assign(1_900_000, env) == "fold"
    # and without a stat the fold runs: the registered demo must keep
    # planning zero Python nodes
    from transit_efficiency_analysis_spark.demo import load_registry

    plan = (
        load_registry()["q_dedup_semantic_hier"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in plan and "Python" not in plan


def test_fine_twin_edges_match_fold_mirror(spark):
    """Hand-built corpus exercising every edge the fold's _argmax_cell
    semantics define: a zero-norm fine centroid (NULL-skipped but
    anchoring the INIT fallback), an all-unscorable group (fallback =
    smallest cell id), a zero-norm vector (smallest scorable cell), a
    score tie between two centroids (smallest cell wins), and a coarse
    group with NO fine members (inner-join drop)."""
    v2c = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1.0, 10),   # clear winner in group 10
            (2, [0.0, 1.0], 1.0, 10),   # the other centroid
            (3, [0.0, 0.0], 0.0, 10),   # zero vector -> smallest scorable
            (4, [1.0, 1.0], 1.41, 20),  # all-unscorable group -> fallback
            (5, [1.0, 0.0], 1.0, 99),   # memberless coarse group -> drop
            (6, [1.0, 1.0], 1.41, 30),  # exact tie -> smallest cell
        ],
        "vec_id long, v array<double>, vn double, ccell long",
    )
    f2c = spark.createDataFrame(
        [
            # group 10: cell 2 along x, cell 5 along y, cell 1 zero-norm
            (10, 1, [0.0, 0.0], 0.0),
            (10, 2, [2.0, 0.0], 2.0),
            (10, 5, [0.0, 3.0], 3.0),
            # group 20: both zero-norm -> fallback = min cell id = 7
            (20, 7, [0.0, 0.0], 0.0),
            (20, 8, [0.0, 0.0], 0.0),
            # group 30: two unit centroids scoring 6's vector equally
            (30, 4, [1.0, 0.0], 1.0),
            (30, 9, [0.0, 1.0], 1.0),
        ],
        "ccell long, cell long, cv array<double>, cn double",
    )
    got = {
        (r.vec_id, r.cell)
        for r in _arrow_fine_assign(v2c, f2c).select("vec_id", "cell").collect()
    }
    # fold mirror: the operator's own expressions, verbatim
    fc_arr = (
        f2c.select(
            "ccell",
            "cell",
            F.transform("cv", lambda x: F.try_divide(x, F.col("cn"))).alias("cvu"),
        )
        .groupBy("ccell")
        .agg(F.sort_array(F.collect_list(F.struct("cell", "cvu"))).alias("fc"))
    )
    fold = {
        (r.vec_id, r.cell)
        for r in v2c.join(F.broadcast(fc_arr), "ccell")
        .select(
            "vec_id", _argmax_cell(F.col("fc"), "cell", "cvu").alias("cell")
        )
        .collect()
    }
    assert got == fold
    assert got == {
        (1, 2),   # x-vector -> x-centroid
        (2, 5),   # y-vector -> y-centroid
        (3, 2),   # zero vector -> smallest SCORABLE (1 is zero-norm)
        (4, 7),   # all-unscorable -> INIT fallback (min cell incl. zero-norm)
        (6, 4),   # tie -> smallest cell
    }  # vec 5 dropped: memberless coarse group


def test_hier_random_corpus_parity(spark):
    """Seeded random corpus engineered for edge pressure (the r15
    random-parity precedent): duplicate directions (exact score ties),
    zero vectors, and near-identical vectors across coarse borders.
    Full fold/arrow equality of the final dedup output."""
    import numpy as np

    rng = np.random.default_rng(1606)
    rows = []
    for i in range(400):
        if i % 37 == 0:
            v = [0.0, 0.0, 0.0, 0.0]          # zero vectors
        elif i % 11 == 0:
            v = [1.0, 2.0, -1.0, 0.5]          # one repeated direction
        elif i % 13 == 0:
            v = [float(x) for x in 2.5 * np.asarray([1.0, 2.0, -1.0, 0.5])]  # scaled twin
        else:
            v = [float(x) for x in rng.normal(size=4)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {}
    for mode in ("fold", "arrow"):
        res = semantic_dedup_hier(
            df, "vec_id", "embedding", n_centroids=12, coarse_cells=3,
            threshold=0.8, n_rows=_N_ROWS[mode],
        ).collect()
        out[mode] = sorted((r.vec_id, r.cell, r.kept, r.dup_of) for r in res)
    assert out["arrow"] == out["fold"]
    assert len(out["fold"]) == 400
