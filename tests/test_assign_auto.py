"""The engine picks the IVF/SemDeDup assignment form, fold vs arrow, on
the MEASURED nK crossover from the caller's row count; no caller picks
a form.

Contract under test (operators/similarity.py ``_resolve_assign`` /
``_AUTO_ARROW_MIN_NK``):

- no public operator takes a form selector: ``n_rows`` is the only
  input that moves the pick;
- without ``n_rows`` (no catalog stat) the corpus is NEVER counted and
  the fold runs — the plan-shape-safe form whose arithmetic the demo
  oracles mirror;
- with a stat, arrow only at ``n_rows × n_centroids >=`` the threshold,
  which sits at the lowest PROVEN arrow-win point (16M dots, the
  r15 battery's 16× / K=500 cell), never inside the measured mixed
  zone (fold still 1.4× faster end-to-end at 8M dots — docs/SCALE.md
  "Round-15" auto-threshold grid);
- resolution can never change RESULTS: both branches are bit-equal on
  finite inputs (the arrow twin's IEEE-sequence contract, pinned in
  tests/test_round15_fixes.py) — the pick changes only the physical
  form of the assignment stage, which the plan assertions here observe.
"""

from __future__ import annotations

import pytest

from transit_efficiency_analysis_spark.operators.similarity import (
    _AUTO_ARROW_MIN_NK,
    _resolve_assign,
    ivf_centroids,
    ivf_pq_topk,
    ivf_topk,
    semantic_dedup,
)


def test_resolve_assign_rules():
    # no stat → fold, regardless of K
    assert _resolve_assign(None, 10**6) == "fold"
    # below / at / above the measured threshold
    k = 500
    below = (_AUTO_ARROW_MIN_NK - 1) // k
    assert _resolve_assign(below, k) == "fold"
    at = -(-_AUTO_ARROW_MIN_NK // k)  # ceil
    assert _resolve_assign(at, k) == "arrow"
    assert _resolve_assign(10**9, 30_000) == "arrow"


def test_no_public_operator_takes_a_form_selector():
    """The ten caller-set form selectors are gone: no public function of
    the similarity and dedup operators takes ``assign``,
    ``bucket_assign`` or ``reuse`` — the engine picks from ``n_rows``."""
    import inspect

    from transit_efficiency_analysis_spark.operators import dedup, similarity

    for mod in (similarity, dedup):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            params = set(inspect.signature(fn).parameters)
            assert not params & {"assign", "bucket_assign", "reuse"}, name


def test_ivf_centroids_auto_default(spark, sf_dir):
    """ivf_centroids picks its per-Lloyd-round form the same way (the
    assignment is the same n × K shape): no stat plans the fold, a big
    stat the arrow twin."""
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    fold_df = ivf_centroids(e, "vec_id", "embedding", 4, lloyd_rounds=1)
    assert "MapInArrow" not in _plan(fold_df)
    # the arrow Lloyd path materializes each round driver-side (its
    # lineage truncation), so the returned relation is local — assert
    # the resolution by RESULT equality (bit-equal contract) instead
    # of plan shape
    arrow_df = ivf_centroids(
        e, "vec_id", "embedding", 4, lloyd_rounds=1, n_rows=10**9
    )
    key = lambda r: r["cell"]  # noqa: E731
    assert sorted(arrow_df.collect(), key=key) == sorted(
        fold_df.collect(), key=key
    )


def test_threshold_is_the_proven_win_point():
    """The threshold must stay at the lowest measured arrow-win (16M
    dots) — lowering it into the mixed zone (fold won at 8M) needs a
    new measurement row in docs/SCALE.md first."""
    assert _AUTO_ARROW_MIN_NK == 16_000_000


def _plan(df) -> str:
    from transit_efficiency_analysis_spark.plans import physical_plan

    return physical_plan(df)


def test_auto_without_stat_plans_the_fold(spark, sf_dir):
    """Demo parameterization (no n_rows): the pick must produce the fold
    plan — zero Python stages in the assignment."""
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    for df in (
        ivf_topk(e, "vec_id", "embedding", n_centroids=4, n_probe=2, k=2),
        ivf_pq_topk(e, "vec_id", "embedding", n_centroids=4, m=4, ks=4,
                    n_probe=2, k=2),
        semantic_dedup(e, "vec_id", "embedding", n_centroids=4,
                       lloyd_rounds=1, threshold=0.3),
    ):
        assert "MapInArrow" not in _plan(df), (
            "without a catalog stat the interpreted fold must run"
        )


def test_auto_with_large_stat_plans_arrow_and_matches_fold(spark, sf_dir):
    """A catalog stat past the threshold flips the assignment stage to
    the Arrow twin (plan observable), and the OUTPUT is bit-identical
    to the fold's on the same corpus — the n_rows hint changes only
    the physical form, never the result (the hint is not used for
    sizing here; n_centroids is explicit)."""
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    big = 10**9
    auto_arrow = ivf_topk(
        e, "vec_id", "embedding", n_centroids=4, n_probe=2, k=2, n_rows=big
    )
    assert "MapInArrow" in _plan(auto_arrow), (
        "a stat past the threshold must pick the Arrow twin"
    )
    fold = ivf_topk(e, "vec_id", "embedding", n_centroids=4, n_probe=2, k=2)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(auto_arrow.collect(), key=key) == sorted(
        fold.collect(), key=key
    )


def test_auto_pq_with_large_stat_plans_arrow(spark, sf_dir):
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    df = ivf_pq_topk(
        e, "vec_id", "embedding", n_centroids=4, m=4, ks=4, n_probe=2,
        k=2, n_rows=10**9,
    )
    assert "MapInArrow" in _plan(df)


def test_auto_semantic_with_large_stat_plans_arrow(spark, sf_dir):
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    df = semantic_dedup(
        e, "vec_id", "embedding", n_centroids=4, lloyd_rounds=0,
        threshold=0.3, n_rows=10**9,
    )
    assert "MapInArrow" in _plan(df)


def test_sizing_count_feeds_auto(spark, sf_dir):
    """target_cell_size with no n_rows takes one count() for sizing —
    that count must double as the knee's stat (tiny corpus → small nK →
    fold), not leave the pick blind."""
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    df = ivf_topk(
        e, "vec_id", "embedding", n_centroids=None, target_cell_size=8,
        n_probe=2, k=2,
    )
    assert "MapInArrow" not in _plan(df)


def test_registered_ivf_demos_plan_the_fold(spark, sf_dir):
    """The DRIVER-checked demos must keep planning the interpreted fold
    (their oracles mirror its arithmetic; the knee picks it because
    their footer stat stays below it). A future change that threads a catalog
    stat into a demo would silently flip its executed plan to the
    arrow twin — still bit-equal, but the executed-plan claims in the
    demo docstrings and SCALE.md would go stale; this pin makes that
    flip a deliberate, test-visible act.

    Round 18 made exactly one such deliberate flip: q_sim_ivf_pq_topk
    (which passes the parquet-footer stat) now crosses the PQ-specific
    knee (n·m·ks = 500×4×16 = 32k ≥ _AUTO_ARROW_MIN_NMK_PQ) at every
    fleet scale and plans the arrow twin — measured 1.1-2.8× faster
    with collect-identical output (see the knee constant's docstring).
    The pin now asserts BOTH directions: the flat/semantic demos stay
    on the fold, and the PQ demo stays on arrow."""
    from transit_efficiency_analysis_spark.demo import load_registry

    reg = load_registry()
    for name in (
        "q_sim_ivf_topk",
        "q_sim_ivf_lloyd_topk",
        "q_dedup_semantic",
    ):
        plan = _plan(reg[name].fn(spark, sf_dir))
        assert "MapInArrow" not in plan, name
    assert "MapInArrow" in _plan(reg["q_sim_ivf_pq_topk"].fn(spark, sf_dir))


def test_auto_routes_nonfinite_corpus_into_the_validating_twin(spark):
    """The one behavior difference bit-equality does not cover
    (``_resolve_assign`` docstring): the arrow twin VALIDATES — a
    non-finite vector component raises — where the fold emits NULL
    scores. A stat past the threshold must route into that loud failure
    (validate, don't guess), the error must name the escape that
    remains (call without n_rows), and the stat-less call on the same
    corpus must keep working."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [float("nan"), 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # no stat → fold: NULL-score semantics, completes
    assert ivf_topk(df, n_centroids=2, n_probe=1, k=1).count() >= 0
    # big stat → arrow → the validation raise (surfaces from the Python
    # worker wrapped in Spark's exception types)
    with pytest.raises(
        Exception, match="non-finite vector components(.|\n)*call without n_rows"
    ):
        ivf_topk(
            df, n_centroids=2, n_probe=1, k=1, n_rows=10**9
        ).count()


def test_ivf_pq_arrow_plan_keeps_the_fold_encode(spark, sf_dir):
    """Regression pin: ivf_pq_topk's arrow form must never route into a
    join-form encode (per-(vec_id, s) argmin window + the n × dims × ks
    codebook-join fan-out). Outputs would be bit-equal either way (both
    encodes are, by the decimal contract), so only a PLAN pin can catch
    this class: no per-vec_id window anywhere, and the MapInArrow
    present."""
    from transit_efficiency_analysis_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = _plan(ivf_pq_topk(e, checkpoint=False, n_rows=10**9))
    assert "MapInArrow" in plan
    assert "windowspecdefinition(vec_id" not in plan, (
        "the arrow form regressed to a join-form encode/ADC"
    )
    assert "windowspecdefinition(query_id" in plan  # the candidate top-k


def test_parquet_rows_matches_count(spark, sf_dir, tmp_path):
    """The footer stat must equal COUNT(*) exactly — on the single-file
    testdata layout AND a Spark-written partitioned directory."""
    from transit_efficiency_analysis_spark.sources.registry import (
        load_table,
        parquet_rows,
    )

    for t in ("embeddings", "documents"):
        assert parquet_rows(sf_dir, t) == load_table(spark, sf_dir, t).count()
    # directory dataset
    out = str(tmp_path / "t.parquet")
    spark.range(1234).repartition(7).write.parquet(out)
    assert parquet_rows(str(tmp_path), "t") == 1234
