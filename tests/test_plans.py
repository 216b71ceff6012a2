"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in the plan at any scale (SURVEY.md §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.demo import load_registry
from transit_efficiency_analysis_spark.plans import (
    assert_broadcast_join,
    assert_no_python_row_udf,
    assert_pushed_filter,
    assert_read_schema_only,
    assert_whole_stage_codegen,
    count_shuffles,
)
from transit_efficiency_analysis_spark.sources.registry import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert_pushed_filter(df, "l_quantity")


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_extendedprice")
    assert_read_schema_only(df, "lineitem", {"l_orderkey", "l_extendedprice"})


def test_star_join_broadcasts_dims(spark, sf_dir):
    q = load_registry()["q_join_star"]
    df = q.fn(spark, sf_dir)
    assert_broadcast_join(df, min_count=4)  # orders/customer/nation/region


def test_flagship_no_python_and_codegen(spark, sf_dir):
    q = load_registry()["q_rebuild_full"]
    df = q.fn(spark, sf_dir)
    assert_no_python_row_udf(df)
    assert_whole_stage_codegen(df)


def test_projection_demo_is_scan_only(spark, sf_dir):
    q = load_registry()["q_proj_select"]
    df = q.fn(spark, sf_dir)
    assert count_shuffles(df) == 0  # pure projection must not shuffle


def test_text_ops_no_python(spark, sf_dir):
    for name in ["q_text_quality", "q_text_langid", "q_dedup_minhash_lsh"]:
        df = load_registry()[name].fn(spark, sf_dir)
        assert_no_python_row_udf(df)


def test_every_demo_plan_is_row_udf_free(demo_sweep):
    """Sweep EVERY registered demo: no row-at-a-time Python (BatchEvalPython)
    may appear in any physical plan — Arrow paths (mapInPandas /
    ArrowEvalPython / FlatMapGroupsInPandas) are the only Python allowed.
    Plan-only: nothing executes, so the sweep stays fast. The plans are
    built once per session by the ``demo_sweep`` fixture (conftest.py),
    which also holds the skip set."""
    checked = 0
    for name, (_, row_udf) in demo_sweep.items():
        if row_udf == "skipped":
            continue
        assert row_udf is None, f"{name}: {row_udf}"
        checked += 1
    assert checked >= 90  # the sweep must actually cover the registry


def test_new_ann_and_contamination_plans(spark, sf_dir):
    """IVF assignment broadcasts centroids; contamination broadcasts the
    benchmark side — neither may shuffle the big side for the join. IVF is
    audited with checkpoint=False so the full lineage (normally truncated
    by the reuse checkpoint) is visible."""
    from transit_efficiency_analysis_spark.operators.similarity import ivf_topk

    reg = load_registry()
    e = load_table(spark, sf_dir, "embeddings")
    assert_broadcast_join(ivf_topk(e, checkpoint=False), min_count=1)
    assert_no_python_row_udf(ivf_topk(e, checkpoint=False))
    assert_broadcast_join(reg["q_text_contamination"].fn(spark, sf_dir), min_count=1)


def test_retrieval_plans(spark, sf_dir):
    """BM25/TF-IDF scale shape: document frequencies and corpus scalars
    broadcast onto the (doc, term) rows (the scoring join must never
    shuffle the exploded corpus), top-k plans as TakeOrderedAndProject
    (per-partition heaps, no global sort), and no Python anywhere."""
    from transit_efficiency_analysis_spark.plans import physical_plan

    reg = load_registry()
    bm25 = reg["q_retrieval_bm25"].fn(spark, sf_dir)
    assert_broadcast_join(bm25, min_count=2)  # dfreq + corpus stats
    assert_no_python_row_udf(bm25)
    assert "TakeOrderedAndProject" in physical_plan(bm25)
    tfidf = reg["q_retrieval_tfidf"].fn(spark, sf_dir)
    assert_broadcast_join(tfidf, min_count=2)
    assert_no_python_row_udf(tfidf)


def test_corpus_prep_pipeline_plan(spark, sf_dir):
    """The composed pipeline must stay ONE declarative plan: langid +
    quality filters fuse map-side (no extra shuffle), so the only
    exchanges are the dedup-key window and the (source, shard) pack
    window; nothing falls back to Python."""
    reg = load_registry()
    df = reg["q_corpus_prep_pipeline"].fn(spark, sf_dir)
    assert_no_python_row_udf(df)
    assert count_shuffles(df) <= 2, "filters should fuse into the scan"


def test_funnel_single_pass_plan(spark, sf_dir):
    """The funnel must stay single-pass: ONE scan of the events fact and
    exactly one data-proportional shuffle (the user_id agg; the second
    exchange is the single-row final count). The join-chain alternative
    plan-audits at one fact scan PER STEP."""
    from transit_efficiency_analysis_spark.demo.analytics import q_events_funnel
    from transit_efficiency_analysis_spark.plans import physical_plan

    df = q_events_funnel(spark, sf_dir)
    assert physical_plan(df).count("Scan parquet") == 1
    assert count_shuffles(df) <= 2


def test_gapfill_plan_shape(spark, sf_dir):
    """Gap-fill: only the (user, day) pre-aggregation may shuffle data
    proportional to event volume; the bounded daily relation must
    broadcast into the spine join, and the spine's explode preserves the
    user partitioning so the fill window adds no exchange."""
    from transit_efficiency_analysis_spark.demo.windowed import q_ts_gapfill_ffill

    df = q_ts_gapfill_ffill(spark, sf_dir)
    assert_broadcast_join(df)
    assert count_shuffles(df) <= 2
    assert_no_python_row_udf(df)


def test_topk_per_group_pushes_group_limit_map_side(spark, sf_dir):
    """rank<=k must compile to Partial+Final WindowGroupLimit so each
    map partition keeps at most k rows per group BEFORE the shuffle."""
    from transit_efficiency_analysis_spark.demo.setops import q_topk_per_group

    df = q_topk_per_group(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
