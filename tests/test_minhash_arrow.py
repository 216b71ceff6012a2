"""The executed MinHash-LSH plan is JVM-only.

The signature stage derives band minima from the exploded-shingle
relation in one JVM aggregation pass. A mapInArrow signature twin was
measured slower at every scale and deleted (docs/SCALE.md "MinHash
signature arrow twin"); this pin keeps the executed default and the
driver-checked q_dedup_minhash_lsh demo free of Python plan nodes."""

from __future__ import annotations

from transit_efficiency_analysis_spark.operators.dedup import minhash_lsh_pairs


def _docs(spark, sf_dir):
    from transit_efficiency_analysis_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_default_plans_no_python_node(spark, sf_dir):
    """minhash_lsh_pairs and the q_dedup_minhash_lsh demo must plan zero
    Python nodes."""
    from transit_efficiency_analysis_spark.demo import load_registry

    d = _docs(spark, sf_dir)
    plan = (
        minhash_lsh_pairs(d, "doc_id", "text", k=3, bands=6, threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in plan and "Python" not in plan
    demo_plan = (
        load_registry()["q_dedup_minhash_lsh"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in demo_plan and "Python" not in demo_plan
