"""Empty-input robustness: a 100 TB pipeline constantly runs over empty
slices (an empty date partition, a filter that matched nothing, a new
tenant with no corpus yet). Every operator family must return an EMPTY
result — same schema, zero rows — rather than crash (div-by-zero on
corpus stats, window over nothing, agg on no groups)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def _empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<float>, label int")


def test_dedup_operators_on_empty_corpus(spark):
    from transit_efficiency_analysis_spark.operators.dedup import (
        exact_dedup_groups,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    d = _empty_docs(spark)
    assert exact_dedup_groups(d, "doc_id", F.md5("text")).count() == 0
    assert minhash_lsh_pairs(d, "doc_id", "text").count() == 0
    assert simhash_pairs(d, "doc_id", "text", checkpoint=False).count() == 0


def test_retrieval_on_empty_corpus(spark):
    from transit_efficiency_analysis_spark.operators.retrieval import (
        bm25_topk,
        tfidf_top_terms,
    )

    d = _empty_docs(spark)
    assert bm25_topk(d, ["dup", "hash"]).count() == 0
    assert tfidf_top_terms(d).count() == 0


def test_similarity_on_empty_corpus(spark):
    from transit_efficiency_analysis_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    e = _empty_vecs(spark)
    assert brute_force_topk(e, e, k=3).count() == 0
    assert lsh_topk(e, planes=4, dims=8, k=3).count() == 0


def test_validate_on_empty_table(spark):
    """An empty batch must pass every expectation (zero violations), not
    crash the counter aggregation."""
    from transit_efficiency_analysis_spark.operators.validate import (
        uniqueness_check,
        violation_counters,
    )

    empty = spark.createDataFrame([], "a long, b string")
    rows = violation_counters(
        empty, {"a_not_null": F.col("a").isNull(), "a_positive": F.col("a") <= 0}
    ).collect()
    assert {(r["check_name"], r["n_violations"], r["passed"]) for r in rows} == {
        ("a_not_null", 0, True),
        ("a_positive", 0, True),
    }
    u = uniqueness_check(empty, "pk", "a", "b").collect()
    assert u[0]["n_violations"] == 0 and u[0]["passed"]


def test_triangles_on_empty_graph(spark):
    from transit_efficiency_analysis_spark.operators.graph import triangle_counts

    e = spark.createDataFrame([], "src long, dst long")
    assert triangle_counts(e).count() == 0
    # edges but no triangles is also an "empty result" path
    line = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert triangle_counts(line).count() == 0


def test_pagerank_on_empty_graph(spark):
    from transit_efficiency_analysis_spark.operators.graph import pagerank_ppm

    e = spark.createDataFrame([], "src long, dst long")
    assert pagerank_ppm(e, n_iters=1, persist=False).count() == 0
