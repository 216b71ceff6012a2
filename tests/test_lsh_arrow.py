"""The int64-matmul LSH bucket twin (sign-LSH's per-plane interpreted
long folds as one exact matmul per Arrow batch).

The twin consumes the SAME JVM-side exact quantization
(``quantize_vec``) and replaces only the fold arithmetic with one
int64 matmul — integer addition is associative, so no evaluation order
can flip a sign (the property the DECIMAL quantization protects).
The engine picks the form from ``n_rows``: stat-less callers (and every
registered demo at gate/bench corpus sizes) keep the expression plan;
a corpus stat past the measured 288k row-plane knee picks the twin
(``_resolve_bucket_assign``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.operators.similarity import (
    _arrow_lsh_base,
    lsh_bucket_expr,
    lsh_topk,
    quantize_vec,
)


#: ``n_rows`` that forces each form: none keeps the expression folds, a
#: row count far past the knee picks the int64-matmul twin
_N_ROWS = {"expr": None, "arrow": 10**9}


def _embeddings(spark, sf_dir):
    from transit_efficiency_analysis_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_bucket_ids_bit_equal_real_corpus(spark, sf_dir):
    d = _embeddings(spark, sf_dir)
    expr = {
        (r.vec_id, r.bucket)
        for r in d.select(
            "vec_id", quantize_vec(F.col("embedding")).alias("__q")
        )
        .select("vec_id", lsh_bucket_expr(F.col("__q"), 8, 64).alias("bucket"))
        .collect()
    }
    arrow = {
        (r.vec_id, r.bucket)
        for r in _arrow_lsh_base(d, "vec_id", "embedding", 8, 64)
        .select("vec_id", "bucket")
        .collect()
    }
    assert arrow == expr
    assert arrow, "no buckets produced"


def test_bucket_ids_bit_equal_near_zero_projections(spark):
    """Adversarial vectors whose projections sit at 0 or ±1 quantized
    unit: the sign decision is exactly where a float re-sum could
    diverge, so the int64 path must match the fold bit-for-bit —
    including proj == 0, which is NOT positive (bit 0)."""
    import numpy as np

    from transit_efficiency_analysis_spark.functions.vectors import plane_sign

    dims, planes = 8, 4
    rows = []
    # vector aligned with plane 0's signs -> proj strictly positive;
    # anti-aligned -> negative; and a vector engineered so plane 1's
    # projection is EXACTLY zero (pair up opposing signs)
    s0 = [plane_sign(0, d) for d in range(dims)]
    rows.append((1, [float(x) * 1e-9 for x in s0]))            # +1 ulps
    rows.append((2, [float(-x) * 1e-9 for x in s0]))           # -1 ulps
    s1 = [plane_sign(1, d) for d in range(dims)]
    z = [0.0] * dims
    # plane-1 projection = s1[0]*q0 + s1[1]*q1 with q0 = s1[0] (one
    # quantized unit aligned) — choose q1 = -s1[1] so it cancels to
    # EXACTLY zero: 1 + (-1) = 0
    z[0], z[1] = float(s1[0]) * 1e-9, float(-s1[1]) * 1e-9
    rows.append((3, z))
    rng = np.random.default_rng(7)
    for i in range(4, 40):
        rows.append((i, [float(x) for x in rng.normal(scale=1e-6, size=dims)]))
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr = {
        (r.vec_id, r.bucket)
        for r in d.select("vec_id", quantize_vec(F.col("embedding")).alias("__q"))
        .select("vec_id", lsh_bucket_expr(F.col("__q"), planes, dims).alias("bucket"))
        .collect()
    }
    arrow = {
        (r.vec_id, r.bucket)
        for r in _arrow_lsh_base(d, "vec_id", "embedding", planes, dims)
        .select("vec_id", "bucket")
        .collect()
    }
    assert arrow == expr
    # plane-1-zero vector: bit 1 must be 0 in both (0 is not > 0)
    b3 = dict(expr)[3]
    assert not (b3 >> 1) & 1


def test_lsh_topk_arrow_equals_expr(spark, sf_dir):
    d = _embeddings(spark, sf_dir)
    got = {}
    for mode in ("expr", "arrow"):
        rows = lsh_topk(d, planes=8, k=3, n_rows=_N_ROWS[mode]).collect()
        got[mode] = sorted(map(tuple, rows))
    assert got["arrow"] == got["expr"]


def test_statless_auto_keeps_expression_plan(spark, sf_dir):
    """With no corpus stat offered the engine must NEVER count and must
    keep the JVM-expression plan (zero Python nodes) — the same
    stat-less contract as the IVF assignment pick."""
    d = _embeddings(spark, sf_dir)
    plan = (
        lsh_topk(d, planes=8, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in plan and "Python" not in plan


def test_resolve_bucket_assign_knee():
    from transit_efficiency_analysis_spark.operators.similarity import (
        _AUTO_ARROW_MIN_NP_LSH,
        _resolve_bucket_assign,
    )

    # stat-less: never counts, expression form
    assert _resolve_bucket_assign(None, 8) == "expr"
    # below the measured knee: expression form (the 1x tie point)
    assert _resolve_bucket_assign(2_000, 5) == "expr"
    # at/above the knee: the matmul twin (the 16x proven-win point)
    assert _resolve_bucket_assign(32_000, 9) == "arrow"
    assert _resolve_bucket_assign(_AUTO_ARROW_MIN_NP_LSH, 1) == "arrow"


def test_auto_resolves_arrow_past_knee_and_stays_bit_equal(spark, sf_dir):
    """A catalog stat past the knee must flip the physical form to the
    matmul twin (MapInArrow in the plan) WITHOUT changing any row —
    bucket ids are bit-equal by integer associativity."""
    d = _embeddings(spark, sf_dir)
    auto = lsh_topk(d, planes=8, k=3, n_rows=10**9)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    expr = lsh_topk(d, planes=8, k=3)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, expr.collect())
    )


def test_bucket_assignments_arrow_equals_expr(spark, sf_dir):
    """lsh_bucket_assignments' bucket-only twin (emit_vectors=False):
    same (vec_id, bucket) rows, same schema, and the arrow plan really
    is the mapInArrow form while the stat-less default stays pure JVM."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        lsh_bucket_assignments,
    )

    d = _embeddings(spark, sf_dir)
    expr = lsh_bucket_assignments(d, planes=8)
    arrow = lsh_bucket_assignments(d, planes=8, n_rows=_N_ROWS["arrow"])
    assert [f.name for f in arrow.schema.fields] == ["vec_id", "bucket"]
    # nullability intentionally differs (mapInArrow outputs are nullable
    # by convention); names and types must match exactly
    assert [(f.name, f.dataType) for f in arrow.schema.fields] == [
        (f.name, f.dataType) for f in expr.schema.fields
    ]
    assert sorted(map(tuple, arrow.collect())) == sorted(
        map(tuple, expr.collect())
    )
    plan = (
        lsh_bucket_assignments(d, planes=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in plan and "Python" not in plan
    arrow_plan = arrow._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in arrow_plan


def test_twin_guards(spark):
    bad_width = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.5, 0.1])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="declared dims"):
        _arrow_lsh_base(bad_width, "vec_id", "embedding", 4, 8).collect()
    nulls = spark.createDataFrame(
        [(1, [1.0, None, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL vector components"):
        _arrow_lsh_base(nulls, "vec_id", "embedding", 4, 4).collect()


def test_multiprobe_arrow_equals_expr(spark, sf_dir):
    """bucket AND flip-plane choice bit-equal: the full multiprobe
    output (both probes' candidates, exact cosine ranks) must match."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        multiprobe_lsh_topk,
    )

    d = _embeddings(spark, sf_dir)
    got = {}
    for mode in ("expr", "arrow"):
        rows = multiprobe_lsh_topk(
            d, planes=8, k=3, n_rows=_N_ROWS[mode]
        ).collect()
        got[mode] = sorted(map(tuple, rows))
    assert got["arrow"] == got["expr"]
    assert got["expr"], "multiprobe returned no rows"


def test_multiprobe_statless_auto_keeps_expression_plan(spark, sf_dir):
    from transit_efficiency_analysis_spark.operators.similarity import (
        multiprobe_lsh_topk,
    )

    d = _embeddings(spark, sf_dir)
    plan = (
        multiprobe_lsh_topk(d, planes=8, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" not in plan and "Python" not in plan


def test_multiprobe_auto_resolves_arrow_past_knee(spark, sf_dir):
    from transit_efficiency_analysis_spark.operators.similarity import (
        multiprobe_lsh_topk,
    )

    d = _embeddings(spark, sf_dir)
    auto = multiprobe_lsh_topk(d, planes=8, k=3, n_rows=10**9)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    expr = multiprobe_lsh_topk(d, planes=8, k=3)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, expr.collect())
    )


def test_registered_lsh_demos_plan_pure_jvm_at_gate_scale(spark, sf_dir):
    """The five LSH demos now thread ``n_rows=parquet_rows(...)`` into
    their operators; at gate/bench corpus sizes the auto knee must
    still resolve to the expression form, keeping every registered
    demo plan free of Python nodes (the same pin pattern as
    test_registered_ivf_demos_plan_the_fold)."""
    from transit_efficiency_analysis_spark.demo import load_registry

    registry = load_registry()
    for name in (
        "q_sim_lsh_buckets",
        "q_sim_lsh_topk",
        "q_sim_lsh_topk_derived",
        "q_sim_lsh_recall",
        "q_sim_lsh_multiprobe_topk",
    ):
        plan = (
            registry[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "MapInArrow" not in plan and "Python" not in plan, name


def test_twin_rejects_plane_overflow(spark):
    d = spark.createDataFrame(
        [(1, [1.0] * 4)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="max 62"):
        _arrow_lsh_base(d, "vec_id", "embedding", 63, 4)


def test_derived_mode_sizing_count_feeds_the_knee(spark):
    """A stat-less derived-planes caller pays one sizing count(); that
    count doubles as the auto knee's stat, so a corpus past the knee
    plans the matmul twin WITHOUT the caller ever passing n_rows (the
    production path bench_scale's 16x/64x derived cells measure).
    Plan-only — nothing is collected."""
    from pyspark.sql import functions as F

    # 32,000 rows x derive_planes(32000, 64) = 9 planes = 288k row-planes
    # — exactly the knee (the 16x proven-win point)
    d = spark.range(32_000).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double") for i in range(8)]).alias(
            "embedding"
        ),
    )
    df = lsh_topk(d, planes=None, dims=8, k=3, target_bucket_size=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    # same corpus, explicit stat BELOW the knee: expression form
    df2 = lsh_topk(d, planes=8, dims=8, k=3, n_rows=2_000)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan2 and "Python" not in plan2


def test_auto_never_routes_planes_over_62_into_the_twin(spark):
    """planes=63 works on the expression form (max bucket 2^63-1 fits a
    signed long) but the twin fail-fasts at its overflow guard; a
    past-knee stat must therefore keep the expression form — the knee
    may never turn a working call into an error."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        _resolve_bucket_assign,
    )

    assert _resolve_bucket_assign(10**9, 63) == "expr"
    d = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [0.5] * 4)], "vec_id long, embedding array<double>"
    )
    df = lsh_topk(d, planes=63, dims=4, k=1, n_rows=10**9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "Python" not in plan
    assert df.count() >= 0  # the expression form executes fine


def test_auto_resolved_guard_errors_are_self_diagnosing(spark):
    """When the knee picks the Arrow path (corpus past it) and the
    corpus carries dirty vectors, the rejection must say why the form
    was picked and name the escape that remains (call without n_rows,
    passing planes) — below the knee the same call silently
    zero-buckets, so the failure would otherwise surface with no
    visible cause as the corpus grows."""
    import pytest as _pytest

    from transit_efficiency_analysis_spark.operators.similarity import (
        lsh_bucket_assignments,
    )

    nulls = spark.createDataFrame(
        [(1, [1.0, None, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(
        Exception,
        match="NULL vector components(.|\n)*crossed the row-plane knee"
        "(.|\n)*call without n_rows",
    ):
        # n_rows far past the knee picks arrow with no count()
        lsh_bucket_assignments(
            nulls, planes=4, dims=4, n_rows=10_000_000
        ).collect()
