"""The vectorized ivf_pq encode/ADC twin (round 15, session 2).

Three layers of evidence, innermost-out:

1. ``_quantize_sq9`` vs Spark's own ``CAST(double AS DECIMAL(18,9))``
   on adversarial inputs — the ONLY approximable step in the twin
   (everything downstream is exact integer arithmetic), so this is
   the whole parity surface.
2. ivf_pq_topk's arrow form (forced with a row count past the PQ knee)
   vs its fold form (no row count) full-collect equality at sf0.001 (every query's exact decimal rank and the
   emitted approx_l2sq doubles).
3. The same at sf0.01 (more rows → more boundary exposure than the
   sf0.001 smoke the r15 pin uses).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.operators.similarity import (
    _quantize_sq9,
    ivf_pq_topk,
)

#: ``n_rows`` that forces each form: none keeps the fold, a row count far
#: past the PQ knee picks the fused arrow pipeline
_N_ROWS = {"fold": None, "arrow": 10**9}


def _spark_quantized(spark, values):
    """Ground truth: Spark's double→DECIMAL(18,9) cast, as scale-9 ints."""
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    rows = (
        df.select((F.col("x").cast("decimal(18,9)") * 1_000_000_000)
                  .cast("long").alias("q"))
        .collect()
    )
    return [r["q"] for r in rows]


def test_quantize_sq9_matches_spark_cast(spark):
    rng = np.random.default_rng(42)
    vals = list(rng.uniform(0.0, 4.0, 2000))
    vals += list(rng.uniform(0.0, 1e-6, 200))       # subnormal-ish region
    vals += list(rng.uniform(1e6, 1e9, 200))        # large squares
    # exact decision boundaries and their float neighbours
    for k in (0, 1, 2, 499999999, 10**12):
        for base in (f"{k}.5e-9", f"{k}.4999999999e-9", f"{k}.5000000001e-9"):
            vals.append(float(base))
    # squares of shortest-repr-hostile diffs
    vals += [float(f"0.{d}000000005") for d in range(1, 10)]
    vals += [np.nextafter(float(v), np.inf) for v in vals[-9:]]
    vals = [v for v in vals if v >= 0.0]
    ours = _quantize_sq9(np.asarray(vals, np.float64))
    theirs = _spark_quantized(spark, vals)
    mismatches = [
        (v, int(o), int(t))
        for v, o, t in zip(vals, ours, theirs)
        if int(o) != int(t)
    ]
    assert not mismatches, mismatches[:5]


def test_quantize_sq9_exact_path_flags_boundaries():
    # a value EXACTLY on a half boundary must round HALF_UP like Spark
    v = np.asarray([2.5e-9, 0.0, 1.0], np.float64)
    q = _quantize_sq9(v)
    assert q[0] == 3 and q[1] == 0 and q[2] == 10**9


def _pq_stage_relations(spark, sf_dir, mode):
    """Rebuild ivf_pq's (enc, adc) for one mode, via the public op's
    internals — collected and canonicalized for comparison."""
    out = ivf_pq_topk(
        _embeddings(spark, sf_dir), n_centroids=4, m=4, ks=8, n_probe=2,
        k=3, n_rows=_N_ROWS[mode], checkpoint=False,
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    return sorted(map(tuple, out.collect()), key=lambda t: (t[0], t[3]))


def _embeddings(spark, sf_dir):
    from transit_efficiency_analysis_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_pq_arrow_encode_equals_fold_sf001(spark, sf_dir):
    assert _pq_stage_relations(spark, sf_dir, "arrow") == _pq_stage_relations(
        spark, sf_dir, "fold"
    )


@pytest.mark.slow
def test_pq_arrow_encode_equals_fold_sf01(spark):
    """sf0.01: 500 vectors × 8 cells × (4 × 16) codes — ~2 orders of
    magnitude more quantization calls than the sf0.001 smoke."""
    f = None
    for mode in ("fold", "arrow"):
        out = ivf_pq_topk(
            _embeddings(spark, "/root/testdata/sf0.01"),
            n_centroids=8, m=4, ks=16, n_probe=2, k=3, n_rows=_N_ROWS[mode],
        ).collect()
        got = sorted(map(tuple, out))
        if f is None:
            f = got
        else:
            assert got == f


def test_pq_arrow_rejects_dims_smaller_than_m(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.5, 0.1]), (3, [0.2, 0.9])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="dims|sub_d|DIVIDE"):
        ivf_pq_topk(
            df, n_centroids=2, m=4, ks=2, n_probe=1, k=1,
            n_rows=_N_ROWS["arrow"],
        ).count()


def test_quantize_sq9_hypothesis_vs_exact_decimal():
    """Hammer the fast-path/hazard split (no Spark): for ANY
    non-negative finite float64, _quantize_sq9 must equal the exact
    ``Decimal(repr(x)).scaleb(9)`` HALF_UP integral — the same ground
    truth the Spark-cast grid test samples, but 10k+ examples across
    magnitudes, including floats manufactured adjacent to decision
    boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def exact(x: float) -> int:
        return int(
            Decimal(repr(x)).scaleb(9).to_integral_value(rounding=ROUND_HALF_UP)
        )

    @settings(max_examples=2000, deadline=None)
    @given(
        st.one_of(
            # < 1e9: the DECIMAL(18,9) domain (>= 1e9 raises, below)
            st.floats(min_value=0.0, max_value=9.99e8, allow_nan=False),
            st.floats(min_value=0.0, max_value=1e-3, allow_nan=False),
            # floats adjacent to k + 0.5 boundaries at scale 9
            st.integers(min_value=0, max_value=10**10).flatmap(
                lambda k: st.sampled_from(
                    [
                        float(Decimal(2 * k + 1) / Decimal(2 * 10**9)),
                        np.nextafter((2 * k + 1) / 2e9, np.inf),
                        np.nextafter((2 * k + 1) / 2e9, 0.0),
                    ]
                )
            ),
        )
    )
    def check(x):
        got = int(_quantize_sq9(np.asarray([x], np.float64))[0])
        assert got == exact(float(x)), (x, got, exact(float(x)))

    check()


def test_quantize_sq9_decimal_overflow_raises():
    """sq >= 1e9 is outside DECIMAL(18,9) — the fold's ANSI cast errors
    there, and the twin must raise the same class loudly instead of
    wrapping int64 (found by the hypothesis hammer: 9223372037.0
    previously OverflowError'd out of the exact path)."""
    for bad in (1e9, 9223372037.0, 1e300, float(np.nextafter(1e9, np.inf))):
        with pytest.raises(ValueError, match="DECIMAL"):
            _quantize_sq9(np.asarray([0.5, bad], np.float64))
    # the largest in-domain float stays on the normal path
    ok = float(np.nextafter(1e9, 0.0))
    assert int(_quantize_sq9(np.asarray([ok], np.float64))[0]) < 10**18


def test_sq9_hazard_no_cliff_at_large_magnitudes():
    """ADVICE r15 #1: the old tolerance max(1e-6, y*1e-12) saturated the
    0.5 maximum boundary distance at y = 5e11 (squared diff ~500), so
    EVERY element with sq >= ~500 routed through the per-element Python
    Decimal loop — correct but a silent perf cliff spanning six decades
    of in-domain magnitudes. The fixed slope (y*1e-15) must keep random
    (non-boundary-adjacent) values in that zone on the vectorized fast
    path, while values past the float64-resolution wall (y >= 2^51)
    still all route exact."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        _sq9_hazard,
    )

    rng = np.random.default_rng(7)
    # sq in [500, 5000): the first decade of the formerly-cliffed zone
    # (old formula: 100% hazard everywhere here). New slope 1e-15 gives
    # expected fraction 2e-15*y <= 1% at the top of this decade; the
    # fraction grows with y by design (the true float64 error bound is
    # proportional to y) until full saturation at y ~ 5e14 — well below
    # the old formula's 5e11 onset.
    y = rng.uniform(500.0, 5000.0, 4000) * 1e9
    frac = float(np.mean(_sq9_hazard(y)))
    assert frac < 0.02, f"hazard fraction {frac} — the Decimal cliff is back"
    # past 2^51 everything must stay on the exact path
    assert _sq9_hazard(np.asarray([2.0**51, 2.0**52 * 1.7])).all()
    # genuinely boundary-adjacent values must still be flagged:
    # k + 0.5 at scale 9, well inside the formerly-cliffed zone
    boundary = (2 * 750_000_000_000 + 1) / 2.0  # y = 7.5e11 + 0.5
    assert _sq9_hazard(np.asarray([boundary])).all()


def test_pq_arrow_string_ids_equal_fold(spark, sf_dir):
    """The arrow encode/ADC stage derives the pass-through id column's
    type from the input relation's schema (a pinned LongType would crash
    a string id_col, which the fold's type-agnostic joins accept on an
    Arrow schema mismatch); string-keyed PQ must be bit-equal across
    forms."""
    base = _embeddings(spark, sf_dir).select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    got = {}
    for mode in ("fold", "arrow"):
        out = ivf_pq_topk(
            base, n_centroids=4, m=4, ks=8, n_probe=2, k=3,
            n_rows=_N_ROWS[mode], checkpoint=False,
        ).collect()
        got[mode] = sorted(map(tuple, out))
    assert got["arrow"] == got["fold"]
    assert got["arrow"], "string-id PQ returned no rows"
    assert all(
        isinstance(t[0], str) and t[0].startswith("doc-") for t in got["arrow"]
    )
