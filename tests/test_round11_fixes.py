"""Regression pins for the round-11 fixes (VERDICT/ADVICE round 10).

- A legacy NaT persisted in state (by pre-r10-guard code) followed by
  ONLY all-null chunks must be emitted/re-persisted as None, not NaT —
  the chunk-fold guard only heals NaT when a later real timestamp
  arrives, so the normalization must happen up front (ADVICE r10,
  streaming/stateful.py).
- ``running_total``/``budget_select`` fail fast on n_buckets < 1 and
  work with n_buckets == 1 (previously: percentile_approx over an empty
  quantile list — an opaque analysis-time error; ADVICE r10,
  operators/budget.py).
- ``semantic_dedup_hier`` fails fast on degenerate centroid counts
  instead of silently returning an empty frame in which every vector
  was "deduped away" (ADVICE r10, operators/similarity.py).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


class _StubState:
    def __init__(self, value=None):
        self._value = value
        self.updated = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self.updated = v


def test_legacy_nat_state_with_only_null_chunks_emits_none():
    from transit_efficiency_analysis_spark.streaming.stateful import (
        _update_user_state,
    )

    all_null = pd.DataFrame(
        {"ts": pd.to_datetime([None, None]), "value": [1.0, 2.0]}
    )
    state = _StubState(value=(2, 1.0, pd.NaT))
    (out,) = list(_update_user_state((7,), iter([all_null]), state))
    _, _, max_ts = state.updated
    # the poisoned NaT must be normalized up front, not re-persisted
    assert max_ts is None
    assert pd.isna(out["last_ts"].iloc[0])


def test_tws_legacy_nat_state_with_only_null_chunks_emits_none():
    from transit_efficiency_analysis_spark.streaming.stateful import (
        RunningUserAggProcessor,
    )

    class _ValueState:
        def __init__(self, v):
            self._v = v

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class _Handle:
        def __init__(self, state):
            self.state = state

        def getValueState(self, name, schema):
            return self.state

    vs = _ValueState((2, 1.0, pd.NaT))
    proc = RunningUserAggProcessor()
    proc.init(_Handle(vs))
    all_null = pd.DataFrame(
        {"ts": pd.to_datetime([None, None]), "value": [1.0, 2.0]}
    )
    (out,) = list(proc.handleInputRows((7,), iter([all_null]), None))
    assert vs._v[2] is None
    assert pd.isna(out["last_ts"].iloc[0])


def test_running_total_rejects_nonpositive_buckets(spark):
    from transit_efficiency_analysis_spark.operators.budget import running_total

    df = spark.range(10).select(F.col("id"), F.lit(1).alias("wt"))
    with pytest.raises(ValueError, match="n_buckets"):
        running_total(
            df, [F.col("id").asc()], "wt", n_buckets=0, bucket_by=F.col("id")
        )


def test_running_total_single_bucket_is_exact(spark):
    from transit_efficiency_analysis_spark.operators.budget import running_total

    df = spark.range(10).select(F.col("id"), (F.col("id") + 1).alias("wt"))
    got = {
        r.id: r.cum
        for r in running_total(
            df, [F.col("id").asc()], "wt", n_buckets=1, bucket_by=F.col("id")
        ).collect()
    }
    assert got == {i: (i + 1) * (i + 2) // 2 for i in range(10)}


def test_semantic_dedup_hier_rejects_degenerate_cells(spark):
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup_hier,
    )

    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="coarse_cells"):
        semantic_dedup_hier(df, coarse_cells=0)
    with pytest.raises(ValueError, match="coarse_cells"):
        semantic_dedup_hier(df, n_centroids=4, coarse_cells=8)
    with pytest.raises(ValueError, match="n_centroids"):
        semantic_dedup_hier(df, n_centroids=0)


def test_bench_scale_token_budget_family_runs(sf_dir):
    """ADVICE r10 medium: tools/bench_scale.py's _token_budget crashed
    (running_total now requires bucket_by; the harness passed none), so
    the documented SCALE.md token-budget benchmark was unrunnable. Pin
    the real thing: the solo family completes and reports sane rows
    (own subprocess — the harness builds its own session)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "bench_scale.py"),
            sf_dir,
            "2",
            "token_budget",
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    tb = rec["pipelines"]["token_budget"]
    assert tb["rows1"] > 0 and tb["rowsN"] > tb["rows1"]


def test_merge_parquet_demo_isolated_per_sf(spark, sf_dir):
    """The merge demo's committed state must be keyed per sf_dir: one
    process running it at two scale factors (driver smoke at sf0.001 +
    correctness gate at sf0.01) must never merge one corpus's batches
    onto the other's state — idempotent per sf, different across sfs."""
    from transit_efficiency_analysis_spark.demo import load_registry

    fn = load_registry()["q_upsert_merge_parquet"].fn
    a = fn(spark, sf_dir).count()
    b = fn(spark, "/root/testdata/sf0.01").count()
    assert fn(spark, sf_dir).count() == a
    assert a != b
