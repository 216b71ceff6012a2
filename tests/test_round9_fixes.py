"""Regression pins for the round-9 fixes (VERDICT/ADVICE round 8).

- ``_tmpcache.lazy_result`` is keyed PER DEMO: repeated invocations for
  the same key reuse/overwrite ONE result dir instead of accumulating
  one mkdtemp per call (ADVICE r8 low, ``demo/streamingdemo.py:608``).
- ``q_sql_recursive_chain`` no longer ``localCheckpoint``s: the eager
  execution under the scoped ``cteRecursionLevelLimit`` conf goes
  through the same lazy-result parquet rewrite, so NO RDD blocks stay
  cached in executor storage after the demo returns (VERDICT r8 nit #1).
- ``merge_match_condition`` / ``merge_newer_condition`` reject empty
  key/order lists instead of returning empty strings that would embed
  malformed SQL in a MERGE statement (ADVICE r8 low,
  ``operators/upsert.py:294``).
"""

from __future__ import annotations

import os

import pytest

from transit_efficiency_analysis_spark.demo._tmpcache import (
    _RESULT_CACHE,
    lazy_result,
)
from transit_efficiency_analysis_spark.operators.upsert import (
    merge_match_condition,
    merge_newer_condition,
)


def test_lazy_result_reuses_one_dir_per_key(spark):
    df = spark.range(5).toDF("n")
    before = dict(_RESULT_CACHE)
    out1 = lazy_result(spark, df, "r9_test_key")
    d1 = _RESULT_CACHE["r9_test_key"]
    out2 = lazy_result(spark, spark.range(7).toDF("n"), "r9_test_key")
    d2 = _RESULT_CACHE["r9_test_key"]
    # same key -> same dir, overwritten in place; no per-call accumulation
    assert d1 == d2
    assert len(_RESULT_CACHE) == len(before) + 1
    # latest invocation's content wins (the documented overwrite contract)
    assert out2.count() == 7
    # distinct keys get distinct dirs (no cross-demo clobbering)
    lazy_result(spark, df, "r9_test_key_b")
    assert _RESULT_CACHE["r9_test_key_b"] != d1
    assert out1 is not None  # held reference; validity until re-run is documented


def test_lazy_result_is_lazy_parquet_read(spark):
    out = lazy_result(spark, spark.range(3).toDF("n"), "r9_test_lazy")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the returned frame is a file-source read, not a localized/cached scan
    assert "Relation" in plan and "parquet" in plan


def test_recursive_chain_leaves_no_cached_rdd_blocks(spark, sf_dir):
    from transit_efficiency_analysis_spark.demo.recursion import (
        q_sql_recursive_chain,
    )

    key = "spark.sql.cteRecursionLevelLimit"
    before = spark.conf.get(key)
    # other suites may legitimately hold persisted relations on the shared
    # session (e.g. the incremental dedup per-doc persists), so pin
    # "the demo adds NO blocks", not "storage is globally empty"
    jsc = spark.sparkContext._jsc.sc()
    blocks_before = {s.id() for s in jsc.getRDDStorageInfo()}
    out = q_sql_recursive_chain(spark, sf_dir)
    # conf scoping still holds under the new eagerness mechanism
    assert spark.conf.get(key) == before
    # the old localCheckpoint pinned the traversal's blocks in executor
    # storage for the session's lifetime; the parquet rewrite must not
    new_blocks = [
        s.toString()
        for s in jsc.getRDDStorageInfo()
        if s.id() not in blocks_before
    ]
    assert new_blocks == []
    # result still reads (lazy parquet) and is non-trivial
    assert out.limit(1).count() == 1
    # and the result dir is the keyed process-lifetime one
    assert "recursive_chain" in _RESULT_CACHE
    assert os.path.isdir(_RESULT_CACHE["recursive_chain"])


def test_merge_condition_builders_reject_empty_inputs():
    # ValueError, not assert: `python -O` strips asserts, which would
    # revert to the malformed-MERGE-SQL failure mode (ADVICE r9)
    with pytest.raises(ValueError):
        merge_match_condition([])
    with pytest.raises(ValueError):
        merge_newer_condition([])
    # non-empty behavior unchanged (newer-condition string is the
    # null-aware r12 form — see test_round8_fixes for the full pins)
    assert merge_match_condition(["k"]) == "t.`k` <=> s.`k`"
    assert merge_newer_condition(["v"]) == (
        "((t.`v` IS NULL AND s.`v` IS NOT NULL) OR s.`v` > t.`v`)"
    )


def test_bench_machine_context_fields(spark):
    """bench.py's env annotation (round-8 verdict #3): the JSON must carry
    enough machine context to distinguish a loaded-box noise round from a
    plan regression — loadavg triple, cpu count, and the Spark-session
    parallelism facts."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    ctx = mod._machine_context(spark)
    assert {"loadavg_1m", "loadavg_5m", "loadavg_15m"} <= ctx.keys()
    assert ctx["cpus"] == os.cpu_count()
    assert ctx["default_parallelism"] >= 1
    assert int(ctx["shuffle_partitions"]) >= 1
    # without a session the Spark facts are absent but the host facts stay
    host_only = mod._machine_context(None)
    assert "default_parallelism" not in host_only
    assert "cpus" in host_only
