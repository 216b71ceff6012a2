from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from transit_efficiency_analysis_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → (``fn()``, number of Spark jobs it ran), read
    from the status tracker under a job group of its own."""

    def run(fn):
        sc = spark.sparkContext
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


#: Demos the no-row-UDF plan sweep skips: they write real side outputs
#: (CSV fixtures, Derby, parquet) or run iterative actions at
#: plan-construction time, and their plans are covered by their own tests.
ROW_UDF_SWEEP_SKIP = frozenset({
    "q_ingest_gtfs_static", "q_jdbc_roundtrip", "q_sink_roundtrip",
    "q_dedup_clusters", "q_dedup_clusters_twophase",
})


@pytest.fixture(scope="session")
def demo_sweep(spark, sf_dir):
    """Build every registered demo once (plan construction only) and
    record, per demo name, ``(schema, row_udf)``: the output schema, and
    the no-row-UDF plan check's result — None when it passes, its
    message when it fails, and ``"skipped"`` for ROW_UDF_SWEEP_SKIP.
    Shared by the registry-wide schema and plan sweeps, which would
    otherwise build all the plans twice."""
    from transit_efficiency_analysis_spark.demo import load_registry
    from transit_efficiency_analysis_spark.plans import assert_no_python_row_udf

    built = {}
    for name, d in sorted(load_registry().items()):
        df = d.fn(spark, sf_dir)  # plan build; raises on error
        row_udf = "skipped"
        if name not in ROW_UDF_SWEEP_SKIP:
            try:
                assert_no_python_row_udf(df)
                row_udf = None
            except AssertionError as e:
                row_udf = str(e)
        built[name] = (df.schema, row_udf)
    return built
