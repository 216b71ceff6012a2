"""Testdata table registry.

Reads the driver-generated parquet tables (TESTDATA.md) from an ``sf_dir``.
Parquet scans are Catalyst-native: column pruning and predicate pushdown
reach the scan automatically; at 100 TB the same code reads a partitioned
table from object storage with partition pruning on date predicates.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: (applicationId, path) → DataFrame. Construction memo only (round 18):
#: building the relation costs a parquet footer probe, three conf round
#: trips and a file-index listing per call (~0.1 s), and a TPC-H query
#: loads 4-6 tables — ~0.3-0.8 s of per-invocation driver wall measured
#: at bench. The cached object is a LAZY immutable plan (no data, no
#: results); the file snapshot is taken at first read, which is exact for
#: the driver's read-only testdata. Keyed by applicationId so a fresh
#: session never sees another session's plans.
_TABLE_PLANS: dict[tuple[str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame.

    Parquet TIMESTAMP(NANOS) columns (e.g. ``events.ts``) are illegal for
    Spark's vectorized reader; we read them as raw nanos longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to microsecond
    timestamps — the same truncation DuckDB applies, so oracle comparisons
    stay bit-equal.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache_key = (spark.sparkContext.applicationId, os.path.abspath(path))
    cached = _TABLE_PLANS.get(cache_key)
    if cached is not None:
        return cached
    # all semantics in this engine assume UTC session time (SURVEY §1.2);
    # set it here so queries are correct under any caller's session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_cols: list[str] = []
    try:
        for field in pq.read_schema(path):
            if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
                nanos_cols.append(field.name)
    except (OSError, pa.ArrowInvalid):
        pass  # non-local path or unreadable footer: fall through to plain read
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # read naive parquet timestamps as UTC instants (TimestampType), not NTZ —
    # matches DuckDB's naive interpretation under a UTC session and keeps
    # epoch arithmetic (cast to double) legal
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    _TABLE_PLANS[cache_key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Read several testdata tables; returns {name: DataFrame}."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def parquet_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata parquet table from its FOOTER
    metadata — no Spark job, no scan, microseconds on the driver.

    This is the zero-cost ``n_rows`` source for the cached-statistics
    paths (``lsh_topk(n_rows=...)`` sizing, the IVF/SemDeDup/LSH
    physical-form pick on the measured row-count knees, the SemDeDup
    K-knee warning): parquet writers record num_rows per file footer, so the
    stat is exact, not an estimate — the same number ``COUNT(*)``
    returns, read the way a lakehouse catalog would serve it. Directory
    datasets (a table written as ``<name>.parquet/part-*.parquet``) sum
    their fragments' footers; works on both the single-file testdata
    layout and Spark-written partitioned dirs."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows
