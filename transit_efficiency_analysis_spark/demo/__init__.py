"""Driver-verifiable demo queries (the ``queries()`` / ``oracle_sql()`` surface).

Each operator from SURVEY.md §2 (plus the LLM-data-pipeline extensions) gets
a named demo: a PySpark callable ``(spark, sf_dir) -> DataFrame`` over the
driver's testdata tables, and — when SQL-expressible — an exact ANSI-SQL twin
that DuckDB runs on the same parquet for the correctness gate.

Register with the ``@demo`` decorator; ``__spark_entry__.py`` re-exports the
registry. Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Demo:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → driver does rows-only check


REGISTRY: dict[str, Demo] = {}

_DEMO_MODULES = [
    "recursion",
    "pysource",
    "approx",
    "layout",
    "streamingdemo",
    "retrieval",
    "graphextras",
    "tpchx",
    "corpusops",
    "ingest",
    "sinks",
    "sqlsurface",
    "tpch",
    "dedup",
    "similarity",
    "subqueries",
    "multimodal",
    "pandasudf",
    "windowed",
    "asof",
    "sampling",
    "textprep",
    "semistructured",
    "jdbc",
    "core",
    "timefns",
    "joins",
    "upsert",
    "delay",
    "analytics",
    "windows",
    "setops",
    "textops",
]

# The driver oracle-checks the FIRST 50 registry entries each round, so
# registry order IS the correctness window. Until round 4 the window was
# steered by module order alone, which is fragile: demo modules import
# each other, and a transitively-imported module registers its entries
# first regardless of its position in _DEMO_MODULES. The window pins the
# front 50 by name instead: _WINDOW_FRONT carries this round's fixes, new
# demos, and anything whose implementation changed since its last green
# row; _WINDOW_FILLER re-verifies prior-green rows, chosen
# least-recently-verified first so coverage stays fresh.
# tests/test_window.py asserts every filler name really has a prior green
# CORRECTNESS row (guards the round-4 mislabel: q_text_pack was filed as
# "r3-green filler" while actually new-and-red in r4).
# Standing freshness SLO (adopted round 8, recalibrated round 11): no
# registry entry's latest driver row may be older than one full rotation
# cycle — ceil(len(REGISTRY) / 50) rounds (check_window computes it
# live from the registry size; no literal count here, it drifted) —
# and no entry may stay registered-but-never-driver-checked past the
# round after it lands. (The original 4-round figure was set when the
# registry was ~200 entries; past ~200 a 4-round cycle would need a
# 60-slot window the driver doesn't have, so 4 was unachievable by
# arithmetic, not negligence. The cycle-length form is the tightest
# bound strict oldest-first rotation can actually deliver.)
# Each round's window takes (1) never-checked entries first, (2) the
# oldest driver rows next, (3) anything whose implementation or oracle
# changed since its last green row. tools/check_window.py enforces all
# of this mechanically (wired into pytest via tests/test_window.py) so a
# skipped rotation can never ship silently again — the round-10 miss
# shipped exactly because the rotation lived only in a comment.
# The round this window targets (the round whose driver run will
# execute it). tools/check_window.py uses it to tell "this window's
# results were just recorded" (grace: newest artifact == window and
# 50/50 green) from "rotation skipped" (artifacts newer than the
# window's target round) — the ADVICE r11 medium item.
_WINDOW_ROUND = 20

# The window's 2 front slots hold demos whose executed code changed
# since their last green CORRECTNESS row:
# - q_upsert_merge_parquet: merge_into_partitioned now commits through
#   the manifest protocol only, so the demo's write path changed.
# - q_sql_recursive_chain: executes the lag(2^k) prefix-doubling walk
#   in place of the recursive CTE.
#
# Dark-ship exemption: an engine-side branch shipped behind a
# non-default parameter whose default keeps the previous code path
# does not take a window slot the round it lands; it takes one the
# round its default flips. Each exemption is re-verified locally with
# tools/verify_local.py when it lands. None are outstanding.
_WINDOW_FRONT = [
    "q_upsert_merge_parquet",
    "q_sql_recursive_chain",
]

# Prior-green re-verification filler, least-recently-verified first:
# the 48 entries whose latest green row is in CORRECTNESS_r14, one
# full rotation cycle old at round 20 (exactly the set check_window R3
# lists before this rotation).
_WINDOW_FILLER: list[str] = [
    "q_agg_bitwise",
    "q_agg_grouping_id",
    "q_agg_histogram",
    "q_apply_in_pandas",
    "q_array_setops",
    "q_dedup_editdistance",
    "q_dedup_embedding",
    "q_dedup_embedding_lsh",
    "q_dedup_incremental",
    "q_dedup_minhash_incremental",
    "q_dedup_simhash",
    "q_dedup_simhash_incremental",
    "q_expr_try_arith",
    "q_ingest_gtfs_rt",
    "q_ingest_gtfs_static",
    "q_join_range_interval",
    "q_join_skew_salted",
    "q_json_parse",
    "q_multimodal_bmp",
    "q_multimodal_frames",
    "q_multimodal_meta",
    "q_multimodal_wav",
    "q_null_clean",
    "q_pandas_udf_scalar",
    "q_range_normalize",
    "q_sample_hash",
    "q_sample_stratified",
    "q_semi_map_ops",
    "q_sink_truncate",
    "q_sql_collation",
    "q_subquery_correlated_avg",
    "q_subquery_exists",
    "q_subquery_scalar",
    "q_text_chunk",
    "q_text_contamination",
    "q_text_redact",
    "q_text_regex_extract",
    "q_text_repetition",
    "q_tpch_q10",
    "q_tpch_q12",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_ts_calendar",
    "q_upsert_merge",
    "q_window_cume_nth",
    "q_window_range",
    "q_window_session",
    "q_window_tumbling",
]

_WINDOW = _WINDOW_FRONT + _WINDOW_FILLER


def demo(name: str, sql: str | None = None):
    """Register a demo query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Demo(name, fn, sql)
        return fn

    return deco


def load_registry() -> dict[str, Demo]:
    """Import all demo modules (idempotent) and return the registry,
    ordered so the first 50 entries are exactly ``_WINDOW`` (the driver's
    correctness window); the rest follow in module order."""
    for mod in _DEMO_MODULES:
        importlib.import_module(f"transit_efficiency_analysis_spark.demo.{mod}")
    missing = [n for n in _WINDOW if n not in REGISTRY]
    assert len(_WINDOW) == 50 and not missing, (
        f"_WINDOW must name 50 registered demos (len={len(_WINDOW)}, "
        f"unknown={missing})"
    )
    ordered = {n: REGISTRY[n] for n in _WINDOW}
    ordered.update((n, d) for n, d in REGISTRY.items() if n not in ordered)
    return ordered
