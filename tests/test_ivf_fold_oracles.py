"""Round-15 flip gate, kept as a PERMANENT parity pin.

The fold is the executed ``ivf_topk`` / ``ivf_pq_topk`` assignment
whenever no row count past the knee is given, and the live oracles of the
three IVF demos are its mirrors (raw dot against the pre-normalized centroid, zero-norm
centroids guarded to NULL and filtered before the rank, all-NULL
fallback to the smallest cells), plus the zero-norm guards in the
q_dedup_semantic / q_dedup_semantic_hier oracles (ADVICE r13 #1). These
tests run each LIVE demo against its LIVE oracle at sf0.01 — the
driver's gate scale — through the SAME compare + dtype gate
tools/verify_local.py applies, so the riskiest oracle arithmetic in the
registry stays pinned inside pytest between driver rounds.

History: the staging versions of these strings were authored in round
14 (demo/staged_r15.py, deleted at the flip) and parity-tested there
before any executed default changed.
"""

from __future__ import annotations

import os

import pytest

from tools.verify_local import compare, duck_connect, type_report
from transit_efficiency_analysis_spark.demo import load_registry

SF_DIR = "/root/testdata/sf0.01"

FOLD_DEMOS = [
    "q_sim_ivf_topk",
    "q_sim_ivf_lloyd_topk",
    "q_sim_ivf_pq_topk",
    "q_dedup_semantic",
    "q_dedup_semantic_hier",
]


@pytest.mark.parametrize("name", FOLD_DEMOS)
def test_live_fold_oracle_matches_live_demo(spark, name):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} absent")
    entry = load_registry()[name]
    df = entry.fn(spark, SF_DIR)
    spark_rows = df.collect()
    assert spark_rows, f"{name}: output empty at sf0.01"

    con = duck_connect(SF_DIR)
    rel = con.sql(entry.sql)
    duck_cols = list(rel.columns)
    duck_types = list(rel.types)
    duck_rows = rel.fetchall()

    mismatched_types = type_report(df, duck_cols, duck_types)
    assert not mismatched_types, f"{name}: dtype mismatch {mismatched_types}"
    ok, msg = compare(spark_rows, df.columns, duck_rows, duck_cols)
    assert ok, f"{name}: {msg}"


def test_live_oracles_carry_zero_norm_guards():
    """Every oracle that scores against a pre-normalized centroid list
    must guard the zero-norm case (DuckDB: x/0.0 -> NULL elements,
    list_inner_product raises) — a regression here reintroduces the
    ADVICE r13 crash class."""
    registry = load_registry()
    for name in FOLD_DEMOS:
        sql = registry[name].sql
        assert "list_transform" in sql, name
        # every pre-normalization `list_transform(<cv>, x -> x / <cn>)`
        # must sit inside a `CASE WHEN <cn> = 0 THEN NULL ELSE ...` arm:
        # require the guard prelude within the 200 chars preceding each
        # occurrence
        start = 0
        while (i := sql.find("list_transform", start)) != -1:
            window = sql[max(0, i - 200) : i]
            assert "= 0 THEN NULL" in window, (
                f"{name}: unguarded list_transform at offset {i}"
            )
            start = i + 1


def test_ivf_operator_defaults_are_auto_resolving_to_fold():
    """The engine picks the assignment form from ``n_rows`` alone (no
    caller-set selector), and without a catalog stat it MUST pick the
    fold, whose arithmetic is what the live demo oracles mirror.
    tests/test_assign_auto.py pins the knee itself; this pin guards the
    oracle contract end: a pick that stopped landing on the fold here
    would detach the executed demos from their mirrored SQL."""
    import inspect

    from transit_efficiency_analysis_spark.operators.similarity import (
        _resolve_assign,
        ivf_pq_topk,
        ivf_topk,
        semantic_dedup,
    )

    for fn in (ivf_topk, ivf_pq_topk, semantic_dedup):
        params = inspect.signature(fn).parameters
        assert "assign" not in params and params["n_rows"].default is None
    # no n_rows → the fold (the mirrored form)
    assert _resolve_assign(None, 8) == "fold"
