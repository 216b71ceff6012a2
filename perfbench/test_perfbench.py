"""Tests of the benchmark itself: input determinism, the ledger against a
tiny end-to-end run, and metric names against ``BENCHMARK.json``.

    python3 -m pytest perfbench/test_perfbench.py -q

The run tests start Spark (about a minute in all).
"""

from __future__ import annotations

import filecmp
import json
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("spec", ["tiny", "freshness_cycle"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, spec):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.generate(str(a), gen.SPECS[spec], 7)
    gen.generate(str(b), gen.SPECS[spec], 7)
    gen.generate(str(c), gen.SPECS[spec], 8)
    names = _files(str(a))
    assert names == _files(str(b)) and len(names) > 5
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    assert (a / "ledger.json").read_bytes() != (c / "ledger.json").read_bytes()


def test_ledger_tracks_the_poll_mix(tmp_path):
    spec = gen.SPECS["tiny"]
    ledger = gen.generate(str(tmp_path), spec, 3)
    exp = ledger["expected"]
    new_keys = round(spec.poll_units * spec.mix[0]) * spec.stops_per_trip
    assert [b["keys"] - a["keys"] for a, b in zip(exp, exp[1:])] == [new_keys] * spec.polls
    assert exp[0]["updated_keys"] == 0 < exp[-1]["updated_keys"]
    assert ledger["seeded_rows"] == exp[0]["keys"]


def _tiny_run(workload: str, trace: bool, wrong_ledger: bool = False) -> dict:
    """A whole run of ``workload``'s loop over the tiny spec; with
    ``wrong_ledger``, the output check then runs again against a ledger
    with two wrong entries."""
    bench = run.Bench(workload, 5, trace, spec="tiny")
    try:
        # the loop ends when the tiny spec's polls run out
        result = bench.run(600)
        if wrong_ledger:
            before = len(bench.failures)
            t = bench.tables
            t.ledger["expected"][t.diffs_polls]["diffs_arrival_sum_min"] += 1
            t.ledger["seeded_rows"] += 1
            bench.verify()
            result["new_failures"] = len(bench.failures) - before
        result["polls"] = bench.tables.polls
    finally:
        bench.close()
    return result


def _in_fresh_process(*args) -> dict:
    """Each Spark run gets its own interpreter: the pipeline keeps
    per-process expression caches and the tracer patches its namespace."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
        return pool.submit(_tiny_run, *args).result(timeout=600)


def test_tiny_run_matches_its_ledger_and_reports_every_end_to_end_metric():
    result = _in_fresh_process("freshness_cycle", False, True)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 10
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())
    # every poll of the tiny spec was applied and checked
    assert result["polls"] == gen.SPECS["tiny"].polls
    # and a wrong ledger is caught
    assert result["new_failures"] == 2


def test_traced_tiny_run_reports_every_per_layer_metric():
    result = _in_fresh_process("realtime_trickle", True)
    assert result["correct"]
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert not any(v["value"] != v["value"] for v in result["metrics"].values())  # no NaN


def test_benchmark_json_declares_what_the_code_emits():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(gen.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in BENCHMARK["per_layer"]] == (
        layers.per_layer_metrics()
    )
    setup = next(m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])
