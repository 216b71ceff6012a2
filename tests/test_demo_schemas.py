"""Registry-wide schema guard: every demo must build a plan and emit
SCALAR columns only.

The driver's pandas canonicalizer dies on array/map/struct output
(round-4: ``q_approx_quantiles`` returned ``array<double>`` and crashed
even the rows-only check) — so non-scalar output is a correctness-gate
outage, not a style issue. Plan construction alone (no execution) keeps
this sweep fast; the plans are built once per session by the
``demo_sweep`` fixture (conftest.py), shared with the no-row-UDF sweep.
"""

from __future__ import annotations

from pyspark.sql.types import ArrayType, MapType, StructType


def test_every_demo_emits_scalar_columns_only(demo_sweep):
    offenders = []
    checked = 0
    for name, (schema, _) in demo_sweep.items():
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
        checked += 1
    assert not offenders, f"non-scalar demo output columns: {offenders}"
    assert checked >= 140  # the sweep must cover the whole registry
