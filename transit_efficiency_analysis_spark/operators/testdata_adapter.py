"""Deterministic GTFS-shaped views over the driver's TPC-H-ish testdata.

The driver's oracle runs on ``orders/lineitem/events`` parquet (TESTDATA.md),
not on GTFS feeds — so the flagship delay pipeline is demoed on synthetic
``gtfs_data`` / ``trip_updates`` tables derived *deterministically* from
``orders ⋈ lineitem``. Every derivation below is a pure column expression
with an exact ANSI-SQL twin (``GD_SQL`` / ``TU_SQL``) so the DuckDB oracle
reproduces it bit-for-bit.

Mapping: an order is a "trip", its lineitems are "stops". ``l_shipdate`` is
the scheduled arrival; actual times are the schedule plus a key-derived
jitter, with the epoch-0 missing sentinel injected on ``l_orderkey`` residue
classes (matching the reference's missing-time convention,
``README.md:131-132``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.functions.exprcache import column_memo
from transit_efficiency_analysis_spark.functions.weather import weather_group_for_id

#: fixed audit timestamp (ts-now is injected as a constant for determinism)
CREATED_AT = "2026-01-01 00:00:00"


def _shift_seconds(ts, secs):
    """ts + secs, via the unix domain (testdata timestamps are whole-second)."""
    return F.timestamp_seconds(F.unix_timestamp(ts) + secs)


@column_memo
def gd_exprs(p: str = "") -> dict[str, F.Column]:
    """The schedule-side view columns as expressions over (possibly
    prefixed) ``orders ⋈ lineitem`` base columns. ``p`` is a column
    qualifier prefix (``""`` for the plain view, ``"b."`` in the fused
    self-join form)."""
    return {
        "trip_id": F.col(f"{p}o_orderkey").cast("string"),
        "start_date": F.to_date(f"{p}o_orderdate"),
        "stop_sequence": F.col(f"{p}l_linenumber").cast("long"),
        "stop_id": F.col(f"{p}l_partkey"),
        "route_id": F.col(f"{p}l_returnflag"),
        "stop_name": F.concat(F.lit("stop_"), F.col(f"{p}l_suppkey").cast("string")),
        "route_long_name": F.col(f"{p}o_orderpriority"),
        "arrival_time": F.col(f"{p}l_shipdate"),
        "departure_time": _shift_seconds(F.col(f"{p}l_shipdate"), F.lit(300)),
        "geo_coordinates": F.format_string(
            "%.4f, %.4f",
            F.col(f"{p}l_discount") * 1000 - 50,
            F.col(f"{p}l_tax") * 1000 - 80,
        ),
    }


def gtfs_data_view(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Schedule side: orders ⋈ lineitem → ``schemas.GTFS_DATA`` shape."""
    j = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
    return j.select(*[c.alias(n) for n, c in gd_exprs().items()])


GD_SQL = """
SELECT
    CAST(o_orderkey AS VARCHAR)               AS trip_id,
    CAST(o_orderdate AS DATE)                 AS start_date,
    CAST(l_linenumber AS BIGINT)              AS stop_sequence,
    l_partkey                                 AS stop_id,
    l_returnflag                              AS route_id,
    'stop_' || CAST(l_suppkey AS VARCHAR)     AS stop_name,
    o_orderpriority                           AS route_long_name,
    l_shipdate                                AS arrival_time,
    l_shipdate + INTERVAL 300 SECOND          AS departure_time,
    printf('%.4f, %.4f', l_discount * 1000 - 50, l_tax * 1000 - 80) AS geo_coordinates
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


@column_memo
def tu_exprs(p: str = "") -> dict[str, F.Column]:
    """The realtime-side view columns (jittered actuals, sentinel
    injection, weather enrichment) as expressions over (possibly
    prefixed) ``orders ⋈ lineitem`` base columns."""
    k = F.col(f"{p}l_orderkey")
    epoch0 = F.timestamp_seconds(F.lit(0))
    arr = F.when(k % 11 == 0, epoch0).otherwise(
        _shift_seconds(F.col(f"{p}l_shipdate"), (k % 13 - 6) * 60)
    )
    dep = F.when(k % 7 == 0, epoch0).otherwise(
        _shift_seconds(F.col(f"{p}l_shipdate"), 300 + (k % 9 - 4) * 60)
    )
    weather_id = (F.lit(200) + F.col(f"{p}l_partkey") % 605).cast("int")
    return {
        "trip_id": F.col(f"{p}o_orderkey").cast("string"),
        "start_date": F.to_date(f"{p}o_orderdate"),
        "stop_sequence": F.col(f"{p}l_linenumber").cast("long"),
        "stop_id": F.col(f"{p}l_partkey").cast("string"),
        "arrival_time": arr,
        "departure_time": dep,
        "weather_group": weather_group_for_id(weather_id),
        "weather_description": F.lower(weather_group_for_id(weather_id)),
        "temperature": F.round(F.col(f"{p}l_quantity") + 280 - 273.15, 2),
        "created_at": F.to_timestamp(F.lit(CREATED_AT)),
        "updated_at": F.lit(None).cast("timestamp"),
    }


def trip_updates_view(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Realtime side: same keys, jittered actuals, sentinel injection,
    weather enrichment → ``schemas.TRIP_UPDATES`` shape (stop_id as STRING)."""
    j = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
    return j.select(*[c.alias(n) for n, c in tu_exprs().items()])


#: the orders ⋈ lineitem base columns either view side can need — the fused
#: forms project this union once and derive both sides' view columns above
#: the join, so the exchange carries raw numerics instead of per-side
#: derived strings (weather CASEs, printf coordinates, casts).
_BASE_LINEITEM_COLS = [
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_suppkey",
    "l_returnflag",
    "l_shipdate",
    "l_discount",
    "l_tax",
    "l_quantity",
]
_BASE_ORDERS_COLS = ["o_orderkey", "o_orderdate", "o_orderpriority"]


def _delays_base(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    # Hash-repartition the heavy side by the three lineitem key columns
    # BEFORE the broadcast enrich (round 18, guide §2.4/§2.5): the
    # fused self-join below is keyed on exactly these columns, so this
    # single exchange satisfies both join sides' distribution (no
    # ENSURE_REQUIREMENTS exchange per side) AND moves the broadcast
    # probe + per-row arithmetic off the scan stage — the driver's
    # testdata tables are single-row-group files, so without it that
    # work serializes on one core of the session (the scan cannot be
    # split below a row group). spread_for_compute's count is
    # scale-adaptive (max of session parallelism and the pre-shuffle
    # split count), never a local-mode constant.
    from transit_efficiency_analysis_spark.operators.parallel import (
        spread_for_compute,
    )

    lsel = spread_for_compute(
        lineitem.select(*_BASE_LINEITEM_COLS),
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
    )
    return lsel.join(
        orders.select(*_BASE_ORDERS_COLS),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "inner",
    )


def delays_fused(
    orders: DataFrame, lineitem: DataFrame, sort: bool = True
) -> DataFrame:
    """``compute_delays(trip_updates_view(...), gtfs_data_view(...))`` with
    the self-join structure made explicit (round-18 optimization).

    Both view sides derive 1:1 from the SAME ``orders ⋈ lineitem`` row set,
    so the composite-key join of the two views is a self-join of one base
    relation. Joining the base with itself on the RAW key columns — and
    computing every derived view column (casts, jitter, weather strings,
    printf coordinates) ABOVE the join — produces the identical row
    multiset while the exchange carries only raw base columns.

    Equivalence of the raw-key condition to the view-level condition
    (holds row-pair-wise, for every input, duplicates and NULLs included):

    - ``tu.trip_id = gd.trip_id`` is ``CAST(a.o_orderkey AS STRING) =
      CAST(b.o_orderkey AS STRING)`` — long→string is injective and
      NULL-preserving, so ≡ ``a.o_orderkey = b.o_orderkey`` (which the
      base join makes ≡ ``a.l_orderkey = b.l_orderkey``).
    - ``tu.start_date = gd.start_date`` is compared as
      ``datediff(to_date(a.o_orderdate), to_date(b.o_orderdate)) = 0``
      — equivalent to the equality for every pair (both reject NULLs;
      two DATEs are zero days apart exactly when equal), kept residual
      so it does not become a join key (see the inline comment).
    - ``tu.stop_sequence = gd.stop_sequence`` is an injective widening
      cast on both sides ≡ ``a.l_linenumber = b.l_linenumber``.
    - ``CAST(tu.stop_id AS LONG) = gd.stop_id`` — ``tu.stop_id`` is
      ``CAST(l_partkey AS STRING)`` and the long→string→long round-trip
      is the identity (canonical decimal strings), so ≡
      ``a.l_partkey = b.l_partkey``.

    Physical shape: a base self-join (hash join on the raw keys). Both
    branches read the same base; per-branch column pruning keeps each
    exchange narrow (the a-side ships 6 raw columns, the b-side 10, vs
    the two view-level exchanges shipping every derived string).
    """
    from transit_efficiency_analysis_spark.operators.delay import delays_projection

    base = _delays_base(orders, lineitem)
    # SHUFFLE_HASH on the b side: both sides of the self-join read the SAME reused exchange (AQE dedups the
    # identical shuffle subplans), so an SMJ pays TWO sorts of one
    # 16 MB-at-sf0.1 shuffle only to re-pair rows a hash build does in
    # one pass. Per-partition build memory is bounded by the AQE
    # partition target (the composite key is near-unique, no skewed
    # build lists), which holds at any scale. Strategy-only: inner
    # equi-join output identical (full-column hash parity pinned in
    # tests); measured interleaved at sf0.1: q_agg_dashboard
    # 1.39 -> 1.24 s, q_rebuild_full within noise.
    a, b = base.alias("a"), base.alias("b").hint("shuffle_hash")
    # The date conjunct is expressed as a RESIDUAL predicate
    # (datediff == 0) rather than an equality: Catalyst extracts every top-level equality into the
    # join KEYS, and a key that only exists post-join
    # (o_orderdate arrives via the broadcast enrich) forces an
    # ENSURE_REQUIREMENTS re-exchange of both sides on the 4-column
    # composite. With the three lineitem columns as the only equi
    # keys, the pre-join repartition in _delays_base already
    # satisfies both sides and the self-join runs on that single
    # reused exchange. Semantics are IDENTICAL row-pair-wise for
    # every input (duplicate keys and NULLs included):
    # datediff(to_date(x), to_date(y)) = 0  ⟺  to_date(x) =
    # to_date(y) — both sides reject NULLs (NULL datediff compares
    # NULL, NULL equality is not TRUE), and datediff of two DATEs
    # is zero exactly when they are the same day. The residual is
    # checked per matched pair exactly as the equality was.
    cond = (
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") == F.col("b.l_linenumber"))
        & (F.col("a.l_partkey") == F.col("b.l_partkey"))
        & (
            F.datediff(
                F.to_date("a.o_orderdate"), F.to_date("b.o_orderdate")
            )
            == 0
        )
    )
    joined = a.join(b, cond, "inner")
    tu, gd = tu_exprs("a."), gd_exprs("b.")
    return delays_projection(
        joined, lambda c: tu[c], lambda c: gd[c], sort=sort, memo_key="fused_ab"
    )


TU_SQL = f"""
SELECT
    CAST(o_orderkey AS VARCHAR)  AS trip_id,
    CAST(o_orderdate AS DATE)    AS start_date,
    CAST(l_linenumber AS BIGINT) AS stop_sequence,
    CAST(l_partkey AS VARCHAR)   AS stop_id,
    CASE WHEN l_orderkey % 11 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
         ELSE l_shipdate + to_seconds(((l_orderkey % 13) - 6) * 60) END AS arrival_time,
    CASE WHEN l_orderkey % 7 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
         ELSE l_shipdate + to_seconds(300 + ((l_orderkey % 9) - 4) * 60) END AS departure_time,
    CASE
        WHEN 200 + l_partkey % 605 BETWEEN 200 AND 299 THEN 'Thunderstorm'
        WHEN 200 + l_partkey % 605 BETWEEN 300 AND 399 THEN 'Drizzle'
        WHEN 200 + l_partkey % 605 BETWEEN 500 AND 599 THEN 'Rain'
        WHEN 200 + l_partkey % 605 BETWEEN 600 AND 699 THEN 'Snow'
        WHEN 200 + l_partkey % 605 BETWEEN 700 AND 799 THEN 'Atmosphere'
        WHEN 200 + l_partkey % 605 = 800 THEN 'Clear'
        WHEN 200 + l_partkey % 605 BETWEEN 801 AND 899 THEN 'Clouds'
        ELSE 'Unknown' END AS weather_group,
    lower(CASE
        WHEN 200 + l_partkey % 605 BETWEEN 200 AND 299 THEN 'Thunderstorm'
        WHEN 200 + l_partkey % 605 BETWEEN 300 AND 399 THEN 'Drizzle'
        WHEN 200 + l_partkey % 605 BETWEEN 500 AND 599 THEN 'Rain'
        WHEN 200 + l_partkey % 605 BETWEEN 600 AND 699 THEN 'Snow'
        WHEN 200 + l_partkey % 605 BETWEEN 700 AND 799 THEN 'Atmosphere'
        WHEN 200 + l_partkey % 605 = 800 THEN 'Clear'
        WHEN 200 + l_partkey % 605 BETWEEN 801 AND 899 THEN 'Clouds'
        ELSE 'Unknown' END) AS weather_description,
    round(l_quantity + 280 - 273.15, 2) AS temperature,
    TIMESTAMP '{CREATED_AT}'     AS created_at,
    CAST(NULL AS TIMESTAMP)      AS updated_at
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""
