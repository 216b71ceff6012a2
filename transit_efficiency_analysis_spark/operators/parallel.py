"""Scan-parallelism floor for small inputs (round 18).

The driver's testdata tables are single-row-group parquet files, so a
scan is ONE task no matter the split config — and any per-row-expensive
work that Catalyst keeps in the scan stage (interpreted higher-order
shingling, quantize/plane folds feeding a broadcast join, decimal CASE
trees) runs on one core of a 32-core box. ``ensure_min_parallelism``
round-robins such an input up to the session's default parallelism; on
any real deployment (splits ≥ cores) it is a NO-OP by construction, so
it is scale-neutral — it never tunes for local mode, it only refuses to
serialize on degenerate inputs. Measured wins are recorded per call
site (docs/OPTIMIZATION_r18.md).

The similarity operators call it directly (measured on q_sim_ivf_topk:
8.1 s → ~2 s at sf0.1 on local[32]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _has_exchange(df: DataFrame) -> bool:
    """True iff a node of ``df``'s physical plan is an ``Exchange``.

    The plan walked is the executed one, after the planner has inserted
    the exchanges of joins and aggregates; under AQE it is an
    ``AdaptiveSparkPlanExec`` leaf whose ``initialPlan`` holds them
    before any stage has run. Building it submits no job. Each node is
    tested with ``Class.isInstance``, so a column name or literal that
    merely contains the word cannot match."""
    jvm = df.sparkSession._jvm
    exchange = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.exchange.Exchange"
    )
    adaptive = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec"
    )
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if exchange.isInstance(node):
            return True
        if adaptive.isInstance(node):
            stack.append(node.initialPlan())
            continue
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return False


def _scan_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s plan, probed WITHOUT executing jobs.

    ``df.rdd.getNumPartitions()`` finalizes the physical plan, and under
    AQE that *materializes every upstream shuffle/broadcast stage* — a
    plan-construction-time job, which broke the repo's "plan
    construction stays side-effect free" invariant for non-scan callers
    (ADVICE r18). The probe is only cheap — and only *needed* — for
    exchange-free plans (scan → project/filter chains, where the count
    is the leaf file-split count): a plan that already contains an
    Exchange gets its parallelism from that shuffle (shuffle.partitions
    / AQE), so the scan-parallelism floor has nothing to fix. Returns
    None for such plans (callers treat None as "already parallel");
    ``_has_exchange`` decides on the planned exchanges, computed
    driver-side with no job submission.
    """
    if _has_exchange(df):
        return None
    return df.rdd.getNumPartitions()


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` up to the session's default parallelism when
    its plan inherits fewer partitions than half of it.

    Streaming DataFrames are returned unchanged (``df.rdd`` is illegal
    on them, and a micro-batch's partitioning is the trigger's concern),
    as are plans that already contain an Exchange (their parallelism is
    the shuffle's, and probing them would execute jobs at plan-build
    time — see ``_scan_partitions``). The second clause of the guard
    keeps single-core sessions (target = 1) from a pure-overhead
    ``repartition(1)`` round trip.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    parts = _scan_partitions(df)
    if parts is not None and parts < max(target // 2, 2) and parts < target:
        return df.repartition(target)
    return df


def spread_for_compute(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` by ``cols`` with an EXPLICIT partition
    count, so AQE's byte-based coalescing cannot fold the stage
    DOWNSTREAM of this exchange onto a handful of cores.

    For an exchange feeding compute whose per-row cost is orders of
    magnitude above its byte size (interpreted higher-order scoring
    folds over packed arrays), AQE's advisory sizing measures the bytes
    it can see, not the compute it cannot (guide §2.5): at bench scale
    the IVF-PQ ADC-scoring exchange coalesced to 3 of 32 cores,
    serializing ~6 s of task CPU into a 2.4 s wall stage; at cluster
    scale a 64 MB advisory partition of ~1 KB/row ADC tables is minutes
    of scoring per task. The count is scale-adaptive — max(session
    default parallelism, the plan's pre-shuffle partition count) —
    never a local-mode constant: on a real deployment the pre-shuffle
    split count already reflects corpus size, so the explicit count
    only ever *keeps* parallelism the byte heuristic would discard.

    A downstream ``groupBy`` on the same ``cols`` reuses this exchange
    (hash partitioning on the grouping keys satisfies the aggregate's
    ClusteredDistribution), so the call REPLACES the shuffle the
    aggregate would have inserted rather than adding one.
    """
    from pyspark.sql import functions as F

    sc = df.sparkSession.sparkContext
    pre = _scan_partitions(df)
    if pre is None:
        # the plan already shuffles: its pre-shuffle width is the
        # session's shuffle partitioning, readable without executing
        # anything (probing via df.rdd would run the upstream stages
        # at plan-build time — ADVICE r18)
        pre = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    p = max(sc.defaultParallelism, pre)
    return df.repartition(p, *[F.col(c) for c in cols])
