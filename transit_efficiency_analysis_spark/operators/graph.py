"""Iterative graph algorithms as DataFrame loops.

PageRank here runs in EXACT parts-per-million integer arithmetic (the
same cross-engine-parity device as BM25's ``ppm_div`` —
``operators/retrieval.py:53``): ranks are BIGINT ppm values, per-edge
contributions are truncating integer divisions by out-degree, and the
damping multiply-then-divide is integer too. Every intermediate is a
plain 64-bit integer, so a fixed-iteration run is bit-identical on any
engine — DuckDB verifies it from an unrolled-CTE oracle.

Scale design: each iteration is two key-partitioned shuffles (rank join
on ``src``, contribution aggregate on ``dst``) over the edge relation —
the standard distributed PageRank. The edge/degree relations are
persisted once (DISK_ONLY, lazy — the round-5 checkpoint policy) and
reused by every iteration; each new rank frame replaces the previous
one, and ``localCheckpoint``-free lineage stays shallow because the
loop count is a small constant. Dangling-side nodes (no in-edges) keep
the teleport term via the left join.

Spark-first rationale: unlike the reference's row-at-a-time scripts
(no graph code exists in the reference at all — this is part of the
declared LLM-pipeline scope expansion), the loop is a pure DataFrame
composition; Catalyst plans each iteration independently and AQE sizes
the shuffles.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PPM = 1_000_000

#: persisted helper relations from the MOST RECENT call of each operator,
#: keyed by operator name. The result DataFrames are lazy, so the callee
#: cannot unpersist before the caller's action; instead each new call
#: releases the previous call's pins (sequential use — registry sweeps,
#: bench loops — therefore holds at most one call's worth of blocks per
#: operator for the session lifetime), and ``release_persisted()`` lets a
#: caller drop everything once results are materialized.
_LIVE_PERSISTS: dict[str, list[DataFrame]] = {}


def release_persisted(op: str | None = None) -> None:
    """Unpersist helper relations pinned by ``pagerank_ppm`` /
    ``triangle_counts`` (all operators, or just ``op``). Safe to call
    before a dependent action — Spark simply recomputes."""
    for key in [op] if op else list(_LIVE_PERSISTS):
        for df in _LIVE_PERSISTS.pop(key, []):
            df.unpersist()


def _pin(op: str, df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.DISK_ONLY)
    _LIVE_PERSISTS.setdefault(op, []).append(df)
    return df


def pagerank_ppm(
    edges: DataFrame,
    n_iters: int = 2,
    damping_ppm: int = 850_000,
    src: str = "src",
    dst: str = "dst",
    persist: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list, exact ppm ints.

    ``edges`` must already be in the direction rank flows (symmetrize
    upstream for undirected graphs). Per iteration, for every node v:

        rank'(v) = (PPM - damping_ppm)
                   + damping_ppm * sum_{u->v}(rank(u) div outdeg(u)) div PPM

    with ``div`` the truncating BIGINT division on both engines. Initial
    rank is PPM (1.0) per node. Returns ``(node_id, rank_ppm)``.

    The BIGINT range is safe far beyond any realistic graph: incoming
    sums are bounded by n_nodes * PPM and the damping product by
    ~n_nodes * PPM * damping_ppm (overflow at ~10^13 nodes).
    """
    # A NULL-src edge carries no rank: dropped here, it would otherwise
    # add PPM div outdeg to its dst on the first iteration and put a
    # NULL node into `nodes`. Only src is filtered — a NULL dst still
    # counts toward its src's outdeg, as it always has.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
        F.col("src").isNotNull()
    )
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .unionByName(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    # outdeg folded INTO the pinned edge relation (round 19, guide
    # §2.4): the loop joined e ⋈ deg on src EVERY iteration, but deg is
    # a function of e alone — attaching it once via a window over the
    # src partition (one exchange, reused by nothing downstream but
    # computed once per pin) removes one join + its exchange from every
    # iteration. Integer semantics identical: outdeg is the same
    # count-per-src either way.
    ew = e.withColumn(
        "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )
    if persist:
        release_persisted("pagerank")  # drop the previous call's pins
        ew = _pin("pagerank", ew)
        nodes = _pin("pagerank", nodes)

    teleport = F.lit(PPM - damping_ppm).cast("long")
    ranks = None
    for it in range(n_iters):
        if ranks is None:
            # first iteration: every rank is the constant PPM, so the
            # rank join is algebraically the identity — contribution is
            # PPM div outdeg directly (round 19; bit-identical because
            # rank_ppm(v) = PPM for all v before the first update)
            contrib = ew.select(
                "dst", F.expr(f"CAST({PPM} AS BIGINT) div outdeg").alias("c")
            )
        else:
            contrib = ew.join(ranks, ew.src == ranks.node_id).select(
                "dst", F.expr("rank_ppm div outdeg").alias("c")
            )
        incoming = contrib.groupBy("dst").agg(F.sum("c").alias("incoming"))
        ranks = nodes.join(
            incoming, nodes.node_id == incoming.dst, "left"
        ).select(
            "node_id",
            (
                teleport
                + F.expr(
                    f"CAST({damping_ppm} AS BIGINT) * coalesce(incoming, CAST(0 AS BIGINT)) div {PPM}"
                )
            ).alias("rank_ppm"),
        )
    if ranks is None:  # n_iters == 0: every node at initial rank
        ranks = nodes.select(
            "node_id", F.lit(PPM).cast("long").alias("rank_ppm")
        )
    return ranks


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    persist: bool = True,
) -> DataFrame:
    """Per-node triangle counts by degree-ordered adjacency intersection.

    ``edges`` is an UNDIRECTED edge list (either or both directions,
    duplicates fine — canonicalized here). Orient every edge from its
    lower endpoint to its higher endpoint under the total order
    ``(degree, node_id)``, so each node's out-neighborhood has size
    O(sqrt(m)) on ANY graph — a heavy hub's edges point INTO it. Then
    count with the edge-iterator formulation: for each oriented edge
    (u, v), the triangles closed there are ``adj(u) ∩ adj(v)`` (both
    out-neighborhoods), and every triangle {u, v, w} (u lowest in the
    order) is found exactly once, at its (u, v) edge.

    This shuffles ADJACENCY LISTS (Σ out-deg = m rows; per-list size
    capped at O(sqrt(m)) by the orientation), never the wedge relation —
    the wedge-materializing self-join costs O(m^{3/2}) shuffled rows and
    measured 6x super-linear on dense co-occurrence graphs at 4x scale;
    the intersection happens in-memory per edge row (``array_intersect``
    over two bounded sorted arrays). Per-node attribution: edge (u, v)
    with c closures credits u and v with c and each w in the
    intersection with 1, emitted as ONE exploded struct array so the
    closure relation is referenced exactly once (a 3-way union here
    re-expanded the whole upstream plan multiplicatively). ``persist``
    (DISK_ONLY, lazy — the round-5 checkpoint policy) pins the canonical
    and oriented relations, which the plan otherwise recomputes per
    reference; each call releases the previous call's pins and
    ``release_persisted()`` drops them explicitly, so repeated calls in
    one session don't accumulate persisted blocks. Returns
    ``(node_id, tri_count)`` for nodes in >= 1 triangle.
    """
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    canon = (
        edges.where(F.col(src) != F.col(dst))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
    )
    if persist:
        release_persisted("triangles")  # drop the previous call's pins
        canon = _pin("triangles", canon)
    deg = (
        canon.select(F.col("a").alias("node_id"))
        .unionByName(canon.select(F.col("b").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node_id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node_id").alias("b"), F.col("deg").alias("deg_b"))
    ranked = canon.join(da, "a").join(db, "b")
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # One wedge join instead of two (round 19, guide §2.4): the oriented
    # edge rows are EXACTLY the explode of the adjacency lists (collect
    # over distinct edges — the explode reproduces each (u, v) once, with
    # nu already attached), so joining oriented back to adj on u only
    # re-derived what the explode carries for free. The remaining join
    # attaches adj(v); it is inner on both forms — an oriented edge whose
    # head has no out-neighbors closed nothing before and closes nothing
    # now. oriented itself is now referenced exactly once, so it no
    # longer needs a persist pin (the round-18 pin existed because the
    # two-join form scanned it twice).
    adj = oriented.groupBy(F.col("u").alias("node")).agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    )
    closed = (
        adj.select(
            F.col("node").alias("u"),
            F.col("nbrs").alias("nu"),
            F.explode("nbrs").alias("v"),
        )
        .join(
            adj.select(F.col("node").alias("v"), F.col("nbrs").alias("nv")),
            "v",
        )
        .select("u", "v", F.array_intersect("nu", "nv").alias("ws"))
        .where(F.size("ws") > 0)
    )
    member = closed.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("node_id"), F.size("ws").alias("c")
                    ),
                    F.struct(
                        F.col("v").alias("node_id"), F.size("ws").alias("c")
                    ),
                ),
                F.transform(
                    "ws",
                    lambda w: F.struct(
                        w.alias("node_id"), F.lit(1).alias("c")
                    ),
                ),
            )
        ).alias("m")
    ).select("m.node_id", "m.c")
    return member.groupBy("node_id").agg(F.sum("c").alias("tri_count"))
