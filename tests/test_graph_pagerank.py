"""PageRank operator contracts: the DataFrame loop must match an
independent pure-Python mirror of the ppm-integer recurrence exactly,
and fixed points of symmetric regular graphs must hold."""

from __future__ import annotations

from transit_efficiency_analysis_spark.operators.graph import PPM, pagerank_ppm


def _mirror(edges: list[tuple[int, int]], n_iters: int, damping: int = 850_000):
    nodes = {n for e in edges for n in e}
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: PPM for n in nodes}
    for _ in range(n_iters):
        incoming = {n: 0 for n in nodes}
        for s, d in edges:
            incoming[d] += rank[s] // deg[s]
        rank = {
            n: (PPM - damping) + damping * incoming[n] // PPM for n in nodes
        }
    return rank


def _run(spark, edges, n_iters):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node_id: r.rank_ppm
        for r in pagerank_ppm(df, n_iters=n_iters, persist=False).collect()
    }


def test_cycle_is_stationary_at_one(spark):
    # a <-> b: every node passes its full rank on; 150000 + 850000*1.0 = 1.0
    edges = [(1, 2), (2, 1)]
    assert _run(spark, edges, 3) == {1: PPM, 2: PPM}


def test_star_graph_matches_python_mirror(spark):
    # center 0 linked symmetrically to 5 leaves — rank concentrates center
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    got = _run(spark, edges, 3)
    assert got == _mirror(edges, 3)
    assert got[0] > got[1] >= PPM - 850_000 + 0  # leaves keep >= teleport


def test_dangling_free_directed_graph_matches_mirror(spark):
    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (3, 2), (2, 1)]
    assert _run(spark, edges, 4) == _mirror(edges, 4)


def test_null_src_edge_changes_nothing(spark):
    # a NULL-src edge carries no rank to any v, including a v that is
    # not otherwise a node; the first iteration's constant-rank shortcut
    # must not count it either
    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    want = _run(spark, edges, 2)
    for v in (1, 2, 3, 99):
        assert _run(spark, edges + [(None, v)], 2) == want, v
