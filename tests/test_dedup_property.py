"""Property test: blocked n-gram Jaccard operator equals a brute-force
Python reference on random word-bag corpora."""

from __future__ import annotations


from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.operators.dedup import ngram_jaccard_pairs

VOCAB = ["scan", "join", "sort", "merge", "hash", "row", "key", "batch"]


def _py_shingles(text: str, k: int = 3) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def _py_pairs(docs, threshold):
    out = {}
    for i, (ida, ta) in enumerate(docs):
        sa = _py_shingles(ta)
        if not sa:
            continue
        for idb, tb in docs[i + 1 :]:
            sb = _py_shingles(tb)
            if not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                a, b = min(ida, idb), max(ida, idb)
                out[(a, b)] = j
    return out


corpus_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=10,
)


@settings(max_examples=8, deadline=None)
@given(texts=corpus_strategy)
def test_ngram_jaccard_matches_bruteforce(spark, texts):
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard_sim"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", block=F.lit(1), k=3, threshold=0.3
        ).collect()
    }
    want = _py_pairs(docs, 0.3)
    assert set(got) == set(want)
    for pair, j in want.items():
        assert abs(got[pair] - j) < 1e-12


def test_simhash_manku_blocks_recall_guarantees(spark):
    """Manku block scheme over 64-bit fingerprints: choose-2 candidates
    are guaranteed complete at hamming <= n_blocks - 2 = 2; choose-1
    widens the guarantee to hamming <= 3, so its pair set must contain
    every choose-2 pair in the hamming <= 3 band. Ground truth is the
    brute-force XOR popcount over the fingerprints themselves."""
    from itertools import combinations

    from transit_efficiency_analysis_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )

    # word-bag corpus with heavy overlap so fingerprints cluster
    texts = [
        " ".join(VOCAB[:6]),
        " ".join(VOCAB[:6]) + " extra",
        " ".join(VOCAB[:5]),
        " ".join(VOCAB[2:8]),
        " ".join(reversed(VOCAB)),
        " ".join(VOCAB) + " tail tokens here",
        " ".join(VOCAB[3:]) + " scan scan",
        " ".join(VOCAB[1:7]),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    hmax = 32
    choose2 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id", "text", hmax, block_choose=2).collect()
    }
    choose1 = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id", "text", hmax, block_choose=1).collect()
    }

    # ground truth from the fingerprints themselves
    fps = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprints(df, "doc_id", "text").collect()
    }

    def truth(hmax_):
        return {
            (a, b): bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1")
            for a, b in combinations(sorted(fps), 2)
            if bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1") <= hmax_
        }

    # pigeonhole guarantees (complete recall bands)
    assert truth(2).keys() <= choose2.keys()
    assert truth(3).keys() <= choose1.keys()
    # choose-1's guarantee band covers everything choose-2 found there
    assert {p for p, h in choose2.items() if h <= 3} <= choose1.keys()
    # reported hamming is the true 64-bit popcount
    full = truth(64)
    for p, h in choose2.items():
        assert full[p] == h


def test_dedup_clusters_chain_and_singletons(spark):
    """Connected components: a 5-node chain (worst-case diameter, forces
    multiple propagation rounds), a 2-clique, and singletons."""
    from transit_efficiency_analysis_spark.operators.dedup import dedup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # chain 0-1-2-3-4 (edges given high-to-low so min must walk), clique 6-7
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (0, 1), (6, 7)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in
           dedup_clusters(nodes, pairs).collect()}
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False), 3: (0, False), 4: (0, False),
        5: (5, True), 6: (6, True), 7: (6, False), 8: (8, True), 9: (9, True),
    }


def test_dedup_clusters_string_ids_deep_chain(spark):
    """String doc ids (no numeric sum exists) through a diameter-4 chain:
    convergence must be detected structurally, not via a label-sum
    fixpoint — with string labels sum() is NULL every round and a
    NULL==NULL fixpoint would stop after one propagation round, leaving
    the far end of the chain mislabeled."""
    from transit_efficiency_analysis_spark.operators.dedup import dedup_clusters

    ids = [f"doc-{c}" for c in "abcdefg"]
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    # chain a-b-c-d-e given far-end first so min label must walk 4 hops
    pairs = spark.createDataFrame(
        [("doc-d", "doc-e"), ("doc-c", "doc-d"), ("doc-b", "doc-c"), ("doc-a", "doc-b")],
        "doc_a string, doc_b string",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(nodes, pairs).collect()}
    assert out == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "doc-d": "doc-a", "doc-e": "doc-a",
        "doc-f": "doc-f", "doc-g": "doc-g",
    }


def test_minhash_rows_per_band_scurve(spark):
    """rows_per_band=2: identical documents always collide (all family
    minima equal), every emitted pair respects the Jaccard threshold
    exactly (verify stage is r-independent), and the sharper band key
    never emits a pair below threshold that r=1 wouldn't have verified
    away either."""
    from transit_efficiency_analysis_spark.operators.dedup import minhash_lsh_pairs

    texts = [
        "scan join sort merge hash row key",
        "scan join sort merge hash row key",        # exact dup of 0
        "scan join sort merge hash row batch",      # near dup
        "completely different words entirely here now",
        "scan join sort merge hash row key extra",  # near dup of 0/1
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard_sim"]
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.3, rows_per_band=2
        ).collect()
    }
    assert (0, 1) in out and out[(0, 1)] == 1.0  # exact dup guaranteed
    want = _py_pairs(list(enumerate(texts)), 0.3)
    assert set(out) <= set(want)  # no below-threshold pair survives
    for pair, j in out.items():
        assert abs(want[pair] - j) < 1e-12


def test_twophase_matches_propagation_random_graphs(spark):
    """Large-star/small-star contraction returns exactly the same cluster
    assignment as min-label propagation on random graphs (the O(log n)
    escape hatch must be a drop-in replacement)."""
    import random

    from transit_efficiency_analysis_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_twophase,
    )

    rng = random.Random(13)
    for trial in range(3):
        n = 30
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(5, 25))
        }
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "doc_a long, doc_b long"
        )
        want = {(r["doc_id"], r["cluster_id"], r["is_canonical"])
                for r in dedup_clusters(nodes, pairs).collect()}
        got = {(r["doc_id"], r["cluster_id"], r["is_canonical"])
               for r in dedup_clusters_twophase(nodes, pairs).collect()}
        assert got == want, f"trial {trial}: {got ^ want}"


def test_twophase_deep_chain_few_rounds(spark):
    """A 40-node chain: propagation needs ~40 rounds (more than its
    default budget would like), star contraction collapses it within the
    O(log n) budget and still labels every node with the chain head."""
    from transit_efficiency_analysis_spark.operators.dedup import (
        dedup_clusters_twophase,
    )

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in
           dedup_clusters_twophase(nodes, pairs, max_iterations=8).collect()}
    assert out == {i: 0 for i in range(n)}


def test_contamination_stop_shingle_cap(spark):
    """Stop-shingle cap: with a boilerplate shingle shared by every
    corpus doc, capped output pairs are a subset of uncapped at the same
    min_frac, n_common never increases, and the storm join shrinks."""
    from transit_efficiency_analysis_spark.operators.dedup import cross_corpus_overlap

    boiler = "terms of service apply"
    rows = [(i, f"{boiler} document {i} body text here") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.where(F.col("doc_id") % 4 != 0)
    bench = df.where(F.col("doc_id") % 4 == 0)
    full = {
        (r["doc_id"], r["bench_id"]): r["n_common"]
        for r in cross_corpus_overlap(corpus, bench).collect()
    }
    capped = {
        (r["doc_id"], r["bench_id"]): r["n_common"]
        for r in cross_corpus_overlap(corpus, bench, max_shingle_df=5).collect()
    }
    assert set(capped) <= set(full)
    for pair, n in capped.items():
        assert n <= full[pair]
    # the boilerplate cross-product pairs (only shared shingles are the
    # boilerplate ones) are gone; only genuine overlaps would remain
    assert len(capped) < len(full)


@settings(max_examples=6, deadline=None)
@given(texts=corpus_strategy)
def test_cross_corpus_overlap_matches_bruteforce(spark, texts):
    """Contamination operator equals the per-pair shingle-set intersection
    computed in Python (corpus = even ids, benchmark = odd ids)."""
    from transit_efficiency_analysis_spark.operators.dedup import cross_corpus_overlap

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = [(i, t) for i, t in docs if i % 2 == 0]
    bench = [(i, t) for i, t in docs if i % 2 == 1]
    out = cross_corpus_overlap(
        df.where(F.col("doc_id") % 2 == 0),
        df.where(F.col("doc_id") % 2 == 1),
        k=3,
    ).collect()
    got = {(r["doc_id"], r["bench_id"]): (r["n_common"], r["frac_of_bench"]) for r in out}
    expected = {}
    for ci, ct in corpus:
        cs = _py_shingles(ct)
        for bi, bt in bench:
            bs = _py_shingles(bt)
            inter = len(cs & bs)
            if inter and bs:
                expected[(ci, bi)] = (inter, inter / len(bs))
    assert got == expected


def test_incremental_minhash_equals_full_restricted_to_cross_pairs(spark, sf_dir):
    """The incremental screen must find EXACTLY the full-corpus near-dup
    pairs that cross the batch/corpus boundary: same families, same
    buckets, same threshold => no pair appears or disappears because of
    how the corpus was split into batches."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    d = load_table(spark, sf_dir, "documents")
    full = minhash_lsh_pairs(d, "doc_id", "text", k=3, bands=6, threshold=0.5)
    is_batch = lambda c: c % 10 == 0  # noqa: E731
    want = {
        tuple(sorted((r["doc_a"], r["doc_b"]))): round(r["jaccard_sim"], 9)
        for r in full.collect()
        if is_batch(r["doc_a"]) != is_batch(r["doc_b"])
    }
    inc = minhash_lsh_pairs_incremental(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "doc_id", "text", k=3, bands=6, threshold=0.5,
    )
    got = {
        tuple(sorted((r["batch_doc"], r["corpus_doc"]))): round(
            r["jaccard_sim"], 9
        )
        for r in inc.collect()
    }
    assert got == want


def test_incremental_simhash_equals_full_restricted_to_cross_pairs(spark, sf_dir):
    """SimHash twin of the minhash invariant: the incremental screen is
    exactly the cross-boundary subset of the full pairing."""
    from pyspark.sql import functions as F

    from transit_efficiency_analysis_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_incremental,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    d = load_table(spark, sf_dir, "documents")
    full = simhash_pairs(d, "doc_id", "text", max_hamming=6)
    is_batch = lambda c: c % 10 == 0  # noqa: E731
    want = {
        tuple(sorted((r["doc_a"], r["doc_b"]))): r["hamming"]
        for r in full.collect()
        if is_batch(r["doc_a"]) != is_batch(r["doc_b"])
    }
    inc = simhash_pairs_incremental(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "doc_id", "text", max_hamming=6,
    )
    got = {
        tuple(sorted((r["batch_doc"], r["corpus_doc"]))): r["hamming"]
        for r in inc.collect()
    }
    assert got == want


def test_minhash_recall_sweep_reports_loss_against_r1(spark, sf_dir):
    """minhash_recall_sweep (round 18, VERDICT r17 #5): one row per r;
    the r=1 arm is its own baseline (zero loss, full overlap), every
    arm's counts partition its pair set against r=1, and any pair a
    higher r loses is located on the s-curve (min_jaccard_lost is only
    present when n_only_r1 > 0 and always >= the verify threshold —
    both arms verify exactly, so a 'lost' pair was a real pair)."""
    from transit_efficiency_analysis_spark.operators.dedup import (
        minhash_recall_sweep,
    )
    from transit_efficiency_analysis_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    rows = {
        r["rows_per_band"]: r
        for r in minhash_recall_sweep(
            docs, "doc_id", "text", threshold=0.5, rs=(1, 2, 3)
        ).collect()
    }
    assert set(rows) == {1, 2, 3}
    r1 = rows[1]
    assert r1["n_pairs"] > 0
    assert r1["n_only_r1"] == 0 and r1["n_only_r"] == 0
    assert r1["n_common_r1"] == r1["n_pairs"]
    assert r1["min_jaccard_lost"] is None
    for r in (2, 3):
        row = rows[r]
        assert row["n_common_r1"] + row["n_only_r"] == row["n_pairs"]
        assert row["n_common_r1"] + row["n_only_r1"] == r1["n_pairs"]
        if row["n_only_r1"]:
            assert row["min_jaccard_lost"] >= 0.5
        else:
            assert row["min_jaccard_lost"] is None
