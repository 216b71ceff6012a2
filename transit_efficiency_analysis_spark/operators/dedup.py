"""Deduplication operators for large-scale training-data pipelines.

North-star capability (BASELINE.json): exact dedup, MinHash+LSH near-dup,
SimHash fingerprints, n-gram Jaccard, and embedding-cosine near-dup. All
Spark-native column algebra — the per-document signature work (shingling,
hashing, vote-summing) happens inside higher-order array expressions on the
JVM, so signature computation is a map-only stage with no shuffle and no
Python. Only the candidate-pair join shuffles, and it shuffles *signatures*
(doc_id + band hash), not documents.

Scale design (100 TB corpus):
- signatures are O(bands) per doc regardless of doc size → the LSH
  bucket-join shuffle is tiny relative to the corpus;
- bucket join degree is bounded by band-bucket size; band count trades
  recall vs join fan-out; skewed buckets (boilerplate docs) are handled by
  AQE skew-join or a bucket-size cap;
- exact verification (Jaccard) joins shingle *sets* only for candidate
  pairs — a secondary lookup join, broadcastable when candidates are few.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.functions.exprcache import column_memo
from transit_efficiency_analysis_spark.functions.text import minhash_band, words


def exact_dedup_groups(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Exact dedup by a content key: one row per distinct key with group
    stats (canonical = min id; first-writer-wins like upsert-ignore)."""
    return (
        df.select(F.col(id_col), key.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_doc_id"),
            F.max(id_col).alias("max_doc_id"),
        )
    )


def shingles_exploded(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc_id, s) — one row per distinct word-k-gram, built set-based.

    Tokens are exploded with position and slid with ``lead`` windows, which
    keeps shingle construction inside whole-stage codegen (the array-lambda
    form in ``functions.text.word_shingles`` is interpreted and ~5x slower
    on wide corpora). Costs one shuffle on doc_id; on a 100 TB corpus
    prefer the map-only array form per partition or pre-bucketed storage —
    both produce the identical shingle set.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(words(text_col)).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, k)]
    shingle = F.concat_ws(" ", *parts)
    return (
        toks.select("doc_id", shingle.alias("s"), F.lead("t", k - 1).over(w).alias("__last"))
        .where(F.col("__last").isNotNull())
        .select("doc_id", "s")
        .distinct()
    )


def minhash_signatures(shingled: DataFrame, bands: int) -> DataFrame:
    """(doc_id, band, minhash) — one row per band, computed as pure array
    algebra per document (no explode of the shingle set across the shuffle)."""
    band_cols = F.array(
        *[
            F.struct(F.lit(b).alias("band"), minhash_band(F.col("shingles"), b).alias("mh"))
            for b in range(bands)
        ]
    )
    return shingled.select("doc_id", F.explode(band_cols).alias("bm")).select(
        "doc_id", F.col("bm.band").alias("band"), F.col("bm.mh").alias("mh")
    )


@column_memo
def _minhash_expr_trees(
    bands: int, rows_per_band: int
) -> tuple[tuple[Column, ...], tuple[Column, ...], tuple[Column, ...]]:
    """The constant expression groups of the MinHash signature stage
    (Kirsch-Mitzenmacher h1/h2 parse, the bands×r min aggregates, the
    band-key projection), built once per process per (bands, r) — pure
    py4j-construction memo (``functions.exprcache``); the arithmetic is
    the same as building the trees inline."""
    hx = F.md5(F.col("s"))
    hash_cols = (
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("h2"),
    )

    def family(b: int, i: int) -> Column:
        j = b * rows_per_band + i
        return F.min((F.col("h1") + F.lit(j) * F.col("h2")) % F.lit(2**32))

    band_aggs = tuple(
        family(b, i).alias(f"mh_{b}_{i}")
        for b in range(bands)
        for i in range(rows_per_band)
    )
    if rows_per_band == 1:
        key_cols = tuple(
            F.col(f"mh_{b}_0").alias(f"key_{b}") for b in range(bands)
        )
    else:
        key_cols = tuple(
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{b}_{i}").cast("string")
                        for i in range(rows_per_band)
                    ],
                )
            ).alias(f"key_{b}")
            for b in range(bands)
        )
    return hash_cols, band_aggs, key_cols


def jaccard(a: Column, b: Column) -> Column:
    """Distinct-set Jaccard over two array columns."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bands: int = 6,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    rows_per_band: int = 1,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: shingle → per-band minhash →
    band-bucket join → exact Jaccard verification >= ``threshold``.

    Returns (doc_a, doc_b, jaccard_sim) with doc_a < doc_b.

    ``rows_per_band`` (r) is the s-curve knob: each band's bucket key is
    the md5 of r concatenated per-family minima, so two docs collide in a
    band only when ALL r families agree — candidate probability s^r per
    band, 1-(1-s^r)^b overall, with the precision threshold at roughly
    (1/b)^(1/r). r=1 (default) maximizes recall per band; at 100 TB raise
    r to slash low-similarity candidate mass BEFORE the verify join
    instead of paying |candidates| Jaccard computations — the signature
    agg stays one pass (b×r min columns), the shuffle stays one row per
    (doc, band). Measured (docs/SCALE.md "MinHash s-curve"):
    r=2 runs 2.5×/3.1× faster end-to-end at 16×/64× corpus scale with
    the verified pair sets essentially identical on a near-dup corpus
    (pair similarity far above the threshold keeps 1-(1-s^r)^b ≈ 1).
    r stays 1 BY DESIGN (no "auto"): it is a semantic knob — higher r
    moves the precision threshold and can silently drop
    threshold-boundary pairs — so raising it is a measured per-corpus
    decision; run :func:`minhash_recall_sweep` on a sample first (its
    docstring records why auto was rejected).

    Fully set-based: ONE aggregation pass over the exploded shingles
    produces everything any later stage needs per document — the band
    minima, the distinct-shingle array and the shingle count — with no
    interpreted lambdas and no second pass over the corpus. (The
    ``collect_list`` makes this pass an ObjectHashAggregate, which is
    NOT whole-stage-codegen'd, and it buffers each document's distinct
    shingle set as one in-memory array row — a per-row bound of
    O(distinct shingles per doc) an exploded count-join would not
    have. Documents are LLM-corpus-sized here; for a corpus of
    pathologically long documents, bound shingle counts upstream or
    verify with an exploded count-join instead.)
    The verify stage joins the bounded
    candidate-pair list back to that per-doc relation on each side and
    computes |A∩B| natively as ``size(array_intersect(sa, sb))`` —
    identical to an exploded shingle count-join by construction (the
    shingle rows are distinct per doc, so the equi-join match count IS
    the distinct intersection size), without that form's size-agg pass,
    two exploded verify scans and |candidates| × k̄-row probe stage —
    measured 2.33 → 1.16 s at sf0.1/local[32] with the identical
    256-pair result.
    Jaccard = ∩ / (|A| + |B| - ∩) over distinct shingle sets —
    identical to intersect/union over the sets.

    The per-doc relation is persisted (DISK_ONLY) so the shingle
    explode→distinct→aggregate chain runs once instead of three times
    (signature stack, both verify sides). Persist is LAZY (plan construction stays side-effect free — no jobs
    fire until an action) and disk-backed (no executor memory pressure
    at 100 TB); Spark's cache manager matches the canonicalized plan,
    so repeated invocations — and the other demos/sweep arms that call
    this function with the same parameters — reuse one set of blocks
    instead of stacking a fresh checkpoint per call. Call
    ``spark.catalog.clearCache()`` (or ``.unpersist()`` on the returned
    plan's source) to release the blocks early.

    ``max_bucket_size`` caps each (band, minhash) bucket to a
    deterministic md5-ordered sample before the candidate join
    (``operators.buckets.cap_buckets``) — the "boilerplate storm" guard:
    a degenerate bucket (corpus-wide shared shingle) otherwise contributes
    |bucket|² candidates and can all-pairs the verify join. Capping only
    drops candidates, so the capped pair set is always a subset of the
    uncapped one (recall trades for a hard bound on join fan-out). None
    disables the cap (exact LSH semantics — the oracle-checked mode).
    """
    exp = shingles_exploded(df, id_col, text_col, k)
    hash_cols, band_aggs, key_cols = _minhash_expr_trees(bands, rows_per_band)
    # ONE aggregation pass over the exploded shingles computes every
    # per-document quantity the pipeline needs: all band×row minima (a band×shingle cross join would
    # multiply the shuffle rows by `bands`), the distinct-shingle array
    # for the verify stage, and the shingle count for the Jaccard
    # denominator. Hash families by Kirsch-Mitzenmacher double hashing:
    # ONE md5 per shingle parsed into two 32-bit chunks (h1, h2), family
    # j = (h1 + j·h2) mod 2^32 — long arithmetic and long mins instead of
    # per-family string md5s and 32-char string mins (the same
    # parse-once/derive-many rewrite that took the simhash vote agg down
    # 4×, docs/SCALE.md). r=1 keys the band by the minimum
    # itself; r>1 hashes the concatenation of the r family minima.
    # collect_list (not collect_set): the exploded relation is already
    # distinct per (doc_id, s); element order is irrelevant downstream
    # (array_intersect + size are order-free), so the cheaper list agg
    # is exact.
    per_doc = (
        exp.select("doc_id", "s", *hash_cols)
        .groupBy("doc_id")
        .agg(
            *band_aggs,
            F.collect_list("s").alias("__sh"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    # DISK_ONLY persist, not localCheckpoint(eager=True): lazy (no
    # plan-build-time jobs in anyone's timed region), disk-backed, and
    # re-invocations hit the cache-manager's canonicalized-plan match
    # instead of materializing a fresh checkpoint every call.
    per_doc = per_doc.persist(StorageLevel.DISK_ONLY)
    band_keys = per_doc.select("doc_id", *key_cols)
    stack_expr = "stack({n}, {args}) as (band, mh)".format(
        n=bands, args=", ".join(f"{b}, key_{b}" for b in range(bands))
    )
    sig = band_keys.select("doc_id", F.expr(stack_expr))
    if max_bucket_size is not None:
        from transit_efficiency_analysis_spark.operators.buckets import cap_buckets

        sig = cap_buckets(sig, ["band", "mh"], "doc_id", max_bucket_size)
    # Candidate generation in ONE exchange: group the signature rows by
    # bucket and explode the within-bucket ordered pairs, instead of a
    # bucket-keyed self-join + distinct — the self-join would shuffle
    # (and compute) the signature relation TWICE (per-side column
    # pruning defeats exchange reuse) and pay an SMJ sort; this ships
    # each signature row once. Pair-for-pair identical:
    # equality grouping matches join equality because NULL bucket keys
    # are filtered first (a NULL key never satisfies the join
    # condition), and ``doc_a < doc_b`` filters the exploded pairs
    # exactly as it filtered the join. The per-bucket doc-id list is
    # bounded by bucket occupancy — the same quantity that already
    # bounds the join fan-out (cap it with ``max_bucket_size``; the cap
    # applies BEFORE this step, unchanged). Measured at sf0.1/local[32]:
    # candidate stage 1.02 s → 0.57 s, identical 62.5 k pair set.
    cand = (
        sig.where(F.col("mh").isNotNull())
        .groupBy("band", "mh")
        .agg(F.collect_list("doc_id").alias("__ids"))
        .where(F.size("__ids") > 1)
        .select(F.explode("__ids").alias("doc_a"), F.col("__ids").alias("__ids2"))
        .select("doc_a", F.explode("__ids2").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    # Verify by joining the BOUNDED candidate list back to the per-doc
    # relation on each side and intersecting the shingle arrays
    # natively. Exactness: the exploded relation is distinct per
    # (doc_id, s), so an exploded equi-join's match count equals
    # size(array_intersect(sa, sb)) — array_intersect returns the
    # distinct common elements — and __n equals a per-doc size agg.
    # vs the exploded form this deletes one full corpus agg
    # pass (sizes), two exploded verify scans and the |candidates| × k̄
    # probe rows; the join sides here are |pairs| rows against the
    # per-doc relation, which arrives hash-partitioned by doc_id from
    # its own aggregation, so the planner broadcasts it when it fits
    # and shuffles only the candidate list at scale (the per-doc side
    # reuses its exchange). Measured at sf0.1/local[32]: 2.33 → 1.16 s
    # end-to-end, identical 256-pair output.
    arr_a = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__sh").alias("__sa"),
        F.col("__n").alias("n_a"),
    )
    arr_b = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__sh").alias("__sb"),
        F.col("__n").alias("n_b"),
    )
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("n_inter"),
            "n_a",
            "n_b",
        )
        # the inner count-join contract: a zero-intersection candidate
        # is never a pair, so a threshold <= 0 must not surface one.
        # A no-op for every positive threshold (jaccard 0 < threshold).
        .where(F.col("n_inter") > 0)
        .select("doc_a", "doc_b", jac.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )


def minhash_recall_sweep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bands: int = 6,
    threshold: float = 0.5,
    rs: tuple[int, ...] = (1, 2),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Measure what raising ``rows_per_band`` would do to THIS corpus
    before flipping it — measurement instead of an auto default.

    Why no ``rows_per_band="auto"``: unlike the sign-LSH physical twin
    (bit-equal buckets, so the form pick can never change results), r is a
    SEMANTIC knob — the per-band collision probability drops from s to
    s^r, moving the precision threshold (1/b)^(1/r), so a corpus whose
    near-dups sit AT the Jaccard threshold genuinely loses pairs at
    higher r (docs/SCALE.md: 1-in-16k disagreement on a
    far-above-threshold corpus; arbitrarily worse on a boundary one).
    A size-keyed auto would silently change verified output as the
    corpus grows — exactly the failure mode the LSH knee's
    never-turn-working-into-error guard exists to avoid, but here it
    is silent recall loss, undetectable plan-side. The shipped story
    is therefore: r=1 stays the default (maximal recall, the
    oracle-checked mode); at scale, run THIS sweep on a sample and
    raise r when the measured loss is acceptable (the 2.5×/3.1×
    candidate-mass win at 16×/64× has receipts in docs/SCALE.md).

    One row per r in ``rs`` with the r=1 arm as the recall baseline:
    ``(rows_per_band, n_pairs, n_common_r1, n_only_r1, n_only_r,
    min_jaccard_lost)`` — ``n_only_r1`` is the pairs this r LOSES vs
    r=1 (the recall cost), ``n_only_r`` the pairs it additionally
    finds (both arms verify exactly, so neither ever emits a
    sub-threshold pair), and ``min_jaccard_lost`` locates the loss on
    the s-curve (losses near the threshold are the expected, benign
    kind; losses well above it mean b is too small for this r).
    Lazy and fully set-based: each arm is one :func:`minhash_lsh_pairs`
    plan, the comparison one full-outer join per arm, and the shared
    exploded-shingle persist is reused across arms by the cache
    manager's canonicalized-plan match. Sample ``df`` upstream
    (``df.sample(...)``) — recall statistics need no full-corpus pass."""
    if 1 not in rs:
        rs = (1,) + tuple(rs)
    arms = {
        r: minhash_lsh_pairs(
            df, id_col, text_col, k=k, bands=bands, threshold=threshold,
            rows_per_band=r, max_bucket_size=max_bucket_size,
        )
        for r in sorted(set(rs))
    }
    base = arms[1].select("doc_a", "doc_b", F.col("jaccard_sim").alias("sim_r1"))
    out = None
    for r, pairs in arms.items():
        joined = base.join(
            pairs.select("doc_a", "doc_b", F.col("jaccard_sim").alias("sim_r")),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        in_r1 = F.col("sim_r1").isNotNull()
        in_r = F.col("sim_r").isNotNull()
        stats = joined.agg(
            F.lit(r).alias("rows_per_band"),
            F.count(F.when(in_r, 1)).alias("n_pairs"),
            F.count(F.when(in_r1 & in_r, 1)).alias("n_common_r1"),
            F.count(F.when(in_r1 & ~in_r, 1)).alias("n_only_r1"),
            F.count(F.when(~in_r1 & in_r, 1)).alias("n_only_r"),
            F.min(F.when(in_r1 & ~in_r, F.col("sim_r1"))).alias(
                "min_jaccard_lost"
            ),
        )
        out = stats if out is None else out.unionByName(stats)
    return out


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) **64-bit** fingerprints, computed set-based.

    Bit draws come from ONE md5 per token: a uniform hex nibble carries 4
    independent bits, so bit j draws from the top bit of nibble j for
    j < 32 (digit >= '8') and from the SECOND bit of nibble j-32 for
    j >= 32 (digit in 4-7 or c-f) — two independent uniform ±1 families
    with half the hashing of a two-md5 scheme (at 100 TB the per-token
    md5 is the dominant fingerprint cost). Fingerprint bit j is set when
    the vote sum is positive. Bit 63 carries the sign weight −2^63, so
    the fingerprint is the full 64-bit word stored in a signed BIGINT —
    block extraction and ``bit_count``/XOR hamming work identically on
    Spark longs and DuckDB BIGINTs (verified two's-complement parity).

    64 bits (vs 32) keeps random collisions negligible at
    billion-doc scale: the 32-bit birthday bound (~2^16 docs) produced
    false candidate mass at 100 TB; 64-bit pushes it to ~2^32 docs.

    Plan shape: explode → ONE groupBy pass with all 64 bit-votes as
    separate aggregate columns, so the hot path stays in whole-stage
    codegen AND the shuffle carries one token row per token — not the 64×
    (token, bit) rows a nibble-explode would (map-side partial aggregation
    collapses each partition to one 64-column row per doc before the
    exchange). The bit fold back to the fingerprint is pure column
    arithmetic on the aggregated row.

    Per-token cost: the md5 hex is parsed ONCE into four 32-bit long
    chunks (``conv``), and each bit's aggregate is
    ``sum((chunk >> bitpos) & 1)`` — a shift+AND on a long, not the
    substring + string-compare per bit of the naive form (64 string ops
    per token → 4). The ±1 vote sum is recovered at fold time as
    ``2·Σhit − n`` from one shared ``count(*)``, so the per-token
    expression is the bare bit extraction.
    """
    tokens = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("t")
    ).withColumn("h", F.md5("t"))
    chunk_cols, agg_cols, fold_col = _simhash_expr_trees()
    # hex chars 8k+1..8k+8 → one unsigned 32-bit value per chunk
    tokens = tokens.select("doc_id", *chunk_cols)
    votes = tokens.groupBy("doc_id").agg(*agg_cols)
    return votes.select("doc_id", fold_col)


@column_memo
def _simhash_expr_trees() -> tuple[tuple[Column, ...], tuple[Column, ...], Column]:
    """The three constant expression groups of ``simhash_fingerprints``
    (chunk parse, 64+1 aggregates, bit fold), built once per process —
    the tree is ~70 aggregate/CASE columns and its py4j construction
    cost (~2-3 s per invocation, measured) dominated the
    demo's bench time. Pure construction memo; see
    ``functions.exprcache``."""
    chunk_cols = tuple(
        F.conv(F.substring("h", 1 + 8 * k, 8), 16, 10).cast("long").alias(f"c{k}")
        for k in range(4)
    )

    def hit(j: int) -> Column:
        # bit j draws from hex char position p = j % 32 (0-based): chunk
        # k = p // 8, char c = p % 8 sits at nibble shift 4*(7-c); top
        # nibble bit (3) for j < 32, second bit (2) for j >= 32.
        p = j % 32
        bitpos = 4 * (7 - (p % 8)) + (3 if j < 32 else 2)
        return F.sum(F.shiftright(F.col(f"c{p // 8}"), bitpos).bitwiseAND(F.lit(1)))

    agg_cols = (F.count(F.lit(1)).alias("n_tok"),) + tuple(
        hit(j).alias(f"s_{j}") for j in range(64)
    )
    weight = [2**j if j < 63 else -(2**63) for j in range(64)]
    bits = [
        F.when(
            F.col(f"s_{j}") * 2 > F.col("n_tok"), F.lit(weight[j]).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        for j in range(64)
    ]
    simhash = bits[0]
    for b in bits[1:]:
        simhash = simhash + b
    return chunk_cols, agg_cols, simhash.alias("simhash")


@column_memo
def _simhash_combo_entries(n_blocks: int, block_choose: int) -> Column:
    """One (combo, key) entry per block subset — the minhash-banding
    shape: a SINGLE equi-join on (combo, key) replaces C(n_blocks,
    choose) separate self-joins (one exchange of C×n signature rows
    instead of C full shuffles; Spark plans one SMJ/SHJ stage).
    arithmetic shiftright + mask == logical block extract on both
    engines (two's-complement AND clears the sign-extension bits);
    the combo key packs the chosen blocks into one non-negative long.
    Constant per (n_blocks, choose) — built once per process
    (``functions.exprcache``)."""
    from itertools import combinations

    bits = 64 // n_blocks
    mask = F.lit(2**bits - 1)

    def block(i: int) -> Column:
        return F.shiftright(F.col("simhash"), bits * i).bitwiseAND(mask)

    return F.array(
        *[
            F.struct(
                F.lit(ci).alias("combo"),
                sum(
                    (block(i) * F.lit(2 ** (bits * pos)) for pos, i in enumerate(combo)),
                    F.lit(0).cast("long"),
                ).alias("bkey"),
            )
            for ci, combo in enumerate(combinations(range(n_blocks), block_choose))
        ]
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    n_blocks: int = 4,
    block_choose: int = 2,
    checkpoint: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — the Manku/Charikar
    block scheme over 64-bit fingerprints: the fingerprint splits into
    ``n_blocks`` equal bit-blocks and candidates are pairs that agree on
    every block of some ``block_choose``-subset; the union over all
    C(n_blocks, choose) subsets is Hamming-filtered to ``max_hamming``.

    Recall guarantee (pigeonhole): every pair with hamming <=
    ``n_blocks - block_choose`` differs in at most that many blocks, so
    some ``block_choose`` blocks are clean on both sides → the pair is a
    candidate with certainty. The default (4 blocks, choose 2) guarantees
    hamming <= 2 and finds hamming 3-6 pairs probabilistically; choose 1
    widens the guarantee to hamming <= 3 at the cost of 16-bit join keys.

    Scale shape: the choose-2 join keys are **32-bit** (two 16-bit blocks
    concatenated), so bucket cardinality grows to ~2^30 — at billions of
    docs mean bucket size stays O(n / 2^30) instead of the O(n / 2^16)
    a single 16-bit prefix block allows (the 16-bit sizing cliff). Each
    subset is one bucketed self-join over 16-byte signature rows;
    candidates stay bounded by bucket sizes, never |corpus|².

    ``checkpoint=True`` (default) persists the fingerprints (DISK_ONLY):
    the relation is consumed by both sides of every subset join
    (2 × C(n_blocks, choose) consumers) and is one small row per
    document — cheaper to materialize than to re-run the token
    aggregation per consumer. Persist is lazy (no plan-build-time jobs)
    and plan-canonicalization-matched (repeat invocations share blocks);
    pass ``checkpoint=False`` to skip caching entirely (identical
    results, fingerprints recomputed per consumer).
    """
    from itertools import combinations

    if 64 % n_blocks != 0:
        raise ValueError("n_blocks must divide 64")
    if not (1 <= block_choose <= n_blocks):
        raise ValueError("block_choose must be in [1, n_blocks]")
    bits = 64 // n_blocks
    if bits * block_choose > 62:
        raise ValueError("combo key must fit a positive long")
    fp = simhash_fingerprints(df, id_col, text_col)
    if checkpoint:
        fp = fp.persist(StorageLevel.DISK_ONLY)

    keyed = fp.select(
        "doc_id", "simhash", F.explode(_simhash_combo_entries(n_blocks, block_choose)).alias("e")
    ).select(
        "doc_id", "simhash", F.col("e.combo").alias("combo"), F.col("e.bkey").alias("bkey")
    )
    # candidate generation in ONE exchange (the minhash_lsh_pairs
    # recipe): group by (combo, bkey) bucket, explode the within-bucket
    # ordered pairs — a keyed self-join would shuffle (and compute) the
    # fingerprint relation twice and pay an SMJ sort.
    # bkey is never NULL (pure arithmetic over a non-null fingerprint),
    # so equality grouping matches the join's equality semantics; the
    # doc_id < filter and the hamming arithmetic are verbatim.
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    cand = (
        keyed.groupBy("combo", "bkey")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("__fps"))
        .where(F.size("__fps") > 1)
        .select(F.explode("__fps").alias("a"), F.col("__fps").alias("__fps2"))
        .select("a", F.explode("__fps2").alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )
    # distinct: a pair can match in several block subsets (hamming is a
    # pure function of the pair, so deduping the triple dedupes the pair)
    return cand.distinct().where(F.col("hamming") <= max_hamming)


def cross_corpus_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_frac: float = 0.0,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Benchmark-contamination check: for every (corpus doc, benchmark doc)
    pair sharing at least one word-``k``-gram, the number of shared
    distinct k-grams and the fraction of the *benchmark* doc's k-grams
    they cover (the decontamination signal: high ``frac_of_bench`` means
    the training doc leaks that eval item).

    Set-based shingle-equality join — same scale shape as the MinHash
    verify stage: cost is Σ_shingle |corpus matches|×|benchmark matches|,
    bounded in practice because the benchmark side is small (and
    broadcast). No |corpus|×|benchmark| cross product ever materializes.

    ``max_shingle_df`` is the stop-shingle cap: shingles appearing in
    more than that many *corpus* documents are dropped from the join (on
    the corpus side only — ``n_bench`` denominators are unchanged). A
    ubiquitous k-gram ("terms of service") matches most of the corpus
    and turns the per-shingle join product into |corpus|×|benchmark| —
    exactly the storm shape the LSH bucket cap guards. Dropping it only
    lowers ``n_common``, so capped output pairs (and their fractions)
    are lower bounds of the uncapped values and the pair set at any
    ``min_frac`` is a subset of the uncapped one (property-tested);
    report ``n_common`` as "overlap excluding stop-shingles". None
    disables the cap (exact semantics — the oracle-checked mode).
    """
    ce = shingles_exploded(corpus, id_col, text_col, k)
    if max_shingle_df is not None:
        # document frequency per shingle over the corpus side in the
        # SAME pass: a count window partitioned by shingle attaches df
        # to every (doc, shingle) row — one shuffle of the exploded
        # relation — where a groupBy-then-anti-join would DERIVE the
        # exploded relation twice (once to build the stop set, once as
        # the anti-join probe). shingles_exploded is already distinct
        # per (doc, shingle) so the count IS the document frequency,
        # and it never emits NULL shingles, so keep-df<=cap drops
        # exactly the rows such an anti-join would drop.
        ce = (
            ce.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("s"))
            )
            .where(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    be = shingles_exploded(benchmark, id_col, text_col, k)
    bsizes = be.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bench"))
    common = (
        ce.join(
            F.broadcast(be.select(F.col("doc_id").alias("bench_id"), "s")), "s"
        )
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = common.join(
        F.broadcast(bsizes.select(F.col("doc_id").alias("bench_id"), "n_bench")),
        "bench_id",
    ).select(
        "doc_id",
        "bench_id",
        "n_common",
        (F.col("n_common").cast("double") / F.col("n_bench")).alias("frac_of_bench"),
    )
    return out.where(F.col("frac_of_bench") >= min_frac) if min_frac > 0 else out


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph → cluster
    assignment: every node gets ``cluster_id`` = the minimum ``id`` in its
    component (the canonical survivor), the step that turns mined pairs
    (``minhash_lsh_pairs``/``simhash_pairs``) into keep-one-per-cluster
    decisions. ``pairs`` must expose ``doc_a``/``doc_b``.

    Min-label propagation: each round joins labels across edges and takes
    the per-node min — one shuffle join + one partial-agg per round,
    converging in O(component diameter) rounds (near-dup components are
    dense, so 2-4 rounds in practice). This is genuinely iterative — the
    documented exception to "no driver loops": the loop runs O(diameter)
    *actions*, not per-row work; ``localCheckpoint`` truncates lineage so
    plans stay flat. Convergence is detected *structurally*: a round that
    lowers no node's label (labels only ever decrease under ``least``) is
    the fixpoint — an ordering-only test, so ids may be strings, ints, or
    anything with a total order (a numeric-sum fixpoint would return NULL
    for string ids and false-converge after one round). At extreme
    diameters switch to ``dedup_clusters_twophase`` (large-star/
    small-star contraction — O(log n) rounds on any topology).
    """
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.unionByName(rev).localCheckpoint(eager=False)
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_label = F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label")))
        labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                F.col("id"),
                new_label.alias("label"),
                (new_label < F.col("label")).alias("changed"),
            )
            # LAZY: the convergence probe below is the action that
            # materializes this iteration's checkpoint, so each
            # iteration costs ONE job instead of two — same treatment
            # as dedup_clusters_twophase; later iterations (and the
            # returned frame) read the stored blocks either way. The
            # probe is a FULL count, not limit(1): a short-circuiting
            # probe would materialize only the partitions it touched and
            # the checkpoint would immediately backfill the rest in a
            # second job.
            .localCheckpoint(eager=False)
        )
        if labels.where(F.col("changed")).count() == 0:
            break
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("id")).alias("is_canonical"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block: Column,
    k: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """All-pairs n-gram Jaccard within a blocking key (e.g. language +
    length bucket) — the exact-verification path without LSH, for when
    blocks are small enough that |block|^2 is acceptable.

    Set-based like ``minhash_lsh_pairs``: intersections come from a
    shingle-equality join (pairs sharing zero shingles have Jaccard 0 and
    are below any positive threshold, so the inner join loses nothing).

    The one-exchange group form (groupBy(blk, s) → collect_list(doc_id)
    → ordered-pair explode, the minhash candidate recipe) is
    pair-for-pair identical (pinned in tests/test_round19_opt.py) but
    measured 13% SLOWER at sf0.1 on an idle box (interleaved A/B
    medians 3.04 s join vs 3.44 s group), so it is not used — unlike
    the minhash bucket stage, the grouping key here is the raw
    (block, shingle) pair, so the ObjectHashAggregate buffers a doc-id
    array per distinct shingle and that costs more than the SMJ
    self-join it removes. The join form keeps codegen'd streaming
    operators; revisit only if a profile shows the duplicated
    shingle-derivation passes dominating (the 100 TB failure mode the
    group form would fix).
    """
    if threshold <= 0:
        raise ValueError("count-join formulation requires a positive threshold")
    exp = shingles_exploded(df, id_col, text_col, k)
    blocks = df.select(F.col(id_col).alias("doc_id"), block.alias("blk"))
    exp = exp.join(blocks, "doc_id")
    sizes = exp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ea = exp.select(F.col("doc_id").alias("doc_a"), F.col("blk"), "s")
    eb = exp.select(F.col("doc_id").alias("doc_b"), F.col("blk"), "s")
    inter = (
        ea.join(eb, ["blk", "s"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )


def dedup_clusters_twophase(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the escape hatch ``dedup_clusters`` names for extreme
    diameters: min-label propagation needs O(diameter) rounds (a 10^6-hop
    chain means 10^6 shuffles), while star contraction converges in
    O(log n) rounds on ANY topology because every round rewires nodes
    directly toward their component minimum.

    Per round, for each node ``u`` with neighborhood Γ(u) and
    ``m = min(Γ(u) ∪ {u})``:

    - large-star: emit edge (v, m) for every neighbor v > u — strictly
      larger nodes hook onto the local minimum;
    - small-star: emit (v, m) for v <= u, v != m, plus (u, m) — the
      remaining small neighbors and u itself collapse onto m.

    Both steps are one groupBy-min + one join over the edge list — the
    same primitives as the propagation loop, same cost per round, fewer
    rounds. Edges are kept in canonical (hi, lo) form; the fixpoint is a
    stable edge set (each round only ever replaces an endpoint with a
    smaller one, so an unchanged round count + containment check is the
    fixpoint — ordering-only, id type agnostic). At the fixpoint every
    edge is (node, component-min): labels read off directly; singletons
    label themselves. Output schema matches ``dedup_clusters`` exactly
    (property-tested equal on random graphs and deep chains).
    """
    # canonical (hi, lo): every emitted edge already points high -> low.
    # Checkpoints are LAZY: the per-round count probe is the action
    # that materializes them, so each round costs ONE job instead of
    # three (two eager checkpoints + a fresh count), and the two star
    # phases compose into a single materialization — the
    # intra-round replan over a checkpointed scan is trivial next to the
    # per-job orchestration it replaces (loop measured 3.2 -> ~1 s at
    # sf0.1/local[32], identical fixpoint). Counts are carried in Python
    # between rounds (labels of a checkpointed relation cannot change
    # under us), so there is no prev.count() re-read.
    canon = (
        pairs.select(
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("hi"),
            F.least(F.col("doc_a"), F.col("doc_b")).alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = canon.count()  # materializes the checkpoint
    for _ in range(max_iterations):
        prev, prev_n = canon, n
        for large in (True, False):
            nbrs = canon.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
                canon.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
            )
            m = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
            m = m.select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
            j = nbrs.join(m, "u")
            if large:
                out = j.where(F.col("v") > F.col("u")).select(
                    F.col("v").alias("hi"), F.col("m").alias("lo")
                )
            else:
                out = (
                    j.where((F.col("v") <= F.col("u")) & (F.col("v") != F.col("m")))
                    .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
                    .unionByName(
                        m.where(F.col("u") != F.col("m")).select(
                            F.col("u").alias("hi"), F.col("m").alias("lo")
                        )
                    )
                )
            canon = out.where(F.col("hi") != F.col("lo")).distinct().localCheckpoint(eager=False)
        n = canon.count()  # one action per round: materializes both phases
        # fixpoint: the round changed nothing (cheap count probe first,
        # then an anti-join containment check only when counts agree)
        if n == prev_n and canon.join(
            prev, ["hi", "lo"], "left_anti"
        ).limit(1).count() == 0:
            break
    labels = (
        nodes.select(F.col(id_col).alias("id"))
        .join(canon.select(F.col("hi").alias("id"), F.col("lo").alias("root")), "id", "left")
        .groupBy("id")
        .agg(F.min("root").alias("root"))
        .select("id", F.coalesce(F.col("root"), F.col("id")).alias("label"))
    )
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("id")).alias("is_canonical"),
    )


def minhash_lsh_pairs_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bands: int = 6,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    consume=None,
):
    """Incremental MinHash-LSH near-dup: NEW-batch documents checked
    against the STANDING corpus — the per-batch maintenance form of
    :func:`minhash_lsh_pairs` (same shingle→KM-band-minima→bucket-join→
    exact-Jaccard pipeline, same families, same threshold), returning
    ``(batch_doc, corpus_doc, jaccard_sim)``.

    Why this is the 100 TB shape: ingest dedups each incoming batch
    against the corpus WITHOUT re-pairing the corpus with itself — the
    candidate join is batch-signatures × corpus-signatures, so per-batch
    cost scales with the batch (signatures + candidate fan-in), never
    |corpus|². In production the corpus side of this function is a
    MAINTAINED signature/shingle table (appended per accepted batch, the
    `merge_into` pattern), not recomputed; the demo recomputes it for
    self-containment. Corpus shingles are pruned to candidate docs by a
    semi-join before the verification join, so exact-Jaccard work is
    candidate-bounded too.

    As in :func:`minhash_lsh_pairs`, each side's PER-DOC relation (band
    minima + distinct-shingle array + count, produced by one
    aggregation pass) is consumed twice (signature stack, verification
    join), so both are persisted DISK_ONLY; ``max_bucket_size`` caps each (band, mh) bucket on BOTH signature
    sides before the candidate join — the boilerplate-storm guard (a
    corpus-wide shared shingle otherwise fans the batch×corpus join out
    by |corpus bucket| per batch row).

    Persist lifecycle: pass ``consume`` — a callable taking the pairs
    DataFrame — and the function OWNS the persists: it runs ``consume(pairs)`` while the
    exploded-shingle relations are alive, unpersists them in a
    ``finally``, and returns whatever ``consume`` returned. This is the
    per-batch maintenance-loop mode (e.g. a ``foreachBatch`` body that
    writes the batch's accepted pairs and moves on): repeated bare
    invocations would otherwise accumulate one persisted
    exploded-shingle pair per micro-batch for the life of the session
    (tests/test_round13_fixes.py pins the persistent-RDD count flat
    across simulated batches). Without ``consume`` the raw lazy
    DataFrame is returned and the persists back it — the one-shot/demo
    mode — and the caller releases them (``spark.catalog.clearCache()``
    or unpersist) when done.
    """
    def km_parts(df: DataFrame):
        # ONE aggregation pass per side (the minhash_lsh_pairs recipe):
        # band minima, the distinct-shingle array and the shingle count
        # come out of the same groupBy, so the exploded relation is
        # consumed once instead of three times and the persisted state
        # is the per-doc relation (signature + array + count), not the
        # exploded rows.
        exp = shingles_exploded(df, id_col, text_col, k)
        hx = F.md5(F.col("s"))
        hashed = exp.select(
            "doc_id",
            "s",
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(hx, 9, 8), 16, 10).cast("long").alias("h2"),
        )
        per_doc = hashed.groupBy("doc_id").agg(
            *[
                F.min(
                    (F.col("h1") + F.lit(b) * F.col("h2")) % F.lit(2**32)
                ).alias(f"key_{b}")
                for b in range(bands)
            ],
            F.collect_list("s").alias("__sh"),
            F.count(F.lit(1)).alias("__n"),
        )
        per_doc = per_doc.persist(StorageLevel.DISK_ONLY)
        stack_expr = "stack({n}, {args}) as (band, mh)".format(
            n=bands, args=", ".join(f"{b}, key_{b}" for b in range(bands))
        )
        sig = per_doc.select("doc_id", F.expr(stack_expr))
        if max_bucket_size is not None:
            from transit_efficiency_analysis_spark.operators.buckets import (
                cap_buckets,
            )

            sig = cap_buckets(sig, ["band", "mh"], "doc_id", max_bucket_size)
        return per_doc, sig

    doc_c, sig_c = km_parts(corpus)
    doc_b, sig_b = km_parts(batch)
    cand = (
        sig_b.alias("b")
        .join(
            sig_c.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.mh") == F.col("c.mh")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    # candidate-bounded verification: the bounded candidate list joins
    # back to each side's per-doc relation and intersects the shingle
    # arrays natively — exact because the exploded relation is distinct
    # per (doc_id, s), so an exploded equi-join's match count IS
    # size(array_intersect(...)); no corpus-side semi-join prune is
    # needed (the join on cand is already candidate-bounded).
    ab = doc_b.select(
        F.col("doc_id").alias("batch_doc"),
        F.col("__sh").alias("__sb"),
        F.col("__n").alias("n_b"),
    )
    ac = doc_c.select(
        F.col("doc_id").alias("corpus_doc"),
        F.col("__sh").alias("__sc"),
        F.col("__n").alias("n_c"),
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_b") + F.col("n_c") - F.col("n_inter")
    )
    pairs = (
        cand.join(ab, "batch_doc")
        .join(ac, "corpus_doc")
        .select(
            "batch_doc",
            "corpus_doc",
            F.size(F.array_intersect("__sb", "__sc")).alias("n_inter"),
            "n_b",
            "n_c",
        )
        # the inner count-join contract: a zero-intersection candidate
        # is never a pair, even for threshold <= 0
        .where(F.col("n_inter") > 0)
        .select("batch_doc", "corpus_doc", jac.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= threshold)
    )
    if consume is None:
        return pairs
    try:
        return consume(pairs)
    finally:
        doc_c.unpersist()
        doc_b.unpersist()


def simhash_pairs_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    n_blocks: int = 4,
    block_choose: int = 2,
) -> DataFrame:
    """Incremental SimHash near-dup: NEW-batch fingerprints screened
    against the STANDING corpus's — the per-batch maintenance form of
    :func:`simhash_pairs` (same Manku block subsets, same Hamming
    filter), returning ``(batch_doc, corpus_doc, hamming)``.

    Same scale argument as :func:`minhash_lsh_pairs_incremental`: the
    candidate join is batch-keys × corpus-keys on the 32-bit
    (combo, block-key) pairs, so per-batch cost follows the batch and
    the corpus is never self-paired; in production the corpus
    fingerprints are ONE maintained 16-byte-row table (appended per
    accepted batch) — fingerprinting the standing corpus again, as this
    self-contained form does, is exactly the cost the maintained table
    removes.
    """
    from itertools import combinations

    if not (64 % n_blocks == 0 and 1 <= block_choose <= n_blocks):
        raise ValueError("n_blocks must divide 64 and block_choose be in [1, n_blocks]")
    bits = 64 // n_blocks
    # same guard as simhash_pairs: the combo key packs block_choose
    # bits-wide blocks into one positive long; without it non-default
    # params (e.g. n_blocks=2, block_choose=2) silently overflow bkey and
    # produce wrong candidate keys instead of failing fast
    if bits * block_choose > 62:
        raise ValueError("combo key must fit a positive long")
    mask = F.lit(2**bits - 1)

    def block(i: int) -> Column:
        return F.shiftright(F.col("simhash"), bits * i).bitwiseAND(mask)

    entries = F.array(
        *[
            F.struct(
                F.lit(ci).alias("combo"),
                sum(
                    (
                        block(i) * F.lit(2 ** (bits * pos))
                        for pos, i in enumerate(combo)
                    ),
                    F.lit(0).cast("long"),
                ).alias("bkey"),
            )
            for ci, combo in enumerate(
                combinations(range(n_blocks), block_choose)
            )
        ]
    )

    def keyed(df: DataFrame) -> DataFrame:
        fp = simhash_fingerprints(df, id_col, text_col)
        return fp.select(
            "doc_id", "simhash", F.explode(entries).alias("e")
        ).select(
            "doc_id",
            "simhash",
            F.col("e.combo").alias("combo"),
            F.col("e.bkey").alias("bkey"),
        )

    kb, kc = keyed(batch).alias("b"), keyed(corpus).alias("c")
    ham = F.bit_count(F.col("b.simhash").bitwiseXOR(F.col("c.simhash")))
    cand = kb.join(
        kc,
        (F.col("b.combo") == F.col("c.combo"))
        & (F.col("b.bkey") == F.col("c.bkey")),
    ).select(
        F.col("b.doc_id").alias("batch_doc"),
        F.col("c.doc_id").alias("corpus_doc"),
        ham.cast("int").alias("hamming"),
    )
    return cand.distinct().where(F.col("hamming") <= max_hamming)
