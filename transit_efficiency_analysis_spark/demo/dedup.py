"""Deduplication demos over ``documents`` / ``embeddings`` (north-star).

Every demo has an exact DuckDB oracle: md5-based hash families, DECIMAL
projections, and count-ratio Jaccards are bit-reproducible in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.demo import demo
from transit_efficiency_analysis_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    ngram_jaccard_pairs,
    simhash_pairs_incremental,
    simhash_fingerprints,
    simhash_pairs,
)
from transit_efficiency_analysis_spark.operators.similarity import (
    embedding_near_dup_pairs,
)
from transit_efficiency_analysis_spark.sources.registry import (
    load_table,
    parquet_rows,
)

_SHINGLES_SQL = """
SELECT doc_id,
       list_distinct([array_to_string(w[i:i+2], ' ')
                      FOR i IN generate_series(1, greatest(len(w) - 2, 0))]) AS sh
FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""


@demo(
    "q_dedup_exact",
    sql="""
    SELECT content_key, count(*) AS n_docs,
           min(doc_id) AS canonical_doc_id, max(doc_id) AS max_doc_id
    FROM (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS content_key
        FROM documents
    )
    GROUP BY content_key
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact dedup: hash-groupBy on a normalized content key (order-
    insensitive bag-of-words hash; plain md5(text) would also work but the
    corpus has no byte-identical dups). Canonical = min doc_id
    (first-writer-wins, same identity rule as upsert-ignore)."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), r"\s+"))), " ")
    )
    return exact_dedup_groups(d, "doc_id", key)


@demo(
    "q_dedup_minhash_lsh",
    sql=f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    nonempty AS (SELECT doc_id, sh FROM shingled WHERE len(sh) > 0),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM nonempty),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h1,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS h2
        FROM exploded
    ),
    sig AS (
        SELECT doc_id, b, min((h1 + b * h2) % 4294967296) AS mh
        FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b)
        GROUP BY doc_id, b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM sig a JOIN sig c ON a.b = c.b AND a.mh = c.mh AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard_sim
    FROM cand
    JOIN nonempty sa ON sa.doc_id = doc_a
    JOIN nonempty sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: word-3-gram shingles → 6 band minhashes
    (md5 family) → band-bucket candidate join → exact Jaccard >= 0.5."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", k=3, bands=6, threshold=0.5)


@demo(
    "q_dedup_clusters",
    sql=f"""
    WITH RECURSIVE shingled AS ({_SHINGLES_SQL}),
    nonempty AS (SELECT doc_id, sh FROM shingled WHERE len(sh) > 0),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM nonempty),
    sig AS (
        SELECT doc_id, b, min(md5(CAST(b AS VARCHAR) || '|' || s)) AS mh
        FROM exploded CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b)
        GROUP BY doc_id, b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM sig a JOIN sig c ON a.b = c.b AND a.mh = c.mh AND a.doc_id < c.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN nonempty sa ON sa.doc_id = doc_a
        JOIN nonempty sb ON sb.doc_id = doc_b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id, min(dst) AS cluster_id,
           (min(dst) = src) AS is_canonical
    FROM reach GROUP BY src
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-dup cluster assignment: MinHash-LSH pairs → connected
    components → cluster_id = min doc_id (the canonical survivor) for
    every document, singletons included. The Spark side is iterative
    min-label propagation; the oracle is the transitive closure as a
    recursive CTE — different algorithms, identical fixpoint."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", k=3, bands=6, threshold=0.5)
    return dedup_clusters(d, pairs, id_col="doc_id")


# 64-bit fingerprint from ONE md5 per token: bit j-1 draws from the top bit
# of nibble ((j-1) % 32) + 1 for j <= 32 (digit >= '8') and from the SECOND
# bit of the same nibble for j > 32 (digit in 4-7, c-f) — two independent
# uniform bit families, half the hashing of a two-md5 scheme. Bit 63
# carries the sign weight -2^63 (two's complement — block extraction and
# bit_count/xor verified bit-identical between DuckDB and the JVM).
# DuckDB sums BIGINT into HUGEINT, so the outer CAST back to BIGINT is exact.
_SIMHASH_SQL = """
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN
                CASE WHEN j = 64 THEN -9223372036854775807 - 1
                     ELSE CAST(power(2, j - 1) AS BIGINT) END
            ELSE 0 END) AS BIGINT) AS simhash
FROM (
    SELECT doc_id, j,
           sum(CASE WHEN (j <= 32 AND substr(md5(t), j, 1) >= '8')
                      OR (j > 32 AND substr(md5(t), j - 32, 1) IN
                          ('4','5','6','7','c','d','e','f'))
               THEN 1 ELSE -1 END) AS vote
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
    CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j)
    GROUP BY doc_id, j
)
GROUP BY doc_id
"""


@demo("q_dedup_simhash", sql=f"SELECT doc_id, simhash FROM ({_SIMHASH_SQL})")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 64-bit fingerprint per document (two md5-nibble bit-draw
    families, ±1 votes per token, sign → bit)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(d, "doc_id", "text")


def _simhash_pairs_sql(n_blocks: int = 4, choose: int = 2, max_hamming: int = 6) -> str:
    from itertools import combinations

    bits = 64 // n_blocks
    blocks = ", ".join(
        f"(simhash >> {bits * i}) & {2**bits - 1} AS b{i}" for i in range(n_blocks)
    )
    branches = "\n        UNION\n".join(
        "        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS ha, b.simhash AS hb\n"
        "        FROM fpb a JOIN fpb b ON "
        + " AND ".join(f"a.b{i} = b.b{i}" for i in combo)
        + " AND a.doc_id < b.doc_id"
        for combo in combinations(range(n_blocks), choose)
    )
    return f"""
    WITH fp AS ({_SIMHASH_SQL}),
    fpb AS (SELECT doc_id, simhash, {blocks} FROM fp),
    cand AS (
{branches}
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


@demo("q_dedup_simhash_pairs", sql=_simhash_pairs_sql())
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming <= 6 over 64-bit fingerprints,
    Manku block candidates — 4 blocks of 16 bits, candidates agree on
    some choose-2 block subset (32-bit join keys; every hamming<=2 pair
    is guaranteed caught, hamming 3-6 found probabilistically)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=6)


@demo(
    "q_dedup_ngram_jaccard",
    sql=f"""
    WITH shingled AS (
        SELECT s.doc_id, d.lang || '_' || CAST(len(string_split(d.text, ' ')) // 20 AS VARCHAR)
                   AS blk,
               s.sh
        FROM ({_SHINGLES_SQL}) s JOIN documents d USING (doc_id)
        WHERE len(s.sh) > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard_sim
    FROM shingled a
    JOIN shingled b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard: exact all-pairs within (lang, length-bucket) blocks."""
    d = load_table(spark, sf_dir, "documents")
    block = F.concat_ws(
        "_",
        F.col("lang"),
        F.floor(F.size(F.split(F.col("text"), r"\s+")) / 20).cast("string"),
    )
    return ngram_jaccard_pairs(d, "doc_id", "text", block, k=3, threshold=0.2)


@demo(
    "q_dedup_embedding",
    sql="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
           / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
              * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
               AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
              >= 0.3
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-cosine near-dup: pairs with cosine >= 0.3 within a label
    block (cluster id as the blocking key; the synthetic embeddings top out
    near 0.47 so 0.3 marks the near-dup tail). Dot products are
    bit-identical to the oracle (sequential fold on both engines)."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, F.col("label"), threshold=0.3)


@demo(
    "q_text_contamination",
    sql=f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    ce AS (SELECT doc_id, unnest(sh) AS s FROM shingled
           WHERE doc_id % 20 != 0 AND len(sh) > 0),
    be AS (SELECT doc_id, unnest(sh) AS s FROM shingled
           WHERE doc_id % 20 = 0 AND len(sh) > 0),
    bs AS (SELECT doc_id AS bench_id, count(*) AS n_bench FROM be GROUP BY doc_id),
    common AS (
        SELECT ce.doc_id AS doc_id, be.doc_id AS bench_id, count(*) AS n_common
        FROM ce JOIN be ON ce.s = be.s
        GROUP BY ce.doc_id, be.doc_id
    )
    SELECT doc_id, bench_id, n_common,
           CAST(n_common AS DOUBLE) / n_bench AS frac_of_bench
    FROM common JOIN bs USING (bench_id)
    WHERE CAST(n_common AS DOUBLE) / n_bench >= 0.2
    """,
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark-contamination check: corpus docs sharing >= 20% of a
    held-out "benchmark" doc's word-3-grams (benchmark = every 20th doc).
    The decontamination pass a training pipeline runs before an eval ships;
    shingle-equality join, benchmark side broadcast."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 20 != 0)
    bench = d.where(F.col("doc_id") % 20 == 0)
    from transit_efficiency_analysis_spark.operators.dedup import cross_corpus_overlap

    return cross_corpus_overlap(corpus, bench, "doc_id", "text", k=3, min_frac=0.2)


@demo(
    "q_dedup_incremental",
    sql="""
    WITH keyed AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                   AS content_key
        FROM documents
    )
    SELECT n.doc_id, n.content_key
    FROM keyed n
    WHERE n.doc_id % 5 = 0
      AND NOT EXISTS (
          SELECT 1 FROM keyed c
          WHERE c.doc_id % 5 <> 0 AND c.content_key = n.content_key
      )
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental dedup: the continual-ingest shape — a NEW batch
    (doc_id % 5 = 0 here) admitted only where its content key is absent
    from the already-ingested corpus. One anti join on the key: the
    corpus side is the indexed key column (at 100 TB a bucketed key
    table), never the documents themselves."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), r"\s+"))), " ")
    )
    keyed = d.select("doc_id", key.alias("content_key"))
    new = keyed.where(F.col("doc_id") % 5 == 0)
    corpus = keyed.where(F.col("doc_id") % 5 != 0)
    return new.join(corpus, "content_key", "left_anti").select("doc_id", "content_key")


@demo(
    "q_dedup_minhash_incremental",
    sql=f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    nonempty AS (SELECT doc_id, sh FROM shingled WHERE len(sh) > 0),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM nonempty),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h1,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS h2
        FROM exploded
    ),
    sig AS (
        SELECT doc_id, b, min((h1 + b * h2) % 4294967296) AS mh
        FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b)
        GROUP BY doc_id, b
    ),
    cand AS (
        SELECT DISTINCT nb.doc_id AS batch_doc, c.doc_id AS corpus_doc
        FROM sig nb JOIN sig c ON nb.b = c.b AND nb.mh = c.mh
        WHERE nb.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    )
    SELECT batch_doc, corpus_doc,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard_sim
    FROM cand
    JOIN nonempty sa ON sa.doc_id = batch_doc
    JOIN nonempty sb ON sb.doc_id = corpus_doc
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    """,
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash near-dup — every tenth document plays the
    NEW BATCH, the rest the standing corpus; the batch is screened
    against the corpus through batch-sig × corpus-sig candidates and
    candidate-pruned exact Jaccard (operators.dedup.
    minhash_lsh_pairs_incremental). Per-batch cost ∝ batch, never
    |corpus|² — the dedup-at-ingest maintenance shape; same families
    and threshold as q_dedup_minhash_lsh, so accepted batches keep the
    corpus's dedup invariant."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_incremental(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        k=3,
        bands=6,
        threshold=0.5,
    )


def _simhash_incremental_sql(
    n_blocks: int = 4, choose: int = 2, max_hamming: int = 6
) -> str:
    from itertools import combinations

    bits = 64 // n_blocks
    blocks = ", ".join(
        f"(simhash >> {bits * i}) & {2**bits - 1} AS b{i}"
        for i in range(n_blocks)
    )
    branches = "\n        UNION\n".join(
        "        SELECT nb.doc_id AS batch_doc, c.doc_id AS corpus_doc,"
        " nb.simhash AS hb, c.simhash AS hc\n"
        "        FROM fpb nb JOIN fpb c ON "
        + " AND ".join(f"nb.b{i} = c.b{i}" for i in combo)
        + " AND nb.doc_id % 10 = 0 AND c.doc_id % 10 <> 0"
        for combo in combinations(range(n_blocks), choose)
    )
    return f"""
    WITH fp AS ({_SIMHASH_SQL}),
    fpb AS (SELECT doc_id, simhash, {blocks} FROM fp),
    cand AS (
{branches}
    )
    SELECT batch_doc, corpus_doc,
           CAST(bit_count(xor(hb, hc)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(hb, hc)) <= {max_hamming}
    """


@demo("q_dedup_simhash_incremental", sql=_simhash_incremental_sql())
def q_dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash near-dup — the fingerprint-family twin of
    q_dedup_minhash_incremental: every tenth document plays the new
    batch, screened against the standing corpus through batch-keys ×
    corpus-keys Manku block candidates and the Hamming <= 6 filter. In
    production the corpus side is one maintained 16-byte-fingerprint
    row per document; per-batch cost follows the batch."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs_incremental(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        max_hamming=6,
    )


def _semantic_dedup_sql() -> str:
    # Zero-norm-centroid guard (ADVICE r13, live since the round-15
    # flip): in DuckDB x/0.0 (double) → NULL and list_inner_product
    # RAISES on NULL elements, so the asg CTE's score is guarded to
    # NULL (`CASE WHEN c.cn = 0 THEN NULL`); NULLS LAST under the DESC
    # rank mirrors the Spark fold's strict-> skip, and an all-NULL
    # argmax falls to the smallest cell — the fold's INIT fallback.
    # The members CTE inside _IVF_LLOYD_SQL carries the same guard.
    # Unreachable on the testdata (Lloyd means of nonzero-norm
    # members), but the guard belongs in the oracle; neutrality on the
    # gate corpus is pinned in tests/test_ivf_fold_oracles.py.
    from transit_efficiency_analysis_spark.demo.similarity import _IVF_LLOYD_SQL

    return f"""
    WITH {_IVF_LLOYD_SQL},
    -- final assignment mirrors the Spark broadcast-array fold exactly
    -- (round 13, VERDICT r12 ask #1): raw dot against the
    -- PRE-NORMALIZED post-Lloyd centroid (same argmax as cosine), ties
    -- to the smallest cell — operators/similarity.py _fold_assign.
    -- _IVF_LLOYD_SQL's cosine-ranked `ranked1` (the ivf_topk probe
    -- shape) is unused here.
    asg AS (
        SELECT vec_id, v, vn, cell FROM (
            SELECT b.vec_id, b.v, b.vn, c.cell,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY CASE WHEN c.cn = 0 THEN NULL
                                     ELSE list_inner_product(
                                              b.v,
                                              list_transform(c.cv, x -> x / c.cn))
                                END DESC, c.cell
                   ) AS arank
            FROM base b CROSS JOIN cent1 c
        ) WHERE arank = 1
    ),
    dups AS (
        SELECT b.vec_id, min(a.vec_id) AS dup_of
        FROM asg a JOIN asg b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
         AND list_inner_product(a.v, b.v) / (a.vn * b.vn) >= 0.3
        GROUP BY b.vec_id
    )
    SELECT g.vec_id, CAST(g.cell AS BIGINT) AS cell,
           (d.dup_of IS NULL) AS kept, d.dup_of
    FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
    """


@demo("q_dedup_semantic", sql=_semantic_dedup_sql())
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023): k-means-cell
    blocking (hash-seeded + one Lloyd round — the exact centroids the
    IVF demos pin) then keep-first within each cell: a vector is
    dropped when a lower-id cellmate has cosine >= 0.3 (the synthetic
    embeddings top out ~0.34, same calibration note as
    q_dedup_embedding). dup_of records the keeper; the within-cell
    pairing is bounded by cell size — the IVF candidate argument, no
    n² (operators/similarity.py semantic_dedup)."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # footer row count = the free catalog stat that picks the
    # assignment form; at gate scale nK is far below the 16M-dot knee
    # so the plan stays the fold (pinned in tests/test_assign_auto.py)
    return semantic_dedup(
        e, "vec_id", "embedding", n_centroids=8, lloyd_rounds=1, threshold=0.3,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )


_SEMANTIC_HIER_SQL = """
    WITH seeds AS (
        SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    cent AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(sid AS VARCHAR)), sid) - 1 AS cell,
               cv, sqrt(list_inner_product(cv, cv)) AS cn
        FROM seeds
    ),
    cseeds AS (
        SELECT cell AS csid, cv AS ccv FROM cent
        ORDER BY md5(CAST(cell AS VARCHAR)), cell
        LIMIT 4
    ),
    ccent AS (
        SELECT ccell, ccv, ccn, CASE WHEN ccn = 0 THEN NULL ELSE list_transform(ccv, x -> x / ccn) END AS ccvu
        FROM (
            SELECT row_number() OVER (ORDER BY md5(CAST(csid AS VARCHAR)), csid) - 1 AS ccell,
                   ccv, sqrt(list_inner_product(ccv, ccv)) AS ccn
            FROM cseeds
        )
    ),
    f2c AS (
        SELECT cell, cv, cn, CASE WHEN cn = 0 THEN NULL ELSE list_transform(cv, x -> x / cn) END AS cvu, ccell
        FROM (
            SELECT c.cell, c.cv, c.cn, cc.ccell,
                   row_number() OVER (
                       PARTITION BY c.cell
                       ORDER BY list_inner_product(c.cv, cc.ccv) / (c.cn * cc.ccn) DESC,
                                cc.ccell
                   ) AS frank
            FROM cent c CROSS JOIN ccent cc
        ) WHERE frank = 1
    ),
    base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS vn
        FROM embeddings
    ),
    v2c AS (
        -- raw dot against the pre-NORMALIZED centroid (r12): same
        -- argmax as cosine (1/vn is a constant positive per-row
        -- scale), mirroring the Spark fold's expression exactly
        SELECT vec_id, v, vn, ccell FROM (
            SELECT b.vec_id, b.v, b.vn, cc.ccell,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY list_inner_product(b.v, cc.ccvu) DESC,
                                cc.ccell
                   ) AS crank
            FROM base b CROSS JOIN ccent cc
        ) WHERE crank = 1
    ),
    asg AS (
        SELECT vec_id, v, vn, cell FROM (
            SELECT p.vec_id, p.v, p.vn, f.cell,
                   row_number() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY list_inner_product(p.v, f.cvu) DESC,
                                f.cell
                   ) AS frank
            FROM v2c p JOIN f2c f USING (ccell)
        ) WHERE frank = 1
    ),
    dups AS (
        SELECT b.vec_id, min(a.vec_id) AS dup_of
        FROM asg a JOIN asg b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
         AND list_inner_product(a.v, b.v) / (a.vn * b.vn) >= 0.3
        GROUP BY b.vec_id
    )
    SELECT g.vec_id, CAST(g.cell AS BIGINT) AS cell,
           (d.dup_of IS NULL) AS kept, d.dup_of
    FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
"""


@demo("q_dedup_semantic_hier", sql=_SEMANTIC_HIER_SQL)
def q_dedup_semantic_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with two-level (coarse→fine) centroid quantization — the
    assignment-cost escape the flat q_dedup_semantic's measured 16x
    ratio (5.58, assignment-join-dominated) called for: 16 fine
    centroids clustered into 4 coarse groups; each vector scores 4
    coarse + ~4 fine centroids instead of all 16 (O(n·2√K) vs O(n·K)).
    Same keep-first ε-ball rule within the fine cell; same witness
    semantics for dup_of. Every stage is md5-seeded deterministic
    column algebra, so the DuckDB oracle mirrors the two-level
    assignment exactly (operators/similarity.py semantic_dedup_hier)."""
    from transit_efficiency_analysis_spark.operators.similarity import (
        semantic_dedup_hier,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_hier(
        e, "vec_id", "embedding", n_centroids=16, coarse_cells=4, threshold=0.3,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )
