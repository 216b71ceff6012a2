"""Similarity-search demos over ``embeddings`` (north-star).

The LSH oracle inlines the deterministic hyperplane components (±1 from
md5, generated by the same Python function the Spark side uses) as a VALUES
table; projections are summed in DECIMAL so bucket ids are exact on both
engines regardless of aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.demo import demo
from transit_efficiency_analysis_spark.functions.vectors import plane_sign
from transit_efficiency_analysis_spark.operators.similarity import (
    ivf_pq_topk,
    ivf_topk,
    brute_force_topk,
    lsh_bucket_assignments,
    lsh_topk,
)
from transit_efficiency_analysis_spark.sources.registry import (
    load_table,
    parquet_rows,
)

_PLANES = 8
_DIMS = 64

_COS_SQL = (
    "list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    "    * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@demo(
    "q_sim_bruteforce_topk",
    sql=f"""
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine_sim,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
        FROM embeddings a
        JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % 100 = 0
    )
    WHERE rank <= 5
    """,
)
def q_sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-5 for query vectors (vec_id % 100 = 0) —
    the exact-ANN baseline; query side broadcast, corpus never shuffled."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 100 == 0)
    return brute_force_topk(e, queries, k=5)


def _planes_values_sql() -> str:
    rows = ", ".join(
        f"({p}, {d + 1}, {plane_sign(p, d)})" for p in range(_PLANES) for d in range(_DIMS)
    )
    return f"(VALUES {rows}) planes(p, d, s)"


_BUCKET_SQL = f"""
SELECT vec_id,
       CAST(sum(CASE WHEN proj > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS bucket
FROM (
    SELECT e.vec_id, planes.p,
           sum(CAST(e.embedding[planes.d] AS DECIMAL(18,9)) * planes.s) AS proj
    FROM embeddings e CROSS JOIN {_planes_values_sql()}
    GROUP BY e.vec_id, planes.p
)
GROUP BY vec_id
"""


@demo("q_sim_lsh_buckets", sql=f"SELECT vec_id, bucket FROM ({_BUCKET_SQL})")
def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sign-LSH bucket assignment (8 deterministic hyperplanes → 256
    buckets) — the scale path that bounds the ANN join."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_assignments(
        e, planes=_PLANES, dims=_DIMS,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )


@demo(
    "q_sim_lsh_topk",
    sql=f"""
    WITH buckets AS ({_BUCKET_SQL}),
    joined AS (
        SELECT ba.bucket, a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine_sim
        FROM embeddings a
        JOIN buckets ba ON ba.vec_id = a.vec_id
        JOIN buckets bb ON bb.bucket = ba.bucket
        JOIN embeddings b ON b.vec_id = bb.vec_id AND a.vec_id <> b.vec_id
    )
    SELECT bucket, query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT bucket, query_id, neighbor_id, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
        FROM joined
    )
    WHERE rank <= 3
    """,
)
def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximate top-3: exact cosine ranking within each LSH bucket.

    Fixed ``planes=_PLANES`` is the oracle mode (the DuckDB twin hardcodes
    the same plane count). At scale, fixed planes are the measured
    quadratic cliff — 147.7x cost at 64x data vs 27.3x with
    ``planes=None, target_bucket_size=...`` (docs/SCALE.md §64x stretch);
    production callers size planes from the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        e, planes=_PLANES, dims=_DIMS, k=3,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )


_MAX_PLANES = 30  # derive_planes' clamp ceiling (operators/similarity.py)


def _planes_values_sql_upto(max_planes: int) -> str:
    rows = ", ".join(
        f"({p}, {d + 1}, {plane_sign(p, d)})"
        for p in range(max_planes)
        for d in range(_DIMS)
    )
    return f"(VALUES {rows}) planes(p, d, s)"


# Plane count derived from the corpus size INSIDE the SQL — the oracle
# must track the Spark side's derive_planes(count, 64) at every sf the
# driver runs, so the hyperplane VALUES table carries all 30 possible
# planes and the bucket fold keeps only p < np.
_DERIVED_BUCKET_SQL = f"""
pcount AS (
    SELECT GREATEST(1, LEAST({_MAX_PLANES},
        CAST(ceil(log2(GREATEST(count(*) / 64.0, 2.0))) AS INTEGER))) AS np
    FROM embeddings
),
buckets AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN proj > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
    FROM (
        SELECT e.vec_id, planes.p,
               sum(CAST(e.embedding[planes.d] AS DECIMAL(18,9)) * planes.s) AS proj
        FROM embeddings e
        CROSS JOIN {_planes_values_sql_upto(_MAX_PLANES)}
        CROSS JOIN pcount
        WHERE planes.p < pcount.np
        GROUP BY e.vec_id, planes.p
    )
    GROUP BY vec_id
)
"""


@demo(
    "q_sim_lsh_topk_derived",
    sql=f"""
    WITH {_DERIVED_BUCKET_SQL},
    joined AS (
        SELECT ba.bucket, a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine_sim
        FROM embeddings a
        JOIN buckets ba ON ba.vec_id = a.vec_id
        JOIN buckets bb ON bb.bucket = ba.bucket
        JOIN embeddings b ON b.vec_id = bb.vec_id AND a.vec_id <> b.vec_id
    )
    SELECT bucket, query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT bucket, query_id, neighbor_id, cosine_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
        FROM joined
    )
    WHERE rank <= 3
    """,
)
def q_sim_lsh_topk_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-3 in the SCALE mode: ``planes=None, target_bucket_size=64``
    — the plane count is ``derive_planes(count, 64)`` so per-bucket
    candidate work stays ~constant as the corpus grows (measured: 27.3x
    at 64x data vs the fixed-plane mode's 147.7x cliff, docs/SCALE.md
    §64x stretch). This demo puts the measured scale mode under the
    driver's oracle gate (r9 verdict #3): the DuckDB twin re-derives the
    SAME plane count from ``count(*)`` inside the SQL, so the bucket
    space tracks the corpus at every sf the driver runs. Equality of the
    derived and fixed modes at the derived plane count is pinned in
    tests/test_similarity_sizing.py."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        e, planes=None, dims=_DIMS, k=3, target_bucket_size=64,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )


def _ranked_fold_cte(cent_rel: str, out_name: str) -> str:
    """The fold-mirror assignment CTE, shared by `_IVF_ASSIGN_SQL`'s
    ``ranked`` (over ``cent``) and `_IVF_LLOYD_SQL`'s ``ranked1`` (over
    the refreshed ``cent1``) — ONE definition of the riskiest oracle
    arithmetic so the two cannot drift (the same factoring discipline
    as the Spark side's `_cents_array`; review r15). It mirrors the
    Spark `_fold_topk_cells` arithmetic (operators/similarity.py) —
    the map-only assignment that became the executed default at the
    round-15 flip: raw dot against the PRE-NORMALIZED centroid (not
    cosine — order-equal mathematics under DIFFERENT floating-point
    rounding, which is why the oracle mirrors the fold's formula
    instead of relying on equivalence; the r13 tie-corpus episode is
    the precedent), zero-norm centroids guarded to NULL scores and
    filtered BEFORE the rank (the fold never probes them), with the
    all-NULL fallback (``n_scorable = 0`` keeps every row; NULL-tied
    DESC + the cell ASC tie-break reproduces the fold's
    first-n_probe-cells slice). Parity pinned in
    tests/test_ivf_fold_oracles.py."""
    return f"""{out_name} AS (
        SELECT vec_id, v, vn, cell,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY fscore DESC, cell
               ) AS crank
        FROM (
            SELECT b.vec_id, b.v, b.vn, c.cell,
                   CASE WHEN c.cn = 0 THEN NULL
                        ELSE list_inner_product(
                                 b.v, list_transform(c.cv, x -> x / c.cn))
                   END AS fscore,
                   count(CASE WHEN c.cn = 0 THEN NULL ELSE 1 END)
                       OVER (PARTITION BY b.vec_id) AS n_scorable
            FROM base b CROSS JOIN {cent_rel} c
        )
        WHERE fscore IS NOT NULL OR n_scorable = 0
    )"""


_IVF_ASSIGN_SQL = """
    seeds AS (
        SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 8
    ),
    cent AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(sid AS VARCHAR)), sid) - 1 AS cell,
               cv, sqrt(list_inner_product(cv, cv)) AS cn
        FROM seeds
    ),
    base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS vn
        FROM embeddings
    ),
    REPLACE_RANKED
"""
_IVF_ASSIGN_SQL = _IVF_ASSIGN_SQL.replace(
    "REPLACE_RANKED", _ranked_fold_cte("cent", "ranked")
)


@demo(
    "q_sim_ivf_topk",
    sql=f"""
    WITH {_IVF_ASSIGN_SQL}
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               list_inner_product(q.v, d.v) / (q.vn * d.vn) AS cosine_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_inner_product(q.v, d.v) / (q.vn * d.vn) DESC,
                            d.vec_id ASC
               ) AS rank
        FROM (SELECT * FROM ranked WHERE crank <= 2) q
        JOIN (SELECT * FROM ranked WHERE crank = 1) d
          ON q.cell = d.cell AND q.vec_id != d.vec_id
    )
    WHERE rank <= 3
    """,
)
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: hash-seeded coarse centroids → MAP-ONLY nearest-cell
    assignment (the broadcast-array fold ``_fold_topk_cells`` — the
    executed default since the round-15 flip; zero per-vec_id rank
    windows, no n × K assignment exchange) → exact cosine top-3 within
    each query's 2 probe cells. The second ANN scale shape next to
    sign-LSH (cell-bounded candidates, map-only quantization). The
    oracle mirrors the fold arithmetic (see _IVF_ASSIGN_SQL's comment)."""
    e = load_table(spark, sf_dir, "embeddings")
    # the free catalog stat (parquet footer row count) picks the
    # assignment form — at gate scale nK stays far below the 16M-dot
    # knee, so the plan is the fold
    # (pinned: tests/test_assign_auto.py test_registered_ivf_demos_plan_the_fold)
    return ivf_topk(
        e, "vec_id", "embedding", n_centroids=8, n_probe=2, k=3,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )


# One Lloyd round, oracle-expressible: nearest-cell members per seed
# centroid → per-(cell, dim) mean as an exact DECIMAL(18,9) sum divided
# after the cast to double (order-independent, bit-equal across engines)
# → refreshed centroids (empty cells keep their seed) → same probe/topk.
#
# The Lloyd-round assignment (members) mirrors the Spark fold exactly
# (round 13, VERDICT r12 ask #1): raw dot against the PRE-NORMALIZED
# seed centroid (same argmax as cosine — 1/vn is a constant positive
# per-row scale), ties to the smallest cell — operators/similarity.py
# _fold_assign. Zero-norm-centroid guard (ADVICE r13, live since the
# round-15 flip): DuckDB evaluates x/0.0 (double) to NULL and
# list_inner_product RAISES on NULL elements, so the score is guarded
# to NULL (`CASE WHEN c.cn = 0`); NULLS LAST under the DESC rank then
# mirrors the fold's strict-> skip, and an all-NULL argmax falls to the
# smallest cell — the fold's INIT fallback. `ranked1` is the fold
# mirror over the refreshed centroids (same shape as _IVF_ASSIGN_SQL's
# `ranked`); `ranked` itself is unused here (it remains the probe/topk
# assignment shape for the lloyd_rounds=0 demos).
_IVF_LLOYD_SQL = f"""
    {_IVF_ASSIGN_SQL},
    members AS (
        SELECT cell, v FROM (
            SELECT b.v, c.cell,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY CASE WHEN c.cn = 0 THEN NULL
                                     ELSE list_inner_product(
                                              b.v,
                                              list_transform(c.cv, x -> x / c.cn))
                                END DESC, c.cell
                   ) AS lrank
            FROM base b CROSS JOIN cent c
        ) WHERE lrank = 1
    ),
    dims AS (
        SELECT cell, pos,
               CAST(sum(CAST(v[pos] AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS m
        FROM members CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
        GROUP BY cell, pos
    ),
    refined AS (SELECT cell, list(m ORDER BY pos) AS rcv FROM dims GROUP BY cell),
    cent1 AS (
        SELECT c.cell, coalesce(r.rcv, c.cv) AS cv,
               sqrt(list_inner_product(coalesce(r.rcv, c.cv), coalesce(r.rcv, c.cv))) AS cn
        FROM cent c LEFT JOIN refined r USING (cell)
    ),
    REPLACE_RANKED1
"""
_IVF_LLOYD_SQL = _IVF_LLOYD_SQL.replace(
    "REPLACE_RANKED1", _ranked_fold_cte("cent1", "ranked1")
)


@demo(
    "q_sim_ivf_lloyd_topk",
    sql=f"""
    WITH {_IVF_LLOYD_SQL}
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               list_inner_product(q.v, d.v) / (q.vn * d.vn) AS cosine_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_inner_product(q.v, d.v) / (q.vn * d.vn) DESC,
                            d.vec_id ASC
               ) AS rank
        FROM (SELECT * FROM ranked1 WHERE crank <= 2) q
        JOIN (SELECT * FROM ranked1 WHERE crank = 1) d
          ON q.cell = d.cell AND q.vec_id != d.vec_id
    )
    WHERE rank <= 3
    """,
)
def q_sim_ivf_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with ONE Lloyd refinement round: the hash-seeded
    centroids are tightened to the element-wise DECIMAL-exact mean of
    their members before the probe/topk — the recall-vs-cost knob that
    closes the "tighten cells at scale" promise (recall improvement
    pinned in tests/test_similarity_sizing.py). Both the Lloyd
    assignment and the probe assignment are the map-only broadcast
    fold (executed default since the round-15 flip); the oracle
    mirrors the fold arithmetic."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e, "vec_id", "embedding", n_centroids=8, n_probe=2, k=3,
        lloyd_rounds=1, n_rows=parquet_rows(sf_dir, "embeddings"),
    )


# IVF-PQ mirror: residual dims per assigned vector, per-subspace codebooks
# from the md5-draw seeds' own residuals, encode + ADC as exact
# DECIMAL(18,9) sums of squared diffs (ranking compares decimals, the
# emitted score narrows last — bit-identical to the Spark plan).
_IVF_PQ_SQL = f"""
    {_IVF_ASSIGN_SQL},
    rdim AS (
        SELECT a.vec_id, a.cell, pos, a.v[pos] - c.cv[pos] AS rx,
               CAST((pos - 1) // 16 AS INTEGER) AS s
        FROM (SELECT vec_id, cell, v FROM ranked WHERE crank = 1) a
        JOIN cent c USING (cell)
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
    ),
    codeids AS (
        SELECT vec_id AS sid2,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                   AS code
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ),
    codedim AS (
        SELECT s, code, pos, rx AS cx FROM rdim JOIN codeids ON vec_id = sid2
    ),
    enc AS (
        SELECT vec_id, cell, s, code FROM (
            SELECT r.vec_id, r.cell, r.s, c.code,
                   row_number() OVER (
                       PARTITION BY r.vec_id, r.s
                       ORDER BY sum(CAST((r.rx - c.cx) * (r.rx - c.cx) AS DECIMAL(18,9))),
                                c.code
                   ) AS rn
            FROM rdim r JOIN codedim c ON r.s = c.s AND r.pos = c.pos
            GROUP BY r.vec_id, r.cell, r.s, c.code
        ) WHERE rn = 1
    ),
    qrdim AS (
        SELECT q.vec_id AS query_id, q.cell AS qcell, pos,
               q.v[pos] - c.cv[pos] AS qrx,
               CAST((pos - 1) // 16 AS INTEGER) AS s
        FROM (SELECT vec_id, cell, v FROM ranked WHERE crank <= 2) q
        JOIN cent c USING (cell)
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
    ),
    adc AS (
        SELECT query_id, qcell, qr.s, c.code,
               sum(CAST((qr.qrx - c.cx) * (qr.qrx - c.cx) AS DECIMAL(18,9))) AS td
        FROM qrdim qr JOIN codedim c ON qr.s = c.s AND qr.pos = c.pos
        GROUP BY query_id, qcell, qr.s, c.code
    ),
    scored AS (
        SELECT a.query_id, e.vec_id AS neighbor_id, sum(a.td) AS d_exact
        FROM enc e
        JOIN adc a ON a.qcell = e.cell AND a.s = e.s AND a.code = e.code
                  AND a.query_id != e.vec_id
        GROUP BY a.query_id, e.vec_id
    )
"""


@demo(
    "q_sim_ivf_pq_topk",
    sql=f"""
    WITH {_IVF_PQ_SQL}
    SELECT query_id, neighbor_id,
           CAST(CAST(d_exact AS DECIMAL(18,9)) AS DOUBLE) AS approx_l2sq,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id, d_exact,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d_exact ASC, neighbor_id ASC) AS rank
        FROM scored
    )
    WHERE rank <= 3
    """,
)
def q_sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: coarse cells + product-quantized residuals (4
    subspaces x 16 codes) scored by asymmetric distance — the second
    quantization level for the regime where IVF-flat cells no longer fit
    an exact scan; encoded corpus is 4 small ints per vector. Executed
    default since the round-18 knee fix: the ARROW pipeline — the
    parquet-footer stat crosses the PQ-specific auto knee
    (n·m·ks ≥ _AUTO_ARROW_MIN_NMK_PQ) at every fleet scale, so both
    the coarse assignment and the encode/ADC run as vectorized numpy
    per Arrow batch (exact scale-9 integer mirrors of the DECIMAL
    folds — bit-equal, the oracle is untouched; measured 1.1-2.8×
    faster, see the knee constant's docstring). Zero data-side
    exchange in the assignment/encode/ADC stages either way."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        e, "vec_id", "embedding", n_centroids=8, m=4, ks=16, n_probe=2, k=3,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )


@demo(
    "q_sim_lsh_recall",
    sql=f"""
    WITH buckets AS ({_BUCKET_SQL}),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
            FROM embeddings a
            JOIN buckets ba ON ba.vec_id = a.vec_id
            JOIN buckets bb ON bb.bucket = ba.bucket
            JOIN embeddings b ON b.vec_id = bb.vec_id AND a.vec_id <> b.vec_id
            WHERE a.vec_id % 100 = 0
        ) WHERE rank <= 5
    ),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.vec_id % 100 = 0
        ) WHERE rank <= 5
    )
    SELECT query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(l.neighbor_id) * 20 AS BIGINT) AS recall_pct
    FROM brute b LEFT JOIN lsh l USING (query_id, neighbor_id)
    GROUP BY query_id
    """,
)
def q_sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation: recall@5 of the sign-LSH index against the exact
    brute-force ranking, per query — the metric that tunes the
    planes/recall trade-off before trusting an index at 100 TB. Both
    sides reuse the existing operators unchanged; the comparison is a
    tiny (queries × k)-row join, so evaluation cost is dominated by the
    ground-truth brute-force pass (run it on a sample, as here)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") % 100 == 0)
    brute = brute_force_topk(e, queries, k=5).select("query_id", "neighbor_id")
    lsh = (
        lsh_topk(
            e, planes=_PLANES, dims=_DIMS, k=5,
            n_rows=parquet_rows(sf_dir, "embeddings"),
        )
        .where(F.col("query_id") % 100 == 0)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        brute.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            (F.count("hit") * 20).alias("recall_pct"),
        )
    )


@demo(
    "q_sim_centroid_outliers",
    sql="""
    WITH ex AS (
        SELECT label, vec_id, i - 1 AS dim,
               CAST(floor(CAST(embedding[i] AS DECIMAL(18,9)) * 1000) AS BIGINT)
                   AS v_milli
        FROM embeddings,
             LATERAL unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    sums AS (
        SELECT label, dim,
               CAST(sum(v_milli) AS BIGINT) AS s_milli,
               count(*) AS n
        FROM ex GROUP BY label, dim
    ),
    dists AS (
        SELECT ex.label, ex.vec_id,
               CAST(sum((ex.v_milli * s.n - s.s_milli)
                        * (ex.v_milli * s.n - s.s_milli)) AS BIGINT) AS d2,
               CAST(max(s.n) AS BIGINT) AS n
        FROM ex JOIN sums s ON ex.label = s.label AND ex.dim = s.dim
        GROUP BY ex.label, ex.vec_id
    )
    SELECT label, n AS n_vecs, d2 AS outlier_d2, vec_id AS outlier_vec_id
    FROM (
        SELECT *, row_number() OVER (PARTITION BY label
                                     ORDER BY d2 DESC, vec_id DESC) AS rn
        FROM dists
    )
    WHERE rn = 1
    """,
)
def q_sim_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding diagnostics: per-label centroid and the vector farthest
    from it — the batch-quality check a pipeline runs before trusting a
    new embedding drop (a label whose outlier distance explodes signals
    mislabeled or corrupted vectors). Division-free exact contract:
    components quantize to milli-integers (floor of a DECIMAL product —
    identical on both engines), and the score is the scaled squared
    distance ``Σ_d (n·x_d − S_d)²`` which ranks identically to distance
    from the true mean without ever dividing. The centroid-sum relation
    is bounded by #labels × dims (640 rows) → broadcast back onto the
    exploded components, so the heavy side shuffles once for the
    (label, vec_id) reduce and once for the (label, dim) sums. Overflow
    envelope: |n·x_milli| ≤ n·2e3·... with 64 dims stays under int64 to
    ~10^5 vectors/label at unit-norm vectors; past that, re-quantize
    coarser or lift to DECIMAL(38,0)."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "label",
        "vec_id",
        "dim",
        F.floor(F.col("v").cast("decimal(18,9)") * 1000).cast("long").alias("v_milli"),
    )
    sums = ex.groupBy("label", "dim").agg(
        F.sum("v_milli").alias("s_milli"), F.count(F.lit(1)).alias("n")
    )
    joined = ex.join(F.broadcast(sums), ["label", "dim"])
    diff = F.col("v_milli") * F.col("n") - F.col("s_milli")
    dists = joined.groupBy("label", "vec_id").agg(
        F.sum(diff * diff).alias("d2"), F.max("n").alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(F.col("d2").desc(), F.col("vec_id").desc())
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            F.col("d2").alias("outlier_d2"),
            F.col("vec_id").alias("outlier_vec_id"),
        )
    )


@demo(
    "q_sim_int8_quantize",
    sql=f"""
    WITH dims AS (SELECT unnest(generate_series(1, {_DIMS})) AS d),
    flat AS (
        -- floor of the IEEE double product: CAST(FLOAT AS DECIMAL) is a
        -- minefield (DuckDB converts from single precision, Spark
        -- promotes to double; and decimal rounding is HALF_UP on Spark
        -- vs HALF_EVEN on DuckDB, which DIVERGES on the exact .5 ties
        -- dyadic values can hit - one appeared at sf0.1). Both engines
        -- compute the same double for v*1e9 and the same floor of it.
        SELECT e.vec_id, dims.d,
               CAST(floor(CAST(e.embedding[dims.d] AS DOUBLE) * 1000000000)
                    AS BIGINT) AS vi
        FROM embeddings e CROSS JOIN dims
    ),
    rng AS (
        SELECT d, min(vi) AS loi, max(vi) AS hii FROM flat GROUP BY d
    ),
    coded AS (
        -- degenerate calibration range (constant dimension, hii = loi)
        -- would divide by zero; both engines happen to NULL it out, but
        -- the contract is "code 0, zero error" — guard explicitly
        SELECT f.d, f.vi, r.loi, r.hii,
               CASE WHEN r.hii = r.loi THEN 0
                    ELSE ((f.vi - r.loi) * 255) // (r.hii - r.loi)
               END AS code
        FROM flat f JOIN rng r USING (d)
    ),
    recon AS (
        SELECT d, loi, hii, code,
               abs(vi - (loi + (code * (hii - loi)) // 255)) AS err
        FROM coded
    )
    SELECT CAST(d AS INTEGER) AS d,
           CAST(min(loi) AS BIGINT) AS lo_nano,
           CAST(min(hii) AS BIGINT) AS hi_nano,
           CAST(min(code) AS BIGINT) AS min_code,
           CAST(max(code) AS BIGINT) AS max_code,
           CAST(max(err) AS BIGINT) AS max_abs_err_nano,
           CAST(sum(err) AS BIGINT) AS sum_abs_err_nano,
           (max(err) <= (min(hii) - min(loi)) // 255 + 1) AS within_step
    FROM recon
    GROUP BY d
    """,
)
def q_sim_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding store: per-dimension
    min/max calibration, then ``code = (v - lo) * 255 div (hi - lo)`` —
    the 4x vector-compression step (float32 -> uint8) every 100 TB
    embedding deployment applies before ANN serving. All arithmetic runs
    on nano-scaled BIGINTs (the DECIMAL(18,9) parity device from the IVF
    family, then scaled integral), so codes, reconstruction errors, and
    the <= one-quantization-step error bound are bit-identical across
    engines — the oracle recomputes the whole codebook. Calibration is
    one partial-aggregated min/max pass; encoding is map-side against
    the broadcast per-dimension range table; nothing ever shuffles the
    vectors themselves."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        (F.posexplode("embedding")).alias("d0", "v"),
    ).select(
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("v").cast("double") * F.lit(1e9)).alias("vi"),
    )
    rng = flat.groupBy("d").agg(
        F.min("vi").alias("loi"), F.max("vi").alias("hii")
    )
    coded = flat.join(F.broadcast(rng), "d").select(
        "d",
        "vi",
        "loi",
        "hii",
        # constant dimension (hii = loi) → code 0, not NULL-by-div-zero
        F.expr(
            "CASE WHEN hii = loi THEN 0"
            " ELSE ((vi - loi) * 255) div (hii - loi) END"
        ).alias("code"),
    )
    recon = coded.select(
        "d",
        "loi",
        "hii",
        "code",
        F.expr("abs(vi - (loi + (code * (hii - loi)) div 255))").alias("err"),
    )
    return recon.groupBy("d").agg(
        F.min("loi").alias("lo_nano"),
        F.min("hii").alias("hi_nano"),
        F.min("code").alias("min_code"),
        F.max("code").alias("max_code"),
        F.max("err").alias("max_abs_err_nano"),
        F.sum("err").alias("sum_abs_err_nano"),
        (
            F.max("err") <= F.expr("(min(hii) - min(loi)) div 255 + 1")
        ).alias("within_step"),
    ).select(
        F.col("d").cast("int").alias("d"),
        "lo_nano",
        "hi_nano",
        "min_code",
        "max_code",
        "max_abs_err_nano",
        "sum_abs_err_nano",
        "within_step",
    )
