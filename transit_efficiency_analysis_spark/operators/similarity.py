"""Similarity search over embedding columns (north-star capability).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  One shuffle-free map over (query × corpus-partition) when the query set
  is broadcast; per-pair math is JVM array algebra.
- ``lsh_bucket_assignments`` + ``lsh_topk``: sign-LSH (random hyperplane)
  bucketing as the scale path — at 100 TB the bucket join replaces the
  full cross product with |bucket|-bounded joins, trading recall for a
  ~2^planes fan-in reduction. Hyperplanes are deterministic (md5-derived
  ±1 components) and projections are per-row integer folds over
  decimal(18,9)-quantized components (``lsh_bucket_expr``), so bucket ids
  are exact and reproducible across engines and partitionings — with zero
  shuffle in the assignment itself.

Every stage runs as JVM column algebra by default. The caller's row
count (``n_rows``, typically a free parquet-footer or catalog stat)
lets the engine pick a bit-equal Arrow/numpy twin for the assignment
stages once a measured knee is crossed; no caller picks a form.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.functions.exprcache import column_memo
from transit_efficiency_analysis_spark.functions.vectors import as_double, dot, norm
from transit_efficiency_analysis_spark.operators.parallel import (
    ensure_min_parallelism,
    spread_for_compute,
)


@column_memo
def _vd(name: str) -> Column:
    """Memoized ``as_double(F.col(name))`` (construction is dims py4j
    calls via the transform lambda; see ``functions.exprcache``)."""
    return as_double(F.col(name))


@column_memo
def _vn(name: str) -> Column:
    """Memoized ``norm(as_double(F.col(name)))``."""
    return norm(as_double(F.col(name)))


@column_memo
def _cv_norm_col() -> Column:
    """Memoized ``norm(F.col("cv")).alias("cn")`` — the centroid-norm
    fold shared by the IVF seed/pool relations."""
    return norm(F.col("cv")).alias("cn")


@column_memo
def _q_quantized(name: str) -> Column:
    """Memoized ``quantize_vec(F.col(name))``."""
    return quantize_vec(F.col(name))


@column_memo
def _q_projection_exprs(planes: int, dims: int) -> tuple[Column, ...]:
    """Memoized per-plane projection folds over the ``__q`` column — the
    planes × dims sign literals cost ~1 s of py4j construction per
    invocation at planes=8/dims=64 (measured)."""
    return tuple(lsh_projection_exprs(F.col("__q"), planes, dims))


@column_memo
def _q_bucket_expr(planes: int, dims: int) -> Column:
    """Memoized ``lsh_bucket_expr(F.col("__q"), planes, dims)``."""
    return lsh_bucket_expr(F.col("__q"), planes, dims)


@column_memo
def _q_bucket_and_flip(planes: int, dims: int) -> tuple[Column, Column]:
    """Memoized multiprobe (bucket, flip-plane) pair over ``__q``: the
    bucket fold plus the argmin-|projection| margin — lexicographic min
    over (|proj|, p) structs (exact longs, total order, index
    tiebreak)."""
    projs = _q_projection_exprs(planes, dims)
    bucket = F.lit(0).cast("long")
    for p, proj in enumerate(projs):
        bucket = bucket + F.when(
            proj > 0, F.lit(2**p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    margin = F.array_min(
        F.array(
            *[
                F.struct(
                    F.abs(projs[p]).alias("a"),
                    F.lit(p).cast("int").alias("p"),
                )
                for p in range(planes)
            ]
        )
    )["p"]
    return bucket, margin


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine_sim, rank). Self-matches are
    excluded. The query side is broadcast (queries ≪ corpus).
    """
    # single-small-file corpus inputs otherwise run the whole broadcast
    # join + per-pair cosine on one core (no-op at scale — see
    # operators.parallel)
    corpus = ensure_min_parallelism(corpus)
    # norms are projected on each side BEFORE the join → one norm fold per
    # row instead of one per pair (cosine(a,b) = dot/(|a||b|) exactly)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _vd(vec_col).alias("qv"),
        _vn(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _vd(vec_col).alias("cv"),
        _vn(vec_col).alias("cn"),
    )
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank"))
    )


def quantize_vec(vec_col: Column) -> Column:
    """The float vector as exact quantized longs: each component through
    the ``decimal(18,9)`` cast then shifted to an integer — ONE pass per
    row. All sign-LSH projections derive from this array, so the
    (allocation-heavy) decimal quantization runs ``dims`` times per row
    instead of ``planes × dims`` times; the per-plane folds that consume
    it are pure long arithmetic. Materialize it as a real column (one
    ``select``) before fanning out to per-plane expressions — referencing
    the transform inline would duplicate it per plane."""
    shift = F.lit(1_000_000_000).cast("decimal(19,0)")
    return F.transform(
        vec_col, lambda x: (x.cast("decimal(18,9)") * shift).cast("long")
    )


def lsh_bucket_expr(qvec_col: Column, planes: int = 8, dims: int = 64) -> Column:
    """Sign-LSH bucket id as a single map-only column expression over a
    ``quantize_vec`` long array.

    Per plane, the projection is a ``zip_with``/``aggregate`` fold of the
    quantized vector against the deterministic ±1 hyperplane
    (md5-derived, ``functions.vectors.plane_sign``) — pure ``long``
    arithmetic: exact, order-independent, and bit-identical to the
    DECIMAL group-sum oracle regardless of partitioning. No shuffle, no
    join, no exploded intermediate — at 100 TB this is embarrassingly
    parallel over the scan, which strictly dominates the
    explode→broadcast-join→two-shuffle shape it replaces (~4x faster
    even at bench scale).
    """
    bucket = F.lit(0).cast("long")
    for p, proj in enumerate(lsh_projection_exprs(qvec_col, planes, dims)):
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_projection_exprs(qvec_col: Column, planes: int = 8, dims: int = 64) -> list[Column]:
    """Per-plane signed projections over a ``quantize_vec`` long array —
    the building block shared by ``lsh_bucket_expr`` (signs → bucket id)
    and multi-probe LSH (|projection| = distance to the plane = flip
    margin). The fold is long-only (the decimal quantization already
    happened, once, in ``quantize_vec``)."""
    from transit_efficiency_analysis_spark.functions.vectors import plane_sign

    projs = []
    for p in range(planes):
        signs = F.array(*[F.lit(plane_sign(p, d)).cast("long") for d in range(dims)])
        projs.append(
            F.aggregate(
                F.zip_with(qvec_col, signs, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
        )
    return projs


def derive_planes(n_rows: int, target_bucket_size: int) -> int:
    """Hyperplane count that holds expected bucket size ≈ ``target``.

    With ``p`` planes there are 2^p buckets, so mean occupancy is n/2^p;
    solving for the target gives p = ceil(log2(n / target)). A fixed
    plane count is a scale cliff: at constant planes the bucket self-join does (n/2^p)² pairs per bucket — growing
    quadratically with the corpus — while deriving p from n keeps per-
    bucket work constant and total candidate volume ~linear in n.
    Clamped to [1, 30] (2^30 buckets ≫ any real corpus / target ratio).
    """
    import math

    return max(1, min(30, math.ceil(math.log2(max(n_rows / max(target_bucket_size, 1), 2.0)))))


def _lsh_sizing(
    df: DataFrame,
    planes: int | None,
    target_bucket_size: int | None,
    n_rows: int | None,
) -> tuple[int, str]:
    """Shared preamble of the three sign-LSH entry points
    (``lsh_bucket_assignments`` / ``lsh_topk`` / ``multiprobe_lsh_topk``):
    derive the plane count — paying at most ONE sizing count(), which
    then doubles as the knee's row statistic — and pick the projection
    form on the row×plane knee (:func:`_resolve_bucket_assign`).
    Returns ``(planes, form)``."""
    if target_bucket_size is not None:
        if n_rows is None:
            # the sizing count doubles as the knee's statistic — once
            # paid, never re-derived
            n_rows = df.count()
        planes = derive_planes(n_rows, target_bucket_size)
    if planes is None:
        raise ValueError("pass planes or target_bucket_size")
    return planes, _resolve_bucket_assign(n_rows, planes)


def lsh_bucket_assignments(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | None = 8,
    dims: int = 64,
    target_bucket_size: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """(vec_id, bucket) sign-LSH assignments — one map-only projection
    (``lsh_bucket_expr``); same math as
    ``functions.vectors.hyperplane_sign_bucket``.

    The row count picks the physical form of the projection stage: the
    JVM expression folds, or — once ``n_rows`` (or the sizing count)
    puts the corpus past the measured row×plane knee — the bit-equal
    int64-matmul twin (:func:`_arrow_lsh_base`, bucket-only mode: no
    vectors cross the Arrow boundary). See
    :func:`_resolve_bucket_assign`.

    Pass ``target_bucket_size`` (with ``planes=None``) to size the bucket
    space from the corpus: ``planes = derive_planes(df.count(), target)``.
    That costs one count() action at plan-construction time — O(scan) with
    no shuffle, negligible against the pipeline it parameterizes — and is
    the 100 TB mode: bucket fan-in then tracks corpus growth instead of
    being a constant 2^8. When a table catalog already knows the row
    count, pass it as ``n_rows`` and no action runs (the
    cached-statistics path)."""
    planes, form = _lsh_sizing(df, planes, target_bucket_size, n_rows)
    # same single-small-file parallelism guard as lsh_topk: assignment
    # is map-only, so the scan's partitioning IS its parallelism; the
    # guard only fires in the small-input regime
    df = ensure_min_parallelism(df)
    if form == "arrow":
        return _arrow_lsh_base(
            df, id_col, vec_col, planes, dims, emit_vectors=False
        )
    return df.select(
        F.col(id_col).alias("vec_id"),
        _q_quantized(vec_col).alias("__q"),
    ).select(
        "vec_id",
        _q_bucket_expr(planes, dims).alias("bucket"),
    )


def _arrow_lsh_base(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int,
    dims: int,
    with_flip: bool = False,
    emit_vectors: bool = True,
) -> DataFrame:
    """(vec_id, v, vn, bucket): the Arrow twin of ``lsh_topk``'s base
    projection, picked past the row×plane knee
    (:func:`_resolve_bucket_assign`). The DECIMAL quantization stays
    JVM-side (``quantize_vec`` — exact,
    codegen'd, one pass); the twin replaces only the ``planes``
    interpreted long folds per row with ONE exact int64 matmul per
    Arrow batch against the ±1 sign matrix (``plane_sign`` — the same
    md5-derived constants the expression form folds in).

    BIT-EQUAL by arithmetic, not by luck: every input is already an
    exact integer, integer addition is associative, so the matmul's
    order cannot flip a sign the way a float64 re-sum could — the
    exact property the DECIMAL quantization exists to protect. Guards
    (validate, don't guess): NULL quantized components raise (the fold
    NULL-propagates a plane's projection and contributes a 0 bit —
    silently bucketing dirty vectors at 0), wrong-width vectors raise
    (the fold's zip_with NULL-pads to the same 0-bucket), and a
    component magnitude that could overflow the int64 dot raises
    (Spark's ANSI long arithmetic would throw there too).

    ``with_flip=True`` additionally emits multiprobe's flip plane — the
    argmin of (|projection|, plane) — as an int column. numpy's
    first-occurrence ``argmin`` over plane-ascending columns IS the
    fold's lexicographic ``array_min`` over (|a|, p) structs, and the
    margins are exact integers, so probe choice is bit-equal too.

    ``emit_vectors=False`` is ``lsh_bucket_assignments``'s mode: only
    (vec_id, bucket) flow through the Python worker — the double
    vectors and norms are never computed or Arrow-shipped (column
    pruning cannot reach inside a mapInArrow body, so the pruning is
    done here, at the projection the UDF consumes)."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from transit_efficiency_analysis_spark.functions.vectors import plane_sign

    if planes > 62:
        # 2^63 overflows the long bucket id — the expression form fails
        # loudly under ANSI arithmetic there; numpy would wrap silently
        # (derive_planes clamps to 30, so only an explicit caller hits
        # this)
        raise ValueError(
            f"arrow lsh: planes={planes} overflows the long bucket id "
            "(max 62)"
        )
    smat = np.asarray(
        [[plane_sign(p, d) for p in range(planes)] for d in range(dims)],
        dtype=np.int64,
    )  # (dims, planes)
    weights = (np.int64(1) << np.arange(planes, dtype=np.int64))
    limit = (2**63 - 1) // max(dims, 1)

    from pyspark.sql.types import IntegerType

    out_fields = (
        [StructField("vec_id", df.schema[id_col].dataType)]
        + (
            [
                StructField("v", ArrayType(DoubleType())),
                StructField("vn", DoubleType()),
            ]
            if emit_vectors
            else []
        )
        + [StructField("bucket", LongType())]
        + ([StructField("flip", IntegerType())] if with_flip else [])
    )
    out_schema = StructType(out_fields)
    n_passthrough = 3 if emit_vectors else 1

    # the same call worked below the knee (the expression form
    # zero-buckets dirty rows), so a rejection says why this form was
    # picked and how to keep the other one — otherwise it would look
    # like a regression with no visible cause as the corpus grows
    hint = (
        " [the int64-matmul form was picked because the row count crossed"
        " the row-plane knee; call without n_rows or target_bucket_size,"
        " passing planes explicitly (derive_planes gives the derived"
        " count), to keep the zero-bucket expression form, or clean the"
        " corpus first]"
    )

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            q = batch.column(n_passthrough)
            # flatten() is slice-aware; .values is the UNSLICED child
            # (it would count NULLs outside a sliced batch)
            if q.null_count or q.flatten().null_count:
                raise ValueError(
                    "arrow lsh: NULL vector components are not supported"
                    " — the expression form buckets them at 0" + hint
                )
            offs = q.offsets.to_numpy()
            widths = np.diff(offs)
            if len(widths) and (widths != dims).any():
                raise ValueError(
                    f"arrow lsh: vector dims {int(widths.min())}.."
                    f"{int(widths.max())} != declared dims {dims} (the "
                    "expression form zero-buckets these)" + hint
                )
            qm = q.flatten().to_numpy().reshape(n, dims)
            if qm.size and int(np.abs(qm).max()) > limit:
                raise ValueError(
                    "arrow lsh: quantized component magnitude overflows "
                    "the exact int64 projection (ANSI long arithmetic "
                    "fails these too)"
                )
            proj = qm @ smat  # exact: int64 inputs, bounded by `limit`
            bucket = ((proj > 0) * weights).sum(axis=1)
            arrays = [batch.column(i) for i in range(n_passthrough)] + [
                pa.array(bucket.astype(np.int64)),
            ]
            if with_flip:
                flip = np.argmin(np.abs(proj), axis=1)
                arrays.append(pa.array(flip.astype(np.int32)))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in out_fields]
            )

    prepared = df.select(
        F.col(id_col).alias("vec_id"),
        *(
            [
                _vd(vec_col).alias("v"),
                _vn(vec_col).alias("vn"),
            ]
            if emit_vectors
            else []
        ),
        quantize_vec(F.col(vec_col)).alias("__q"),
    )
    return prepared.mapInArrow(run, out_schema)


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | None = 8,
    dims: int = 64,
    k: int = 3,
    max_bucket_size: int | None = None,
    target_bucket_size: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking *within* each LSH bucket.

    Buckets are computed inline in the base projection (map-only,
    ``lsh_bucket_expr``) — the only shuffle in the whole plan is the
    bucket-keyed candidate join.

    ``target_bucket_size`` (with ``planes=None``) derives the plane count
    from the corpus size (``derive_planes``) so candidate volume stays
    ~linear as the corpus grows; the fixed default ``planes=8`` is the
    demo/oracle mode. ``max_bucket_size`` is the orthogonal *storm* guard
    (tail buckets far above the mean).

    ``max_bucket_size`` caps the *neighbor* side of each bucket to a
    deterministic md5-ordered sample (``operators.buckets.cap_buckets``)
    before the join — the storm guard for sign-pattern collapse (every
    vector landing in one bucket → |bucket|² pairs). Queries are never
    dropped: each still ranks top-k, over at most ``max_bucket_size``
    candidates per bucket. None disables the cap (exact within-bucket
    semantics — the oracle-checked mode). ``n_rows`` is the
    cached-statistics path: when the catalog knows the corpus size,
    sizing runs with no count() action — and the same statistic picks
    the projection form on the row×plane knee
    (:func:`_resolve_bucket_assign`; without one the expression form
    runs)."""
    planes, form = _lsh_sizing(df, planes, target_bucket_size, n_rows)
    # single-small-file inputs otherwise drag the whole pipeline onto
    # one core: the bucket join broadcasts at that scale, so the scan's
    # inherited partitioning IS the parallelism of the quantize/fold
    # projection AND the per-pair cosine ranking (measured 2.7 s →
    # sub-second at sf0.1/local[32]; the guard is a no-op on any input
    # with splits ≥ cores, see its docstring)
    df = ensure_min_parallelism(df)
    # the base projection's PHYSICAL form: past the row×plane knee
    # _arrow_lsh_base computes bucket ids with one exact int64 matmul
    # instead of `planes` interpreted long folds. Everything downstream
    # (cap, candidate join, exact cosine rank) is identical, and bucket
    # ids are bit-equal by integer associativity.
    if form == "arrow":
        base = _arrow_lsh_base(df, id_col, vec_col, planes, dims)
    else:
        base = df.select(
            F.col(id_col).alias("vec_id"),
            _vd(vec_col).alias("v"),
            _vn(vec_col).alias("vn"),
            _q_quantized(vec_col).alias("__q"),
        ).select(
            "vec_id",
            "v",
            "vn",
            _q_bucket_expr(planes, dims).alias("bucket"),
        )
    a = base.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("vn").alias("qn"), "bucket"
    )
    nbr = base
    if max_bucket_size is not None:
        from transit_efficiency_analysis_spark.operators.buckets import cap_buckets

        nbr = cap_buckets(
            base.select("vec_id", "v", "vn", "bucket"), ["bucket"], "vec_id", max_bucket_size
        )
    b = nbr.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("vn").alias("cn"), "bucket"
    )
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.join(b, ["bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("bucket", "query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "bucket",
            "query_id",
            "neighbor_id",
            "cosine_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def multiprobe_lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int | None = 8,
    dims: int = 64,
    k: int = 3,
    target_bucket_size: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Multi-probe sign-LSH top-k (Lv et al.): each query probes its own
    bucket AND the bucket reached by flipping the plane it is closest to
    (the smallest |projection| — the sign most likely to disagree for a
    true near neighbor). Recall rises toward 2x the candidate coverage of
    ``lsh_topk`` WITHOUT adding planes or shrinking buckets — the classic
    trade of 2x query-side join rows (still signatures, not vectors) for
    recall, while the corpus side stays single-bucket so every candidate
    pair arises exactly once (no dedup stage needed).

    Projections reuse the exact quantized-long folds of the bucket
    assignment (``lsh_projection_exprs``) — map-only, deterministic, and
    the flip margin is the exact integer |projection|, so probe choice is
    bit-reproducible across engines and partitionings.

    ``target_bucket_size`` (with ``planes=None``) derives the plane count
    from the corpus size exactly as in ``lsh_topk`` — the scale mode that
    avoids the measured fixed-plane cliff (docs/SCALE.md §64x stretch);
    ``n_rows`` is the cached-statistics path that skips the sizing
    count() when a catalog already knows the corpus size — and picks
    the projection form on the row×plane knee
    (:func:`_resolve_bucket_assign`).

    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    planes, form = _lsh_sizing(df, planes, target_bucket_size, n_rows)
    # same single-small-file parallelism guard as lsh_topk
    df = ensure_min_parallelism(df)
    # 2^flip is exact in double for flip < 2^53's range (planes <= 30)
    probe = F.col("bucket").bitwiseXOR(F.pow(F.lit(2.0), F.col("flip")).cast("long"))
    # past the knee, bucket AND flip plane come from the int64-matmul
    # twin — margins are exact integers and numpy's first-occurrence
    # argmin is the fold's (|a|, p) lexicographic min, so probe choice
    # is bit-equal. The per-plane fold expressions are built ONLY on
    # the expression branch — planes × dims literal sign constants are
    # dead work on the arrow path.
    if form == "arrow":
        base = _arrow_lsh_base(
            df, id_col, vec_col, planes, dims, with_flip=True
        )
    else:
        bucket, margin = _q_bucket_and_flip(planes, dims)
        base = df.select(
            F.col(id_col).alias("vec_id"),
            _vd(vec_col).alias("v"),
            _vn(vec_col).alias("vn"),
            _q_quantized(vec_col).alias("__q"),
        ).select(
            "vec_id",
            "v",
            "vn",
            bucket.alias("bucket"),
            margin.alias("flip"),
        )
    q0 = base.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("vn").alias("qn"), "bucket"
    )
    q1 = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
        probe.alias("bucket"),
    )
    # probe bucket always differs from the home bucket (one bit flipped)
    # and the corpus side holds one bucket per vector, so the union adds
    # candidates without ever duplicating a (query, neighbor) pair
    a = q0.unionByName(q1)
    b = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("vn").alias("cn"), "bucket"
    )
    sim = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.join(b, ["bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
        )
    )


def _const_key(df: DataFrame, id_col: str, alias: str):
    """Constant-by-construction, non-foldable window partition key over
    the aliased id column: INTEGRAL ids keep the original
    ``pmod(id, 1)`` expression VERBATIM (always 0; Catalyst keeps the
    partition spec because the column is non-foldable), while every
    other id type — string document keys are routine in dedup/ANN
    corpora, and fractional ids (double/decimal) make ``pmod(id, 1)``
    NON-constant (pmod(2.5, 1) = 0.5), which would split the
    single-partition seed window and collide the row_number-derived
    cell/code ids — goes through
    ``pmod(length(cast(id as string)), 1)`` (always 0 for any type
    with a string form). An unconditional ``pmod(id, 1)`` would
    ANSI-cast string ids to BIGINT and crash both assignment forms at
    the seeding stage."""
    from pyspark.sql.types import IntegralType

    if isinstance(df.schema[id_col].dataType, IntegralType):
        return F.pmod(F.col(alias), F.lit(1))
    return F.pmod(F.length(F.col(alias).cast("string")), F.lit(1))


def ivf_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    lloyd_rounds: int = 0,
    n_rows: int | None = None,
) -> DataFrame:
    """Coarse centroids for IVF. Returns (cell, cv, cn).

    Iteration 0 is hash-seeded: the ``n_centroids`` vectors with the
    smallest ``md5(id)`` (a deterministic, engine-portable "random" draw
    — the k-means|| substitute that keeps the oracle SQL-expressible).
    ``orderBy().limit(n)`` plans as a distributed take-ordered
    (per-partition top-n + merge), never a global sort.

    ``lloyd_rounds`` then tightens cells: each round broadcast-assigns
    every vector to its nearest centroid (cosine) and recomputes each
    centroid as the element-wise mean of its members. Means are computed
    as exact DECIMAL(18,9) sums divided after a cast to double, so the
    result is order-independent and bit-identical to the SQL oracle
    regardless of partitioning (the same parity discipline as the LSH
    projections). A cell that captures no vectors keeps its previous
    centroid. One round is one broadcast join + one (cell, dim) agg —
    at 100 TB each round costs about one corpus scan, the classic
    recall-vs-cost knob (demo pins one round; more rounds converge
    further but the seeds already place cells on real data points).

    ``n_rows`` (the caller's catalog row count) picks the per-round
    nearest-cell form on the measured nK crossover
    (:func:`_resolve_assign` — the per-round assignment is the same
    n × K corpus-vs-broadcast shape as the final one): the
    oracle-mirrored fold below it or without it, the bit-equal
    vectorized twin (see :func:`_arrow_topk_cells`) past it.
    :func:`ivf_topk` and :func:`semantic_dedup` pass their own
    ``n_rows`` through, so their Lloyd rounds and final assignment run
    the same form.
    """
    form = _resolve_assign(n_rows, n_centroids)
    seeds = (
        df.select(F.col(id_col).alias("sid"), _vd(vec_col).alias("cv"))
        .orderBy(F.md5(F.col("sid").cast("string")), F.col("sid"))
        .limit(n_centroids)
    )
    # constant-by-construction partition key (sid % 1 == 0 for every row,
    # but non-foldable so Catalyst keeps the partition spec): the window
    # runs over exactly n_centroids rows post-limit — a deliberate tiny
    # single-partition sort, not an accidental global window
    w = Window.partitionBy(_const_key(df, id_col, "sid")).orderBy(
        F.md5(F.col("sid").cast("string")), F.col("sid")
    )
    cents = seeds.select(
        (F.row_number().over(w) - 1).alias("cell"),
        F.col("cv"),
        _cv_norm_col(),
    )
    base = df.select(
        F.col(id_col).alias("vec_id"),
        _vd(vec_col).alias("v"),
        _vn(vec_col).alias("vn"),
    )
    if lloyd_rounds:
        # the per-round O(n x K) assignment compute deserves the same
        # small-input parallelism guard as the final assignment (a
        # single-split input would run every round on one core; no-op
        # on split-rich inputs)
        base = ensure_min_parallelism(base)
    for _ in range(lloyd_rounds):
        cents = _lloyd_round(base, cents, assign=form)
        if form == "arrow":
            # truncate lineage with a driver-side K-row materialization
            # (the same bounded payload the arrow assign collects
            # anyway): otherwise each later round's plan-time collect
            # re-executes the ENTIRE prior-round chain — O(R^2) corpus
            # passes at R rounds
            cents = base.sparkSession.createDataFrame(
                cents.collect(), cents.schema
            )
    return cents


def _argmax_cell(
    arr: Column, cell_f: str, vec_f: str, v_col: str = "v"
) -> Column:
    """Nearest-cell id as a per-row aggregate fold over a broadcast
    array of (cell, pre-normalized centroid) structs — the map-only
    assignment shared by :func:`semantic_dedup`,
    :func:`semantic_dedup_hier` and :func:`_lloyd_round` — no n × K
    data-proportional assignment exchange anywhere.

    ``arr`` must be sorted by the leading cell id, and the fold replaces
    only on STRICTLY greater score, so ties keep the smallest cell id —
    the same tie-break the rank window (score DESC, cell ASC) produced;
    the DuckDB oracles mirror it exactly. The score is the raw
    ``dot(v, cvu)`` against the PRE-NORMALIZED centroid: argmax over it
    equals argmax over cosine because 1/|v| is a constant positive
    per-row scale, and it keeps the division/norm-multiply out of the
    fold's interpreted inner loop (higher-order functions skip
    whole-stage codegen — measured ~2.2x on the hier assignment
    stage). The all-NULL-candidates fallback (every centroid zero-norm
    → NULL dots, which strict > skips) is the INIT value — the group's
    smallest cell id — not a post-fold ``when``: referencing the folded
    column twice re-evaluates the whole aggregate (no common-
    subexpression elimination for interpreted lambdas; measured 2x at
    64x). A zero-norm VECTOR scores 0.0 against every centroid, ties
    to the smallest scanned cell, and flows through (never dropped).
    ``v_col`` names the caller-side vector column the fold scores
    against (default ``"v"``)."""
    init = F.struct(
        F.lit(float("-inf")).alias("s"),
        F.element_at(arr, 1)[cell_f].cast("long").alias("c"),
    )

    def merge(acc: Column, e: Column) -> Column:
        d = dot(F.col(v_col), e[vec_f])
        return F.when(
            d > acc["s"],
            F.struct(d.alias("s"), e[cell_f].cast("long").alias("c")),
        ).otherwise(acc)

    return F.aggregate(arr, init, merge)["c"]


@column_memo
def _cents_array_cols() -> tuple[Column, Column]:
    """Memoized constant columns of :func:`_cents_array` (construction
    is py4j round-trips repeated identically per invocation — see
    ``functions.exprcache``)."""
    return (
        F.transform("cv", lambda x: F.try_divide(x, F.col("cn"))).alias(
            "cvu"
        ),
        F.sort_array(F.collect_list(F.struct("cell", "cvu"))).alias("ca"),
    )


def _cents_array(cents: DataFrame) -> DataFrame:
    """ONE broadcast-able row ``ca``: the (cell, pre-normalized
    centroid) structs sorted by the leading cell id — the shared recipe
    BOTH fold forms' correctness rests on (the sort drives the
    smallest-cell tie-break; ``try_divide`` drives the zero-norm
    NULL-skip), factored out so :func:`_fold_assign` and
    :func:`_fold_topk_cells` cannot drift apart."""
    cvu, ca = _cents_array_cols()
    return cents.select("cell", cvu).agg(ca)


def _fold_assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, vn, cell): every vector of ``base`` assigned to its
    nearest centroid of ``cents`` (cell, cv, cn) — MAP-ONLY. The K
    centroids ride along as ONE broadcast array-of-structs row
    (pre-normalized once on the tiny centroid relation; ``try_divide``
    so a zero-norm centroid yields NULL components instead of throwing
    under ANSI mode) and :func:`_argmax_cell` computes the argmax in
    place. Zero exchanges touch the data side — no n × K row fan-out,
    no per-vec_id rank window (plan-pinned in
    tests/test_round13_fixes.py)."""
    arr = _cents_array(cents)
    return base.crossJoin(F.broadcast(arr)).select(
        "vec_id",
        "v",
        "vn",
        _argmax_cell(F.col("ca"), "cell", "cvu").alias("cell"),
    )


def _l2sq_decimal(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two equal-length double arrays
    as a DECIMAL(28,9) fold: each per-dimension squared diff casts to
    DECIMAL(18,9) first, then accumulates exactly — bit-equal to a
    ``SUM(sqdiff)`` groupBy over the same narrowed diffs under any
    evaluation order, which is the property that lets the fold-form PQ
    encode/ADC run per row without disturbing a single rank. The
    re-cast per step keeps the accumulator type fixed (decimal addition
    widens), the ``hyperplane_sign_bucket`` precedent.

    Ragged inputs FAIL LOUDLY: ``zip_with`` NULL-pads the shorter
    array, which would propagate NULL through the fold where an
    ``(s, pos)`` equi-join sums over the intersection, so a
    per-row-ragged corpus would silently diverge from that reading.
    Matching the stated ragged-dims philosophy (validate, don't guess),
    unequal slice lengths raise at execution; NULL arrays stay
    NULL-in-NULL-out."""
    fold = F.aggregate(
        F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast("decimal(18,9)")),
        F.lit(0).cast("decimal(28,9)"),
        lambda acc, x: (acc + x).cast("decimal(28,9)"),
    )
    return (
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("decimal(28,9)"))
        .when(F.size(a) == F.size(b), fold)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("_l2sq_decimal: ragged slice lengths ("),
                    F.size(a).cast("string"),
                    F.lit(" vs "),
                    F.size(b).cast("string"),
                    F.lit(
                        ") — fold mode requires uniform per-row dims; "
                        "zip_with would NULL-pad where the join form "
                        "sums over the (s,pos) intersection"
                    ),
                )
            )
        )
    )


@column_memo
def _fold_topk_exprs(n_probe: int) -> tuple[Column, Column]:
    """Memoized constant trees of :func:`_fold_topk_cells` — the scored
    top-``n_probe`` slice and the all-NULL fallback. Pure functions of
    ``n_probe`` over the fixed ``ca``/``v`` column names; construction
    measured ~0.6 s of py4j per invocation at sf0.1."""

    def cmp(left: Column, right: Column) -> Column:
        return (
            F.when(left["s"] > right["s"], F.lit(-1))
            .when(left["s"] < right["s"], F.lit(1))
            .when(left["c"] < right["c"], F.lit(-1))
            .when(left["c"] > right["c"], F.lit(1))
            .otherwise(F.lit(0))
        )

    scored = F.slice(
        F.array_sort(
            F.filter(
                F.transform(
                    F.col("ca"),
                    lambda e: F.struct(
                        dot(F.col("v"), e["cvu"]).alias("s"),
                        e["cell"].cast("long").alias("c"),
                    ),
                ),
                lambda x: x["s"].isNotNull(),
            ),
            cmp,
        ),
        1,
        n_probe,
    )
    fallback = F.transform(
        F.slice(F.col("ca"), 1, n_probe),
        lambda e: F.struct(
            F.lit(None).cast("double").alias("s"),
            e["cell"].cast("long").alias("c"),
        ),
    )
    return scored, fallback


def _fold_topk_cells(base: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """(vec_id, v, vn, cell, crank): each vector's top-``n_probe``
    nearest cells, MAP-ONLY — the relation :func:`ivf_topk`'s
    ``ranked.where(crank <= n_probe)`` consumers read (the fold form,
    picked below the nK knee and whenever no ``n_rows`` is given).

    Per row: one ``transform`` over the K pre-normalized centroid
    structs (the same raw-dot scoring as :func:`_argmax_cell` — the
    FULL ordering equals cosine's, not just the argmax, because 1/|v|
    is a constant positive per-row scale), one K log K ``array_sort``
    with the rank comparator (score DESC, cell ASC), one ``slice`` — no
    n × K row exchange. NULL scores (zero-norm centroids) are filtered
    BEFORE the sort, so a zero-norm centroid is never probed (tested in
    tests/test_round13_fixes.py). If EVERY score is NULL (all centroids
    zero-norm, or a zero-norm query against them) the fallback probes
    the ``n_probe`` smallest cell ids.
    """
    arr = _cents_array(cents)
    scored, fallback = _fold_topk_exprs(n_probe)
    staged = base.crossJoin(F.broadcast(arr)).select(
        "vec_id", "v", "vn", "ca", scored.alias("__top")
    )
    # __top is referenced twice below, but it is ALIASED in its own
    # projection first: CollapseProject declines to inline a non-cheap
    # producer expression with multiple consumers, so the score/sort
    # pipeline runs ONCE per row. (The double-eval trap is the same
    # expression WRITTEN OUT twice inside one projection — that form
    # gets no common-subexpression elimination for interpreted
    # lambdas. The distinction is pinned by the same-session A/B in
    # docs/SCALE.md.)
    padded = F.when(F.size("__top") == 0, fallback).otherwise(F.col("__top"))
    return staged.select(
        "vec_id", "v", "vn", F.posexplode(padded).alias("pos", "tc")
    ).select(
        "vec_id",
        "v",
        "vn",
        F.col("tc")["c"].alias("cell"),
        (F.col("pos") + 1).cast("int").alias("crank"),
    )


def _arrow_topk_cells(base: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """(vec_id, v, vn, cell, crank): the Arrow/BLAS twin of
    :func:`_fold_topk_cells` — same contract, same MAP-ONLY shape
    (centroids broadcast, zero data-side exchange), but the n × K
    raw-dot scoring runs as a vectorized numpy loop per Arrow batch
    inside ``mapInPandas`` instead of K interpreted higher-order-
    function evaluations per row. :func:`_resolve_assign` picks it
    when the caller's ``n_rows`` puts the assignment past the measured
    nK crossover — safe under the fold-mirrored oracles precisely
    because of the bit-identity contract below. At 16x/K=500 the
    fold's wall is
    ~entirely interpreted expression overhead — (32k × 500) 64-dim
    dots are ~1 GFLOP, a moment of vectorized arithmetic — so this is
    the compute escape for the large-K regime the SemDeDup
    COMPUTE-envelope paragraph flags.

    BIT-IDENTICAL BY CONSTRUCTION on finite inputs (NULL-component /
    ragged / non-finite vectors raise — Spark's NaN-greatest ordering
    has no cheap numpy mirror, so non-finite is out of contract rather
    than silently divergent), not merely parity-tested: the score
    is computed as the same IEEE operation sequence as the fold's
    ``dot`` (:mod:`functions.vectors` — zip_with product then
    sequential left fold, init 0.0): ``S += V[:, i] * C[:, i]`` one
    dimension at a time, so every (row, cell) score performs product-
    round then add-round left-to-right over dims — NOT a BLAS matmul,
    whose pairwise summation could differ in the last ulp and flip a
    near-tie (measured cost of the sequential form vs matmul: small
    against the 10x+ win over the interpreted fold; the exactness is
    what lets the knee pick this form under the fold-mirrored
    oracles).

    Semantics mirrored from the fold: centroids pre-normalized once
    (cv/cn), a zero-norm centroid is never scored (excluded up front —
    the fold's NULL-filter), ranking is score DESC then cell ASC
    (stable argsort over ascending-cell columns), and if NO centroid
    is scorable every vector probes the ``n_probe`` smallest cell ids
    (the fold's fallback slice). One deliberate divergence: a NULL or
    ragged vector raises inside the batch (the zero-copy reshape
    validates offsets) where the fold would emit NULL scores —
    validate, don't guess.

    Behavioral note vs the fold: constructing this relation runs ONE
    Spark job at plan time (``cents.collect()`` — K rows, the same
    bounded payload the fold broadcasts as an array; numpy needs it
    driver-side to build the matrix), where the fold is fully lazy.
    Callers that build the plan without executing it pay that job.
    """
    import numpy as np

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    rows = sorted(
        cents.select("cell", "cv", "cn").collect(), key=lambda r: r.cell
    )
    cells, mats = [], []
    for r in rows:
        if r.cn != 0:
            cells.append(int(r.cell))
            mats.append(np.asarray(r.cv, dtype=np.float64) / np.float64(r.cn))
    cmat = np.stack(mats, axis=0) if mats else np.zeros((0, 0))
    if cmat.size and not np.isfinite(cmat).all():
        raise ValueError(
            "arrow assignment: non-finite centroid components are not "
            "supported (see _list_matrix's NaN-ordering note)"
            + _FOLD_ESCAPE
        )
    cell_ids = np.asarray(cells, dtype=np.int64)
    fallback = [int(r.cell) for r in rows[:n_probe]]
    bc = base.sparkSession.sparkContext.broadcast((cmat, cell_ids, fallback))

    schema = StructType(
        list(base.schema.fields)
        + [StructField("cell", LongType()), StructField("crank", IntegerType())]
    )
    in_cols = [f.name for f in base.schema.fields]

    def score_batches(batches):
        import numpy as np
        import pyarrow as pa

        cm, cid, fb = bc.value
        k_take = min(n_probe, cm.shape[0])
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            rep = k_take or len(fb)
            taken = batch.take(
                pa.array(np.repeat(np.arange(n, dtype=np.int64), rep))
            )
            if k_take:
                vm = _list_matrix(
                    batch.column(batch.schema.get_field_index("v"))
                )
                scores = _seq_scores(vm, cm)
                # stable argsort on -scores: ties keep ascending column
                # order == ascending cell id (cm/cid are cell-sorted) —
                # exactly the fold's (score DESC, cell ASC) comparator
                idx = np.argsort(-scores, axis=1, kind="stable")[:, :k_take]
                cells = cid[idx].reshape(-1)
                cranks = np.tile(np.arange(1, k_take + 1, dtype=np.int32), n)
            else:
                # no scorable centroid anywhere: the fold's fallback —
                # every vector probes the n_probe smallest cell ids
                cells = np.tile(np.asarray(fb, dtype=np.int64), n)
                cranks = np.tile(np.arange(1, len(fb) + 1, dtype=np.int32), n)
            yield pa.RecordBatch.from_arrays(
                [taken.column(taken.schema.get_field_index(c)) for c in in_cols]
                + [pa.array(cells, pa.int64()), pa.array(cranks, pa.int32())],
                names=in_cols + ["cell", "crank"],
            )

    return base.mapInArrow(score_batches, schema)


#: Appended to every arrow-twin input-validation error so an operator
#: hitting one in production sees the immediate workaround: the fold
#: form accepts the same dirty inputs by NULL-propagating them, and the
#: engine picks the twin only from a row count past the knee.
_FOLD_ESCAPE = (
    " — the arrow form was picked because the row count crossed its "
    "knee; call without n_rows or target_cell_size, passing "
    "n_centroids explicitly, to get the NULL-propagating fold form, or "
    "clean the corpus first"
)


def _list_matrix(col):
    """Zero-copy (n, dims) float64 view of an Arrow list<float64>
    column: offsets-validated reshape of the flat values buffer — no
    per-row Python, no object arrays (the pandas hop's object-Series
    ``np.stack`` measured as the dominant cost of the first arrow-twin
    cut). NULL entries and ragged rows raise loudly (the fold would
    NULL-propagate; the arrow twin validates — same contract as
    ``_l2sq_decimal``)."""
    import numpy as np

    if col.null_count:
        raise ValueError(
            "arrow assignment: NULL vectors are not supported"
            + _FOLD_ESCAPE
        )
    if col.flatten().null_count:
        # an element-level NULL would silently convert to NaN in the
        # flat-buffer view (the fold NULL-propagates instead) — raise,
        # don't let the two forms diverge silently.
        # flatten(), not .values: .values is the UNSLICED child array,
        # so on a sliced batch it counts NULLs outside this batch's
        # window and rejects clean in-window rows
        raise ValueError(
            "arrow assignment: NULL vector COMPONENTS are not supported"
            + _FOLD_ESCAPE
        )
    offs = col.offsets.to_numpy()
    widths = np.diff(offs)
    if len(widths) and (widths != widths[0]).any():
        raise ValueError(
            f"arrow assignment: ragged vector dims "
            f"{int(widths.min())}..{int(widths.max())}" + _FOLD_ESCAPE
        )
    dims = int(widths[0]) if len(widths) else 0
    vals = col.values.to_numpy(zero_copy_only=False)
    out = vals[offs[0] : offs[-1]].reshape(len(widths), dims)
    if out.size and not np.isfinite(out).all():
        # Spark orders NaN GREATER than any value (its deliberate
        # deviation from IEEE), numpy's argsort puts NaN last — a
        # non-finite component would rank cells differently between
        # the forms. Out of contract, loudly.
        raise ValueError(
            "arrow assignment: non-finite vector components are not "
            "supported (the fold ranks NaN scores via Spark's "
            "NaN-greatest ordering; numpy's differs)" + _FOLD_ESCAPE
        )
    return out


def _seq_scores(vm, cm, chunk: int = 256):
    """(n, K) raw-dot scores with the fold's EXACT IEEE sequence:
    product-round then add-round, left-to-right over dims, per
    (row, cell) — NOT a BLAS matmul (pairwise summation could flip a
    near-tie in the last ulp). Row-chunked so the accumulator stays
    cache-resident: the naive whole-matrix sequential loop re-touches
    an n × K accumulator per dim (memory-bound, measured slower than
    the interpreted fold at 16x); a ≤256-row chunk keeps acc ≤ ~1 MB
    at K=500 and the loop compute-bound."""
    import numpy as np

    n, dims = vm.shape
    out = np.empty((n, cm.shape[0]))
    cmt = np.ascontiguousarray(cm.T)  # (dims, K): per-dim rows contiguous
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        vc = vm[s:e]
        acc = np.zeros((e - s, cm.shape[0]))
        for i in range(dims):
            acc += vc[:, i, None] * cmt[i]
        out[s:e] = acc
    return out


def _sq9_hazard(y):
    """Boundary-hazard mask for :func:`_quantize_sq9`'s fast path:
    True where ``floor(y + 0.5)`` in float64 might round differently
    than the exact decimal computation, so the element must recompute
    through the per-element Decimal loop.

    The tolerance is ``max(1e-6, y·1e-15)`` — ≈3× the true float64
    error bound (repr-vs-binary ≤ 0.5 ulp plus the ×1e9 multiply's
    ≤ 0.5 ulp ⇒ |y_float − y_exact| ≤ ~2.3e-16·y, and the ``+ 0.5``
    rounding adds ≤ ~1.1e-16·y more ⇒ ~3.4e-16·y total), yet it only
    saturates the 0.5 maximum possible boundary distance at y ≈ 5e14.
    A ``y·1e-12`` slope would cross 0.5 at y = 5e11, silently routing
    EVERY element with squared diff ≥ ~500 through the Python Decimal
    loop — a correct-but-cliff regime covering six decades of
    in-domain magnitudes. Above 2^51 float64 integer resolution is
    gone regardless, so everything routes to Decimal."""
    import numpy as np

    dist = np.abs(y - (np.floor(y) + 0.5))
    return (dist < np.maximum(1e-6, y * 1e-15)) | (y >= 2.0**51)


def _quantize_sq9(sq):
    """Scale-9 int64 mirror of Spark's ``CAST(double AS DECIMAL(18,9))``
    on NON-NEGATIVE finite doubles (the squared diffs of
    :func:`_l2sq_decimal`): Spark's cast goes ``BigDecimal.valueOf``
    (the double's SHORTEST decimal representation — not its exact
    binary expansion) then ``setScale(9, HALF_UP)``. Fast path:
    ``floor(x·1e9 + 0.5)`` in float64, which matches everywhere except
    within float-rounding distance of a ``k + 0.5`` decision boundary
    (or past 2^51, where float64 loses integer resolution); those
    elements — rare under :func:`_sq9_hazard`'s tolerance, which sits
    ≈3× above the real float64 error without saturating until y≈5e14
    — recompute exactly through ``Decimal(repr(x))`` (Python's repr is
    the same shortest-round-trip value as Java's ``Double.toString``).

    Exactness over speed at the boundary is the point: the quantized
    ints feed EXACT integer sums that must bit-match the fold's
    DECIMAL(28,9) accumulations (which also makes the twin's sums
    order-independent — no sequential-IEEE chunking needed here,
    unlike :func:`_seq_scores`)."""
    import numpy as np

    if sq.size and float(np.max(sq)) >= 1e9:
        # DECIMAL(18,9) holds 9 integer digits: the fold's ANSI cast
        # OVERFLOWS (errors) at squared diffs >= 1e9, so the twin
        # raises the same class loudly instead of wrapping int64
        # (no float64 lies inside [1e9 - 5e-10, 1e9), so this compare
        # is exactly the q >= 10^18 decimal-overflow condition; it
        # also covers inf from an overflowed square)
        raise ValueError(
            "_quantize_sq9: squared diff >= 1e9 overflows DECIMAL(18,9) "
            "— the fold's ANSI cast fails these values too"
        )
    y = sq * 1e9
    k = np.floor(y + 0.5)
    hazard = _sq9_hazard(y)
    k = k.astype(np.int64)
    if hazard.any():
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)
        flat_k = k.reshape(-1)
        flat_sq = sq.reshape(-1)
        for i in np.nonzero(hazard.reshape(-1))[0]:
            flat_k[i] = int(
                Decimal(repr(float(flat_sq[i])))
                .scaleb(9)
                .to_integral_value(rounding=ROUND_HALF_UP)
            )
    return k


def _ivf_pq_arrow_fused(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    m: int,
    ks: int,
    n_probe: int,
    k: int,
    checkpoint: bool,
) -> DataFrame:
    """ivf_pq_topk's arrow form, picked past the PQ knee: ONE
    ``mapInArrow`` pass computes the coarse assignment, the PQ encode
    AND the ADC tables per row against driver-built centroid/codebook
    tensors — not three Python-boundary stages (coarse assign, encode,
    ADC) plus a plan-time codebook job whose chain re-executes the
    whole assignment. Each Python stage's per-task worker round-trip
    is the dominant wall at bench scale (~1 s of worker-blocked task
    time per stage for ~0.1 s of compute); fusing also deletes the
    separate n × ks encode arithmetic — the crank-1 row's ADC table IS
    the encode input, so argmin over it is free.

    Plan-time cost is ONE bounded Spark job: the md5-draw pool of
    ``max(n_centroids, ks)`` rows — the coarse seeds and the PQ code
    seeds are prefixes of the SAME md5 total order, so one TakeOrdered
    serves both. Cell/code numbering and the centroid norms come back
    Spark-computed (the row_number window and ``norm`` fold run inside
    the collected plan), so the driver adds NO arithmetic of its own
    beyond what the Python workers already ran per batch: the seed
    assignment uses :func:`_seq_scores` (the fold-exact IEEE
    sequence), residuals are single float64 subtractions (zip_with's
    per-element ``a − b``), slices truncate at the array end
    (``F.slice`` semantics), and every squared diff quantizes through
    :func:`_quantize_sq9` — the outputs are bit-equal to the fold
    form's, pinned by the arrow-vs-fold equality suite
    (tests/test_pq_arrow_encode.py, tests/test_pq_fused.py,
    tests/test_round15_fixes.py, tests/test_round18_opt.py).

    Output shape: ``n_probe`` rows per input row — (vec_id, cell,
    crank, codes, td9s), where ``codes`` is the s-ascending positional
    PQ code array (consumers filter ``crank == 1`` for the encode
    relation; a crank > 1 row's codes are the encode vs THAT cell's
    residual, which nothing reads) and ``td9s`` the dense s-major
    scale-9 int64 ADC table vs the probed cell.
    :func:`_pq_rank_packed` scores it without any re-pivot — the stage
    form's explode → groupBy → collect_list round-trips existed only
    to rebuild exactly these arrays.

    Same contract as every arrow twin: NULL / ragged / non-finite
    vectors raise (validate, don't guess — the fold NULL-propagates);
    dims < m raises (the fold dies on ANSI division-by-zero there).
    """
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    pool = (
        df.select(F.col(id_col).alias("sid"), _vd(vec_col).alias("cv"))
        .orderBy(F.md5(F.col("sid").cast("string")), F.col("sid"))
        .limit(max(n_centroids, ks))
    )
    wpool = Window.partitionBy(_const_key(df, id_col, "sid")).orderBy(
        F.md5(F.col("sid").cast("string")), F.col("sid")
    )
    prows = sorted(
        pool.select(
            (F.row_number().over(wpool) - 1).alias("i"),
            "sid",
            "cv",
            _cv_norm_col(),
        ).collect(),
        key=lambda r: r.i,
    )
    for r in prows:
        if r.cv is None:
            raise ValueError(
                "arrow assignment: NULL vectors are not supported"
                + _FOLD_ESCAPE
            )
        if any(x is None for x in r.cv):
            raise ValueError(
                "arrow assignment: NULL vector COMPONENTS are not "
                "supported" + _FOLD_ESCAPE
            )
    crows = prows[:n_centroids]
    # coarse tensors — the same recipe as _arrow_topk_cells: zero-norm
    # centroids excluded from scoring, the n_probe smallest cell ids as
    # the all-unscorable fallback, raw centroids kept per DENSE cell id
    # (row_number numbering) as the residual base — zero-norm cells
    # included, exactly like the fold form's cell→cv join-back
    cells, mats = [], []
    for r in crows:
        if r.cn != 0:
            cells.append(int(r.i))
            mats.append(np.asarray(r.cv, dtype=np.float64) / np.float64(r.cn))
    cmat = np.stack(mats, axis=0) if mats else np.zeros((0, 0))
    if cmat.size and not np.isfinite(cmat).all():
        raise ValueError(
            "arrow assignment: non-finite centroid components are not "
            "supported (see _list_matrix's NaN-ordering note)"
            + _FOLD_ESCAPE
        )
    cell_ids = np.asarray(cells, dtype=np.int64)
    fallback = np.asarray([int(r.i) for r in crows[:n_probe]], dtype=np.int64)
    cvraw = (
        np.stack([np.asarray(r.cv, dtype=np.float64) for r in crows], axis=0)
        if crows
        else np.zeros((0, 0))
    )

    # per-subspace codebooks from the seeds' own residuals, driver-side
    groups: list = []
    srows = prows[:ks]
    if srows:
        try:
            svm = np.stack(
                [np.asarray(r.cv, dtype=np.float64) for r in srows], axis=0
            )
        except ValueError as exc:
            raise ValueError(
                "arrow assignment: ragged vector dims" + _FOLD_ESCAPE
            ) from exc
        if svm.size and not np.isfinite(svm).all():
            raise ValueError(
                "arrow assignment: non-finite vector components are not "
                "supported (the fold ranks NaN scores via Spark's "
                "NaN-greatest ordering; numpy's differs)" + _FOLD_ESCAPE
            )
        if cmat.size:
            sidx = np.argsort(-_seq_scores(svm, cmat), axis=1, kind="stable")[
                :, 0
            ]
            scells = cell_ids[sidx]
        else:
            scells = np.full(len(srows), int(fallback[0]), dtype=np.int64)
        sres = svm - cvraw[scells]
        dims = sres.shape[1]
        sd = dims // m
        if sd == 0:
            raise ValueError(
                f"ivf_pq arrow encode: dims={dims} < m={m} "
                "(the fold form fails here too: its group "
                "arithmetic divides by sub_d=0)"
            )
        if not np.isfinite(sres).all():
            raise ValueError(
                "ivf_pq arrow encode: non-finite codebook components "
                "are not supported (see _list_matrix's NaN note)"
                + _FOLD_ESCAPE
            )
        code_ids = np.arange(len(srows), dtype=np.int32)
        for s in range((dims - 1) // sd + 1):
            lo = s * sd
            groups.append((s, code_ids, sres[:, lo : lo + sd]))
    bc = df.sparkSession.sparkContext.broadcast(
        (cmat, cell_ids, fallback, cvraw, groups, m)
    )

    schema = StructType(
        [
            StructField("vec_id", df.schema[id_col].dataType),
            StructField("cell", LongType()),
            StructField("crank", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
            StructField("td9s", ArrayType(ArrayType(LongType()))),
        ]
    )

    def fused(batches):
        import numpy as np
        import pyarrow as pa

        cm, cid, fb, cvr, gs, m_ = bc.value
        k_take = min(n_probe, cm.shape[0])
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            if not gs:
                raise ValueError(
                    "ivf_pq arrow encode: empty codebook with a "
                    "non-empty corpus batch"
                )
            vm = _list_matrix(batch.column(batch.schema.get_field_index("v")))
            if k_take:
                scores = _seq_scores(vm, cm)
                idx = np.argsort(-scores, axis=1, kind="stable")[:, :k_take]
                out_cells = cid[idx].reshape(-1)
                rep = k_take
            else:
                # no scorable centroid anywhere: the fold's fallback —
                # every vector probes the n_probe smallest cell ids
                out_cells = np.tile(fb, n)
                rep = len(fb)
            cranks = np.tile(np.arange(1, rep + 1, dtype=np.int32), n)
            take = np.repeat(np.arange(n, dtype=np.int64), rep)
            try:
                rm = vm[take] - cvr[out_cells]
            except ValueError as exc:
                raise ValueError(
                    "arrow assignment: ragged vector dims" + _FOLD_ESCAPE
                ) from exc
            if rm.size and not np.isfinite(rm).all():
                raise ValueError(
                    "arrow assignment: non-finite vector components are "
                    "not supported (the fold ranks NaN scores via "
                    "Spark's NaN-greatest ordering; numpy's differs)"
                    + _FOLD_ESCAPE
                )
            dims = rm.shape[1]
            sd = dims // m_
            if sd == 0:
                raise ValueError(
                    f"ivf_pq arrow encode: dims={dims} < m={m_} "
                    "(the fold form fails here too: its group "
                    "arithmetic divides by sub_d=0)"
                )
            nrows = len(take)
            td_tables, code_cols = [], []
            for s, codes_ids, mat in gs:
                lo = s * sd
                rs = rm[:, lo : lo + sd]
                if rs.shape[1] != mat.shape[1]:
                    raise ValueError(
                        "ivf_pq arrow encode: residual slice width "
                        f"{rs.shape[1]} != codebook width "
                        f"{mat.shape[1]} at s={s} (the fold's "
                        "_l2sq_decimal raises on the same rows)"
                    )
                d = rs[:, None, :] - mat[None, :, :]
                q = _quantize_sq9(d * d)
                if q.size and int(q.max()) > (2**62) // max(sd, 1):
                    raise ValueError(
                        "ivf_pq arrow encode: squared-diff magnitude "
                        "overflows the exact int64 accumulator"
                    )
                sums = q.sum(axis=2, dtype=np.int64)  # (nrows, ks')
                td_tables.append(sums)
                # argmin first occurrence over ascending codes — the
                # fold's array_sort (d ASC, code ASC) tie-break
                code_cols.append(
                    codes_ids[np.argmin(sums, axis=1)].astype(np.int32)
                )
            g = len(gs)
            ksz = td_tables[0].shape[1]
            inner = pa.ListArray.from_arrays(
                pa.array(np.arange(nrows * g + 1, dtype=np.int64) * ksz,
                         pa.int32()),
                pa.array(np.stack(td_tables, axis=1).reshape(-1), pa.int64()),
            )
            td9s = pa.ListArray.from_arrays(
                pa.array(np.arange(nrows + 1, dtype=np.int64) * g,
                         pa.int32()),
                inner,
            )
            codes = pa.ListArray.from_arrays(
                pa.array(np.arange(nrows + 1, dtype=np.int64) * g,
                         pa.int32()),
                pa.array(np.stack(code_cols, axis=1).reshape(-1), pa.int32()),
            )
            ids = batch.column(0).take(pa.array(take))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(out_cells, pa.int64()),
                    pa.array(cranks, pa.int32()),
                    codes,
                    td9s,
                ],
                names=["vec_id", "cell", "crank", "codes", "td9s"],
            )

    base = ensure_min_parallelism(
        df.select(F.col(id_col).alias("vec_id"), _vd(vec_col).alias("v"))
    )
    fused_df = base.mapInArrow(fused, schema)
    if checkpoint:
        # consumed twice (the neighbor pack + the query ADC side):
        # persist so the scan → assignment → encode pipeline runs once
        fused_df = fused_df.persist(StorageLevel.DISK_ONLY)
    return _pq_rank_packed(fused_df, k)


def _arrow_assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, vn, cell): the Arrow/numpy twin of :func:`_fold_assign`
    — :func:`_arrow_topk_cells` at ``n_probe=1``. The argmax semantics
    line up exactly with :func:`_argmax_cell`: ties to the smallest
    cell (stable argsort over cell-ascending columns = the fold's
    strict-> over a cell-sorted array), a zero-norm VECTOR scores 0.0
    everywhere and ties to the smallest scorable cell, a zero-norm
    CENTROID is never the argmax (excluded vs NULL-skipped), and the
    all-zero-norm fallback is the smallest cell id (the fold's INIT).
    Bit-equal on finite inputs by the topk twin's IEEE-sequence
    contract."""
    return _arrow_topk_cells(base, cents, 1).select("vec_id", "v", "vn", "cell")


#: The flat assignment picks the Arrow twin only when it will evaluate
#: at least this many (row × centroid) dots. Measured crossover
#: (docs/SCALE.md, the auto-threshold grid): at 32k × 500 = 16M dots
#: the arrow twin wins unambiguously (1.4× on ivf_topk end-to-end, ~7×
#: on the derived-K SemDeDup assignment); the mixed zone reaches
#: surprisingly far — at 32k × 256 = 8M dots the fold is still 1.4×
#: FASTER end-to-end (per-batch round-trip + reshape overhead
#: amortizes slowly), and at ≤ 2M dots the Python-worker round-trip
#: dominates outright (sf0.1 demo scale: fold 0.9×-2.9× faster). The
#: threshold therefore sits exactly at the lowest PROVEN arrow-win
#: point, never inside the mixed zone — a 100 TB corpus with catalog
#: stats (10⁹⁺ rows × 10³⁺ cells ≈ 10¹²⁺ dots) crosses it at any
#: realistic K, which is the regime the twin exists for.
_AUTO_ARROW_MIN_NK = 16_000_000

#: The TWO-LEVEL (hier) form's crossover, in ENVELOPE dots (n_rows ×
#: (C + K/C)). Measured separately (docs/SCALE.md) because the hier
#: fold's per-row cost is not just dots: the fine stage runs an
#: interpreted fold over ~K/C structs AFTER a broadcast join, so the
#: vectorized twin wins at a much lower dot count than the flat form —
#: 16× (32k rows × 44-dot envelope = 1.4M): arrow 6.5 s vs fold
#: 10.2 s; 64× (128k × 89 = 11.4M): arrow 19.0 s vs fold 43.7 s, both
#: with identical outputs; at 1× (22k dots) the two tie. The threshold
#: sits at the lowest PROVEN win point (1.4M), same philosophy as the
#: flat constant — never inside the mixed zone below it.
_AUTO_ARROW_MIN_NK_HIER = 1_400_000

#: IVF-PQ's crossover, in ENCODE units (n_rows × m × ks — proportional
#: to the per-row encode/ADC fold count the arrow twin vectorizes;
#: dims is a runtime quantity, so the driver-side knee uses the
#: codebook dimensions it actually knows). Measured separately
#: (32-core box, identical outputs pinned by collect-compare) because
#: PQ's vectorizable work is NOT the coarse assignment the flat
#: _AUTO_ARROW_MIN_NK models — it is the encode (n × dims × ks squared
#: diffs) plus the per-candidate ADC scoring, both interpreted DECIMAL
#: folds on the fold path, and that work dwarfs the n × K coarse dots
#: at any m·ks ≥ 16: at n=500/m=4/ks=16 (32k units, dims 64) arrow
#: wins 12.7→4.6 s (sf0.001's many-split layout) and 3.08→2.65 s
#: (sf0.01); at n=2000 (128k units) 3.64→3.28 s; fold still wins at
#: n=200/ks=8 (6.4k units, 2.59 vs 3.09 s) and n=50 (1.6k units). The
#: knee sits between the highest proven fold-win (6.4k) and the lowest
#: proven arrow-win (32k).
_AUTO_ARROW_MIN_NMK_PQ = 20_000

#: Sign-LSH bucket assignment's crossover, in (row × plane) projection
#: units — the knee of ``lsh_topk`` / ``multiprobe_lsh_topk`` /
#: ``lsh_bucket_assignments``. Measured with docs/SCALE.md's
#: ``lsh_bucket_ab`` battery (identical ``sum(bucket)`` checksums
#: across arms): at 1× (2k rows × 5 planes = 10k projections) the
#: expression form and the int64-matmul twin TIE (scan-dominated); at
#: 16× (32k × 9 = 288k) the twin wins 2.3× (2.74 s → 1.2 s); at 64×
#: (128k × 11 = 1.4M) 2.1× (4.4 s → 2.1 s). The threshold sits at the
#: lowest PROVEN win point (288k), same philosophy as the flat/hier nK
#: constants — never inside the mixed zone. The bench corpus (sf0.1:
#: 2,000 rows × 8 planes = 16k) sits 18× under it (gate scale 4k:
#: 72×), so every registered demo keeps the expression plan — an ~18×
#: corpus growth WOULD cross the knee, which is the intent: a 100 TB
#: corpus with catalog stats (10⁹⁺ rows × ~20 planes) crosses it
#: immediately.
_AUTO_ARROW_MIN_NP_LSH = 288_000


def _resolve_bucket_assign(
    n_rows: int | None,
    planes: int,
    min_np: int = _AUTO_ARROW_MIN_NP_LSH,
) -> str:
    """The sign-LSH projection form, ``"expr"`` or ``"arrow"``, picked on
    the measured (row × plane) crossover (:data:`_AUTO_ARROW_MIN_NP_LSH`).
    Without ``n_rows`` (no catalog stat offered) the corpus is NEVER
    counted — the expression form runs, which is plan-shape-safe at any
    scale (both forms are map-only; the expression form only loses
    interpreted fold time in the large-corpus regime, never exchange
    structure). Bucket ids are bit-equal by integer associativity
    (:func:`_arrow_lsh_base`), so the pick can never change results.

    The same validate-don't-guess asymmetry as :func:`_resolve_assign`
    applies: the arrow twin REJECTS NULL-component / ragged /
    overflow-magnitude vectors where the expression form zero-buckets
    them — a corpus that may carry such vectors should be cleaned
    first, or called without a row count (explicit ``planes``) so the
    expression form runs.

    ``planes > 62`` always picks the expression form: the twin
    fail-fasts there (its long-bucket overflow guard,
    :func:`_arrow_lsh_base`) while the expression form handles such
    plane counts — the knee must never turn a working call into an
    error."""
    if planes > 62:
        return "expr"
    if n_rows is not None and n_rows * planes >= min_np:
        return "arrow"
    return "expr"


def _resolve_assign(
    n_rows: int | None,
    n_centroids: int,
    min_nk: int = _AUTO_ARROW_MIN_NK,
) -> str:
    """The centroid-assignment form, ``"fold"`` or ``"arrow"``, picked on
    the measured nK crossover (see :data:`_AUTO_ARROW_MIN_NK`). Without
    ``n_rows`` (no catalog stat offered) the corpus is NEVER counted —
    the fold runs, which is plan-shape-safe at any scale (both forms
    are map-only; the fold only loses interpreted-compute time in the
    large-nK regime, it never regresses the exchange structure). Both
    forms are bit-equal on finite inputs (the arrow twin's
    IEEE-sequence contract, :func:`_arrow_topk_cells`), so the pick can
    never change results — only the physical form of the assignment
    stage.

    One behavior difference survives the bit-equality contract: the
    arrow twin VALIDATES its inputs (NULL-component / ragged /
    non-finite vectors raise — Spark's NaN-greatest ordering has no
    cheap numpy mirror), where the fold emits NULL scores. A corpus
    that may carry such vectors should be cleaned first, or called
    without a row count (explicit ``n_centroids``) so the fold runs —
    past the threshold the validating twin fails loudly instead of
    ranking NaNs differently between forms (validate, don't guess).

    Getting a stat is usually free: parquet footers carry exact row
    counts (``sources.registry.parquet_rows`` reads them driver-side
    in microseconds, no scan), and lakehouse catalogs serve the same
    number — pass it through rather than leaving the pick blind.
    """
    if n_rows is not None and n_rows * n_centroids >= min_nk:
        return "arrow"
    return "fold"


def _lloyd_round(
    base: DataFrame, cents: DataFrame, assign: str = "fold"
) -> DataFrame:
    """One Lloyd iteration: nearest-cell assignment (the map-only
    broadcast-array fold :func:`_fold_assign`, or its Arrow twin
    :func:`_arrow_assign` when ``assign="arrow"``) → per-(cell, dim)
    DECIMAL mean → reassembled centroid arrays. Cells with no members
    keep their previous centroid."""
    assigned = (
        _arrow_assign(base, cents)
        if assign == "arrow"
        else _fold_assign(base, cents)
    )
    # element-wise mean: exact decimal sum (order-independent), divide as
    # double. posexplode is 0-based; the oracle's WITH ORDINALITY is
    # 1-based — the oracle subtracts 1.
    by_dim = assigned.select("cell", F.posexplode("v").alias("pos", "x"))
    means = by_dim.groupBy("cell", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    new_cv = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))),
        lambda s: s["m"],
    )
    refined = means.groupBy("cell").agg(new_cv.alias("cv_new"))
    return (
        cents.join(refined, "cell", "left")
        .select("cell", F.coalesce(F.col("cv_new"), F.col("cv")).alias("cv"))
        .select("cell", "cv", _cv_norm_col())
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 8,
    n_probe: int = 2,
    k: int = 3,
    checkpoint: bool = True,
    target_cell_size: int | None = None,
    lloyd_rounds: int = 0,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` cells (nearest centroid by cosine), then answer each
    query exactly within its ``n_probe`` nearest cells.

    The row count picks the cell-assignment form on the measured nK
    crossover: the arrow twin only when ``n_rows × n_centroids`` (the
    assignment's dot count; ``n_rows`` from the caller's catalog stat
    or the ``target_cell_size`` sizing count, never an extra action)
    reaches :data:`_AUTO_ARROW_MIN_NK`, else the fold. Both forms are
    bit-equal on finite inputs, so the pick can never change results.
    The fold computes the top-``n_probe`` cells per row with
    :func:`_fold_topk_cells` — MAP-ONLY, zero per-vec_id rank windows, no
    n × K data-proportional assignment exchange. The demo oracles MIRROR
    the fold arithmetic (raw ``dot(v, cv/cn)``, not cosine
    ``dot/(vn*cn)``), so a ~1-ulp near-tie ranks cells the same way in
    both engines; a zero-norm centroid is never probed (see the helper's
    docstring). The arrow twin serves the large-K compute regime — one
    vectorized numpy loop per batch instead of K interpreted folds per
    row; same map-only shape, fold-identical scores on finite inputs
    (the IEEE-sequence contract in :func:`_arrow_topk_cells`), which is
    what lets the knee pick it WITHOUT new oracle mirrors.

    The other classic ANN shape next to sign-LSH (``lsh_topk``): centroids
    broadcast to every partition (map-only assignment), the only shuffle
    keys are cell ids, and candidate counts are bounded by cell sizes ×
    n_probe — |corpus|²/n_centroids-ish work instead of |corpus|².
    Returns (query_id, neighbor_id, cosine_sim, rank).

    ``target_cell_size`` (with ``n_centroids=None``) sizes the cell count
    from the corpus — ``n_centroids = ceil(df.count() / target)`` (one
    count() action at plan time) — so per-cell candidate work stays
    constant as the corpus grows instead of cells fattening linearly at a
    fixed centroid count. Centroids stay broadcast-able: even a 100 B-row
    corpus at target 10 k is 10 M centroids ≈ a few GB — at that point
    raise the target or add a second quantization level. ``n_rows`` is
    the cached-statistics path: when the catalog knows the corpus size,
    sizing runs with no count() action.
    """
    if target_cell_size is not None:
        import math

        if n_rows is None:
            # one plan-time action; the count doubles as the knee's stat
            n_rows = df.count()
        n_centroids = max(1, math.ceil(n_rows / max(target_cell_size, 1)))
    if n_centroids is None:
        raise ValueError("pass n_centroids or target_cell_size")
    form = _resolve_assign(n_rows, n_centroids)
    # the Lloyd rounds resolve the same knee from the same n_rows
    cents = ivf_centroids(
        df, id_col, vec_col, n_centroids, lloyd_rounds=lloyd_rounds, n_rows=n_rows
    )
    base = ensure_min_parallelism(
        df.select(
            F.col(id_col).alias("vec_id"),
            _vd(vec_col).alias("v"),
            _vn(vec_col).alias("vn"),
        )
    )
    topk_cells = _arrow_topk_cells if form == "arrow" else _fold_topk_cells
    ranked = topk_cells(base, cents, n_probe)
    if checkpoint:
        # consumed twice (data cells + probe cells): persist (DISK_ONLY,
        # lazy, canonicalized-plan-shared across invocations) so the
        # scan → assignment pipeline runs once, not twice
        # (checkpoint=False keeps the full lineage visible for plan audits)
        ranked = ranked.persist(StorageLevel.DISK_ONLY)
    data = ranked.where(F.col("crank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv2"),
        F.col("vn").alias("cn2"),
        "cell",
    )
    probes = ranked.where(F.col("crank") <= n_probe).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
        "cell",
    )
    # the exact rescoring stays the JVM expression in EVERY form: an
    # Arrow twin of this stage measured SLOWER — the stage's input is
    # the join fan-out of vector PAIRS, and shipping ~|pairs| x 2 x
    # dims doubles through the Python worker costs more than the
    # interpreted dots; the assignment twin wins precisely because its
    # input is the n vectors against a broadcast centroid set, no
    # fan-out
    sim = _ivf_rescore_sim()
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        probes.join(data, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
        )
    )


@column_memo
def _ivf_rescore_sim() -> Column:
    """Memoized exact-cosine rescore expression of :func:`ivf_topk`'s
    candidate stage (the ``dot`` lambda fold costs a py4j round-trip
    per operator on every construction — see ``functions.exprcache``)."""
    return dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2"))


def embedding_near_dup_pairs(
    df: DataFrame,
    block: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key."""
    # the blocked self-join broadcasts the block table at small scale,
    # so the per-pair dot-product fold otherwise runs inside the
    # one-task scan stage of a single-row-group input (no-op whenever
    # splits ≥ cores). Measured at sf0.1/local[32] on
    # q_dedup_embedding: 3.0 → 0.6 s, identical pair set.
    base = ensure_min_parallelism(
        df.select(
            F.col(id_col).alias("vec_id"),
            _vd(vec_col).alias("v"),
            _vn(vec_col).alias("vn"),
            block.alias("blk"),
        )
    )
    a, b = base.alias("a"), base.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.vn") * F.col("b.vn"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    m: int = 4,
    ks: int = 16,
    n_probe: int = 2,
    k: int = 3,
    checkpoint: bool = True,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse IVF cells + product-quantized
    residuals with asymmetric-distance (ADC) scoring — the second
    quantization level the IVF-flat docstring promises for the regime
    where cells are too fat to scan exactly (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    Pipeline: assign each vector to its nearest coarse centroid (cosine,
    broadcast — same as ``ivf_topk``); split the residual ``v − centroid``
    into ``m`` contiguous subvectors; quantize each against a ``ks``-entry
    per-subspace codebook (hash-seeded from the corpus's own residuals,
    the same md5-order draw as the coarse seeds — oracle-expressible);
    score query→neighbor as the sum over subspaces of the precomputed
    L2² between the query's residual subvector and the neighbor's code
    (the ADC lookup), smallest first.

    Scale shape: the encoded corpus is ``m`` small ints per vector
    (m bytes at ks ≤ 256) instead of ``dims`` floats — the representation
    that fits a 100 B-vector corpus in executor memory; codebooks and
    coarse centroids broadcast; the ADC table is m·ks entries per
    (query, probed cell), built map-side; the only shuffles key on cell
    ids and (query, neighbor) pairs bounded by cell sizes × n_probe.

    Exactness discipline: every distance that feeds a ranking is an
    exact DECIMAL(18,9) sum of per-dimension squared diffs, so ranks are
    bit-identical across engines and partitionings; the emitted
    ``approx_l2sq`` narrows through the parity hop last.

    Returns (query_id, neighbor_id, approx_l2sq, rank).

    ``n_rows`` (the catalog stat) picks the form on the PQ knee
    (:func:`_resolve_assign` with :data:`_AUTO_ARROW_MIN_NMK_PQ`;
    without it the fold runs, no extra action). Both forms compute
    every distance as the same exact DECIMAL sum, so the pick never
    changes results. The fold has zero data-side exchange throughout
    (plan-pinned): coarse cells via :func:`_fold_topk_cells` (+ a
    broadcast cell→``cv`` join-back — the residual split needs the
    winning centroid vector), and encode/ADC computed per row against
    the codebook pivoted into ONE broadcast array row, every distance
    the exact DECIMAL fold (:func:`_l2sq_decimal`). The demo oracle
    MIRRORS the fold's coarse-assignment arithmetic (see
    :func:`ivf_topk`). Past the knee the FUSED single-pass pipeline
    runs (:func:`_ivf_pq_arrow_fused`): one ``mapInArrow`` stage
    computes the coarse assignment, the encode AND the ADC tables per
    row against driver-built tensors — exact scale-9 integer mirrors of
    the DECIMAL folds (per-element quantization through
    :func:`_quantize_sq9`), so the whole output stays bit-equal to the
    fold's while the n × g × ks distance arithmetic runs as numpy
    tensor ops per Arrow batch.
    """
    # PQ picks on its OWN knee (n_rows × m × ks encode units,
    # :data:`_AUTO_ARROW_MIN_NMK_PQ`): the work the arrow twin
    # vectorizes here is the encode/ADC DECIMAL folds, which dwarf the
    # n × K coarse dots the flat knee models — at demo scale the flat
    # knee would leave a measured 1.1-2.8× win unused. The pick is
    # still bit-neutral: both forms are exact-DECIMAL/scale-9 mirrors.
    if _resolve_assign(n_rows, m * ks, min_nk=_AUTO_ARROW_MIN_NMK_PQ) == "arrow":
        # one mapInArrow stage for assign+encode+ADC, one bounded
        # plan-time draw, bit-equal outputs (see _ivf_pq_arrow_fused)
        return _ivf_pq_arrow_fused(
            df, id_col, vec_col, n_centroids, m, ks, n_probe, k, checkpoint
        )
    cents = ivf_centroids(df, id_col, vec_col, n_centroids)
    base = df.select(
        F.col(id_col).alias("vec_id"),
        _vd(vec_col).alias("v"),
        _vn(vec_col).alias("vn"),
    )
    ranked = _fold_topk_cells(ensure_min_parallelism(base), cents, n_probe).join(
        F.broadcast(cents.select("cell", "cv")), "cell"
    ).select("vec_id", "v", "cell", "cv", "crank")
    if checkpoint:
        ranked = ranked.persist(StorageLevel.DISK_ONLY)

    # per-subspace codebooks from the md5-draw seed vectors' own residuals
    seed_ids = (
        df.select(F.col(id_col).alias("sid2"))
        .orderBy(F.md5(F.col("sid2").cast("string")), F.col("sid2"))
        .limit(ks)
    )
    wseed = Window.partitionBy(_const_key(df, id_col, "sid2")).orderBy(
        F.md5(F.col("sid2").cast("string")), F.col("sid2")
    )
    codes = seed_ids.select("sid2", (F.row_number().over(wseed) - 1).alias("code"))

    # Encode + ADC with zero data-side exchange: the codebook pivots ONCE
    # into a single broadcast row of per-subspace (code, subvector)
    # arrays (ks × m structs — tiny), and each data row computes its
    # codes / ADC entries in place over its residual slices, every
    # distance the exact DECIMAL fold (_l2sq_decimal). Argmin per
    # subspace = default array_sort on struct(d, code) (lexicographic: d
    # ASC then code ASC) + element_at 1: each distance evaluates ONCE (a
    # strict-< fold would write the distance expression twice per
    # element — the no-CSE trap).
    r_expr = F.zip_with("v", "cv", lambda a, b: a - b)
    sd_expr = F.floor(F.size("v") / F.lit(m))
    assigned = ranked.where(F.col("crank") == 1).select(
        "vec_id", "cell", r_expr.alias("r"), sd_expr.alias("sd")
    )
    # group s of a row's residual = slice [s*sd, min((s+1)*sd, dims))
    # — slice() truncates at the array end, so ragged dims get a
    # shorter trailing group (group of position pos = floor(pos / sd))
    groups = F.transform(
        F.sequence(
            F.lit(0),
            F.floor((F.size("r") - F.lit(1)) / F.col("sd")).cast("int"),
        ),
        lambda s: F.struct(
            s.cast("int").alias("s"),
            F.slice(
                F.col("r"), s.cast("bigint") * F.col("sd") + F.lit(1), F.col("sd")
            ).alias("cxs"),
        ),
    )
    cb_row = (
        assigned.join(
            F.broadcast(codes), F.col("vec_id") == F.col("sid2")
        )
        .select("code", F.explode(groups).alias("g"))
        .select("code", F.col("g.s").alias("s"), F.col("g.cxs").alias("cxs"))
        .groupBy("s")
        .agg(
            F.sort_array(F.collect_list(F.struct("code", "cxs"))).alias(
                "codes_a"
            )
        )
        .agg(F.sort_array(F.collect_list(F.struct("s", "codes_a"))).alias("cb"))
    )
    probes = ranked.where(F.col("crank") <= n_probe).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell").alias("qcell"),
        r_expr.alias("r"),
        sd_expr.alias("sd"),
    )
    # (s, residual-slice, codes) staged once per group so the inner
    # per-code transforms read the slice as a cheap field access
    staged_groups = F.transform(
        F.col("cb"),
        lambda g: F.struct(
            g["s"].alias("s"),
            F.slice(
                F.col("r"),
                g["s"].cast("bigint") * F.col("sd") + F.lit(1),
                F.col("sd"),
            ).alias("rs"),
            g["codes_a"].alias("codes_a"),
        ),
    )
    enc_arr = F.transform(
        staged_groups,
        lambda h: F.struct(
            h["s"].alias("s"),
            F.element_at(
                F.array_sort(
                    F.transform(
                        h["codes_a"],
                        lambda c: F.struct(
                            _l2sq_decimal(h["rs"], c["cxs"]).alias("d"),
                            c["code"].alias("code"),
                        ),
                    )
                ),
                1,
            )["code"].alias("code"),
        ),
    )
    enc = (
        assigned.crossJoin(F.broadcast(cb_row))
        .select("vec_id", "cell", F.explode(enc_arr).alias("e"))
        .select(
            "vec_id",
            "cell",
            F.col("e.s").alias("s"),
            F.col("e.code").alias("code"),
        )
    )
    adc_arr = F.transform(
        staged_groups,
        lambda h: F.struct(
            h["s"].alias("s"),
            F.transform(
                h["codes_a"],
                lambda c: F.struct(
                    c["code"].alias("code"),
                    _l2sq_decimal(h["rs"], c["cxs"]).alias("td"),
                ),
            ).alias("tds"),
        ),
    )
    adc = (
        probes.crossJoin(F.broadcast(cb_row))
        .select("query_id", "qcell", F.explode(adc_arr).alias("a"))
        .select(
            "query_id",
            "qcell",
            F.col("a.s").alias("s"),
            F.explode(F.col("a.tds")).alias("t"),
        )
        .select(
            "query_id",
            "qcell",
            "s",
            F.col("t.code").alias("code"),
            F.col("t.td").alias("td"),
        )
    )
    return _pq_rank(enc, adc, k)


def _pq_rank(enc: DataFrame, adc: DataFrame, k: int) -> DataFrame:
    """ivf_pq_topk's candidate scoring and rank over the fold form's
    exploded (enc, adc) relations: ``enc`` (vec_id, cell, s, code) and
    ``adc`` (query_id, qcell, s, code, td) with EXACT decimal ``td``.

    Shape (shuffle fewer bytes, remove exchanges): joining the EXPLODED
    per-subspace rows on ``(qcell, s, code)`` would be an ``m×`` fan-out
    (pairs × m joined rows) into a pairs-keyed hash aggregate and a full
    per-query rank window over every candidate — at sf0.1, 12M joined
    rows → 3M-key agg → 3M-row window, the single biggest chunk of the
    query. Instead the tail pivots both sides back to one row per
    entity (the fold encode explodes per ``s`` anyway, so the pivot
    just undoes that), packs each cell's neighbors into one array row,
    and scores every (query, cellmate) pair MAP-SIDE inside an array
    transform: the ADC
    value of a neighbor is ``m`` O(1) ``element_at`` lookups into the
    query's dense (s, code)-indexed table. Each (query, probed-cell)
    row then keeps only its per-cell top-k in-array, so the final
    global rank window sees ``queries × n_probe × k`` rows instead of
    every candidate pair (12k vs 3M at sf0.1). Global top-k over the
    union of per-cell top-k's is exactly the global top-k (k ≤ the
    per-cell cut, same (d, neighbor_id) order both levels).

    Exactness: per-pair ``d_exact`` sums the SAME per-subspace DECIMAL
    ``td`` values a ``SUM(td)`` groupBy would — decimal addition is exact
    and order-independent, and the per-step ``decimal(28,9)`` re-cast
    is the ``_l2sq_decimal`` accumulator pattern (values bounded by
    the documented scale-validity envelope, so the narrower
    accumulator never saturates). ``SUM(td)``'s NULL semantics are
    reproduced bit-for-bit: it skips NULL tds and returns NULL only
    when ALL m are NULL — the fold below filters NULL lookups first
    and NULLs out the empty case; NULL ``d_exact`` sorts first both in
    ``array_sort`` (struct ordering: ascending fields, NULLS FIRST) and
    in the window's ``asc`` (NULLS FIRST). Parity with the exploded
    join tail is pinned by tests/test_round18_opt.py on clean AND
    NULL-scored corpora.

    Scale shape: no broadcast of the encoded corpus — the pack/join
    key on ``cell``; per-cell array rows are bounded by
    ``target_cell_size`` (the IVF sizing story), the same bound that
    caps a per-cell join fan-out."""
    # one row per neighbor: its m (s, code) entries, s-ascending
    enc_p = enc.groupBy("vec_id", "cell").agg(
        F.array_sort(F.collect_list(F.struct("s", "code"))).alias("codes")
    )
    # one row per cell: every member with its codes (bounded by cell size)
    pack = enc_p.groupBy("cell").agg(
        F.collect_list(F.struct("vec_id", "codes")).alias("nbrs")
    )
    # one row per (query, probed cell): the ADC table pivoted into a
    # dense s-major array-of-arrays — tds[s+1][code+1] = td, O(1) lookups
    # (codes are row_number()-dense 0..ks'-1 per subspace by
    # construction). spread_for_compute: the per-(query, cell) scoring
    # downstream of THIS exchange costs O(cell_size × m)
    # interpreted lookups per ~1 KB row — compute AQE's byte-based
    # coalescing cannot see (measured: 3-of-32-core stage,
    # 2.4 s wall for 6 s task CPU at sf0.1). The explicit-count hash
    # repartition is reused by the groupBy, so the exchange count is
    # unchanged — only the coalesce is vetoed.
    adc_p = spread_for_compute(adc, "query_id", "qcell").groupBy(
        "query_id", "qcell"
    ).agg(
        F.array_sort(F.collect_list(F.struct("s", "code", "td"))).alias("tbl")
    )
    max_s = F.element_at(F.col("tbl"), F.size("tbl"))["s"]
    tds = F.transform(
        F.sequence(F.lit(0), max_s),
        lambda s: F.transform(
            F.filter(F.col("tbl"), lambda e: e["s"] == s), lambda e: e["td"]
        ),
    )
    adc_t = adc_p.select("query_id", "qcell", tds.alias("tds"))

    joined = adc_t.join(pack, F.col("qcell") == F.col("cell"))
    return _pq_score_tail(
        joined,
        # struct-coded entries: the subspace id travels with the code
        lambda codes: F.transform(
            codes,
            lambda c: F.element_at(
                F.element_at(F.col("tds"), c["s"] + 1), c["code"] + 1
            ),
        ),
        k,
    )


def _pq_rank_packed(fused: DataFrame, k: int) -> DataFrame:
    """ivf_pq_topk tail over the FUSED arrow relation (vec_id, cell,
    crank, codes, td9s) — see :func:`_ivf_pq_arrow_fused`. The encode
    codes and ADC tables arrive already packed per row, so the stage
    form's explode → groupBy → collect_list → re-pivot round-trips
    (one exchange per side, plus the interpreted pivot transforms)
    vanish: the only exchanges left are the per-cell neighbor pack and
    the final rank window.

    ``codes`` is positional (index = subspace id), so a neighbor's ADC
    value is ``tds[s+1][codes[s]+1]`` — the same O(1) double
    ``element_at`` lookup as :func:`_pq_rank`, with the subspace id
    implied by position instead of carried in a struct. ``td9s``
    rescales to DECIMAL(28,9) through the exact ×10⁻⁹ hop (the stage
    form's ``td_dec`` — a ≤9-decimal value divided by 10⁹ is exact at
    the result scale), so every distance feeding a ranking is the same
    exact decimal the fold form sums."""
    enc_rows = fused.where(F.col("crank") == 1).select(
        "vec_id", "cell", "codes"
    )
    pack = enc_rows.groupBy("cell").agg(
        F.collect_list(F.struct("vec_id", "codes")).alias("nbrs")
    )

    def td_dec(v: Column) -> Column:
        return (
            v.cast("decimal(28,0)")
            / F.lit(1_000_000_000).cast("decimal(10,0)")
        ).cast("decimal(28,9)")

    adc_t = fused.select(
        F.col("vec_id").alias("query_id"),
        F.col("cell").alias("qcell"),
        F.transform("td9s", lambda row: F.transform(row, td_dec)).alias(
            "tds"
        ),
    )
    joined = adc_t.join(pack, F.col("qcell") == F.col("cell"))
    return _pq_score_tail(
        joined,
        # positional codes: index = s (two-arg transform lambda)
        lambda codes: F.transform(
            codes,
            lambda c, s: F.element_at(
                F.element_at(F.col("tds"), s + 1), c + 1
            ),
        ),
        k,
    )


def _pq_score_tail(joined: DataFrame, lookup, k: int) -> DataFrame:
    """Shared ivf_pq candidate-scoring tail over ``joined`` rows
    (query_id, tds, nbrs): score every cellmate map-side, keep the
    per-cell top-k in-array, then the global rank window over
    ``queries × n_probe × k`` rows (see :func:`_pq_rank`'s restructure
    note). ``lookup(codes)`` maps one neighbor's code entries to the
    array of per-subspace ADC decimals — the only piece that differs
    between the struct-coded (:func:`_pq_rank`) and positional
    (:func:`_pq_rank_packed`) layouts."""
    from transit_efficiency_analysis_spark.functions.parity import parity_double

    zero = F.lit(0).cast("decimal(28,9)")

    def _d_exact(codes: Column) -> Column:
        # evaluate each lookup once, reproduce SUM's skip-NULL/all-NULL
        looked = F.filter(lookup(codes), lambda t: t.isNotNull())
        return F.when(
            F.size(looked) > 0,
            F.aggregate(
                looked, zero, lambda acc, t: (acc + t).cast("decimal(28,9)")
            ),
        )

    scored_arr = F.transform(
        F.col("nbrs"),
        lambda n: F.struct(
            _d_exact(n["codes"]).alias("d_exact"),
            n["vec_id"].alias("neighbor_id"),
        ),
    )
    topk_arr = F.slice(
        F.array_sort(
            F.filter(scored_arr, lambda x: x["neighbor_id"] != F.col("query_id"))
        ),
        1,
        k,
    )
    exploded = joined.select(
        "query_id", F.explode(topk_arr).alias("c")
    ).select(
        "query_id",
        F.col("c.neighbor_id").alias("neighbor_id"),
        F.col("c.d_exact").alias("d_exact"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("d_exact").asc(), F.col("neighbor_id").asc()
    )
    return (
        exploded.withColumn("rank", F.row_number().over(wq))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            parity_double(F.col("d_exact"), 9).alias("approx_l2sq"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    lloyd_rounds: int = 1,
    threshold: float = 0.95,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster-blocked
    keep-first semantic dedup over an embedding column.

    1. k-means cells via :func:`ivf_centroids` (hash-seeded + Lloyd
       rounds — deterministic, oracle-expressible);
    2. every vector assigned to its nearest cell by the broadcast-array
       fold (:func:`_fold_assign` — map-only: no n × K data-proportional
       exchange, no per-vec_id rank window);
    3. within each cell, a vector is a DUPLICATE if any lower-id vector
       in the same cell has cosine >= ``threshold`` — the paper's
       keep-one-per-ε-ball rule made deterministic by the id total
       order; ``dup_of`` records the SMALLEST such lower-id
       near-duplicate.

    Returns (id, cell, kept, dup_of); ``dup_of`` is NULL for kept rows.
    ``dup_of`` is a dedup WITNESS — the smallest lower-id cellmate
    within ``threshold`` — not necessarily itself kept: for a chain
    a~b, b~c with a≁c, c's witness is b while b is dropped with
    witness a. Consumers that need a surviving canonical
    representative should group by ``cell`` and pick the cell's kept
    rows, or follow the witness chain (bounded by cell size); the
    keep/drop decision itself never needs the chain — kept is exact.

    Scale: the only data-proportional join is the within-cell pairing,
    bounded by cell size exactly like the IVF candidate argument — size
    cells with ``n_centroids ~ n / target_cell_size`` and the pairing
    is (n × target_cell_size), never n². The keep rule is one
    min-aggregation; no iteration, no connected components (the ε-ball
    keeper relation needs no transitive closure by construction).

    COMPUTE envelope: the fold assignment is exchange-free but still
    evaluates n × K dots — with K derived ∝ n (e.g.
    ``n / target_cell_size``) that is quadratic-in-n compute BY
    CONSTRUCTION, which is why the measured 16× wall ratio stays ~5.6
    however the assignment is planned (docs/SCALE.md). Past K ≈ 2·√n the two-level
    :func:`semantic_dedup_hier` (O(n·2√K) scoring, same keep-first rule)
    is the intended escape — at 10⁹ vectors and target cells of 64 the
    flat form scores ~1.6 × 10⁷ centroids per vector while the hier
    form scores ~8 × 10³. Pass ``n_rows`` (the catalog's row count —
    never a count() action here) to get a log warning when
    ``n_centroids`` crosses that line; sizing guidance lives in
    docs/SCALE.md's SemDeDup section.

    ``n_rows`` also picks the assignment form on the measured nK
    crossover (:func:`_resolve_assign` — the arrow twin only when
    ``n_rows × n_centroids`` reaches :data:`_AUTO_ARROW_MIN_NK`;
    without ``n_rows`` the fold runs, no extra action). The derived-K
    quadratic regime this function's COMPUTE envelope flags is exactly
    where the knee flips: at 16× / K=500 the arrow assignment measured
    ~7× faster than the interpreted fold (docs/SCALE.md). Both forms
    are bit-equal on finite inputs (the arrow twin's IEEE-sequence
    contract) in the final AND the per-Lloyd-round assignment, so the
    pick never changes results.
    """
    form = _resolve_assign(n_rows, n_centroids)
    if n_rows is not None and n_centroids > 2 * (n_rows ** 0.5):
        import logging

        logging.getLogger(__name__).warning(
            "semantic_dedup: n_centroids=%d exceeds ~2*sqrt(n)=%.0f for "
            "n_rows=%d — flat assignment compute is O(n*K) and K here is "
            "past the quadratic knee; use semantic_dedup_hier "
            "(O(n*2*sqrt(K))) for derived-K corpora (docs/SCALE.md)",
            n_centroids, 2 * (n_rows ** 0.5), n_rows,
        )
    cents = ivf_centroids(df, id_col, vec_col, n_centroids, lloyd_rounds,
                          n_rows=n_rows)
    base = ensure_min_parallelism(
        df.select(
            F.col(id_col).alias("vec_id"),
            _vd(vec_col).alias("v"),
            _vn(vec_col).alias("vn"),
        )
    )
    assigned = (
        _arrow_assign(base, cents)
        if form == "arrow"
        else _fold_assign(base, cents)
    )
    return _keep_first_in_cells(assigned, threshold)


def _keep_first_in_cells(assigned: DataFrame, threshold: float) -> DataFrame:
    """Keep-first ε-ball rule over a (vec_id, v, vn, cell) assignment:
    drop a vector when any lower-id cellmate has cosine >= threshold;
    ``dup_of`` is the smallest such witness (see :func:`semantic_dedup`
    on witness-vs-keeper semantics). One within-cell pair join + one
    min-aggregation — bounded by cell size, never n²."""
    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"),
        F.col("vn").alias("a_vn"), F.col("cell").alias("a_cell"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("b_v"),
        F.col("vn").alias("b_vn"), F.col("cell").alias("b_cell"),
    )
    # try_divide: pairs involving a zero-norm vector have NULL cosine,
    # which never satisfies >= threshold — the zero-norm row is KEPT
    # (and never throws under ANSI mode)
    sim = F.try_divide(
        dot(F.col("a_v"), F.col("b_v")), F.col("a_vn") * F.col("b_vn")
    )
    dups = (
        a.join(
            b,
            (F.col("a_cell") == F.col("b_cell"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .where(sim >= threshold)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.min("a_id").alias("dup_of"))
    )
    return assigned.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.col("dup_of").isNull().alias("kept"),
        "dup_of",
    )


def _arrow_fine_assign(v2c: DataFrame, f2c: DataFrame) -> DataFrame:
    """(vec_id, v, vn, cell): the Arrow twin of
    :func:`semantic_dedup_hier`'s FINE assignment stage — each vector
    scores only its winning coarse group's fine centroids, map-only,
    with the per-group centroid subsets collected once driver-side
    (K rows total, the same bounded payload the fold broadcasts as C
    grouped arrays) — the per-group analogue of
    :func:`_ivf_pq_arrow_fused`'s codebook pattern.

    Bit-equal to the fold's ``join(broadcast(fc_arr)) →
    _argmax_cell(fc)`` on finite inputs, mirrored property by property:
    scores are the fold's exact IEEE sequence (:func:`_seq_scores`);
    group columns are cell-ascending so ``np.argmax``'s
    first-occurrence tie-break equals the strict-> fold over the
    sorted array; a zero-norm fine centroid is excluded from scoring
    (the fold NULL-skips it) but still anchors the all-unscorable
    fallback, which is the group's smallest cell id INCLUDING
    unscorable entries (the fold's INIT = element_at(arr, 1)); a
    vector whose coarse group has NO fine members is dropped (the
    fold's inner join); and a zero-norm vector scores 0.0 everywhere,
    taking the smallest scorable cell. Same validation divergence as
    every arrow twin: NULL/ragged/non-finite vectors raise
    (:func:`_list_matrix`) where the fold NULL-propagates."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rows = f2c.select("ccell", "cell", "cv", "cn").collect()
    groups: dict[int, tuple[int, object, object]] = {}
    tmp: dict[int, list] = {}
    for r in rows:
        tmp.setdefault(int(r.ccell), []).append(r)
    for cc, rs in tmp.items():
        rs.sort(key=lambda r: int(r.cell))
        fallback = int(rs[0].cell)
        cells, mats = [], []
        for r in rs:
            if r.cn != 0:
                cells.append(int(r.cell))
                mats.append(
                    np.asarray(r.cv, dtype=np.float64) / np.float64(r.cn)
                )
        mat = np.stack(mats, axis=0) if mats else np.zeros((0, 0))
        if mat.size and not np.isfinite(mat).all():
            raise ValueError(
                "arrow assignment: non-finite centroid components are "
                "not supported (see _list_matrix's NaN-ordering note)"
                + _FOLD_ESCAPE
            )
        groups[cc] = (fallback, np.asarray(cells, dtype=np.int64), mat)
    bc = v2c.sparkSession.sparkContext.broadcast(groups)

    out_schema = StructType(
        [
            StructField("vec_id", v2c.schema["vec_id"].dataType),
            StructField("v", ArrayType(DoubleType())),
            StructField("vn", DoubleType()),
            StructField("cell", LongType()),
        ]
    )

    def run(batches):
        import pyarrow as pa

        gs = bc.value
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            # columns: vec_id, v, vn, ccell (select below fixes order)
            vm = _list_matrix(batch.column(1))
            ccells = batch.column(3).to_numpy(zero_copy_only=False)
            out = np.empty(n, np.int64)
            keep = np.ones(n, bool)
            for cc in np.unique(ccells):
                idx = np.nonzero(ccells == cc)[0]
                grp = gs.get(int(cc))
                if grp is None:
                    # coarse group with no fine members: the fold's
                    # inner join drops these vectors — mirror exactly
                    keep[idx] = False
                    continue
                fallback, cells, mat = grp
                if mat.size == 0:
                    out[idx] = fallback
                    continue
                if vm.shape[1] != mat.shape[1]:
                    raise ValueError(
                        f"arrow assignment: vector dims {vm.shape[1]} != "
                        f"centroid dims {mat.shape[1]}" + _FOLD_ESCAPE
                    )
                scores = _seq_scores(vm[idx], mat)
                out[idx] = cells[np.argmax(scores, axis=1)]
            take = pa.array(np.nonzero(keep)[0])
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(take),
                    batch.column(1).take(take),
                    batch.column(2).take(take),
                    pa.array(out[keep]),
                ],
                names=["vec_id", "v", "vn", "cell"],
            )

    return v2c.select("vec_id", "v", "vn", "ccell").mapInArrow(run, out_schema)


def semantic_dedup_hier(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    coarse_cells: int = 4,
    threshold: float = 0.95,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup with TWO-LEVEL (coarse→fine) centroid quantization —
    the assignment-cost escape for :func:`semantic_dedup` (which warns
    toward this function when a caller-supplied ``n_rows`` shows
    ``n_centroids`` past the ~2·√n quadratic-compute knee).

    The flat form's dominant cost at scale is the exact assignment
    join: every vector scores against every fine centroid, O(n × K)
    (measured 16× ratio 5.58, docs/SCALE.md). Here the K fine
    centroids are themselves clustered into ``coarse_cells`` groups
    (same deterministic hash-seeding, K × C work — negligible), and
    each vector scores only the C coarse centroids plus the fine
    centroids of its winning coarse group: O(n × (C + K/C)) — with
    C ≈ √K that is O(n × 2√K), an 8× cut at K=256 and growing with K.
    The classic IVF-on-centroids trade: a vector whose true nearest
    fine centroid lives in a different coarse group gets a slightly
    coarser cell; the keep-first rule inside the cell stays exact, so
    the failure mode is a missed cross-cell near-duplicate — the same
    recall trade every blocked dedup in this tree makes, never a false
    drop. All steps are deterministic column algebra (md5-seeded, exact
    tie-breaks) so the DuckDB oracle mirrors the assignment bit-for-bit.

    Returns (vec_id, cell, kept, dup_of) exactly like
    :func:`semantic_dedup`; ``cell`` is the fine cell id.

    ``n_rows`` picks the assignment form as in :func:`semantic_dedup`
    (:func:`_resolve_assign` on the measured nK crossover), where the
    per-row dot count here is ``coarse_cells + n_centroids /
    coarse_cells`` (the two-level scoring envelope), not K, against the
    hier knee :data:`_AUTO_ARROW_MIN_NK_HIER`; without a stat the fold
    runs. Past the knee both assignment stages run as the bit-equal
    vectorized twins (:func:`_arrow_assign` for the coarse stage — the
    C-centroid fold IS :func:`_fold_assign` with renamed fields — and
    :func:`_arrow_fine_assign` for the per-group fine stage); the
    keep-first tail is shared. Arrow validates its inputs (NULL/ragged/
    non-finite raise) where the fold NULL-propagates — clean a dirty
    corpus first, or call without ``n_rows``.
    """
    form = _resolve_assign(
        n_rows,
        coarse_cells + max(1, n_centroids // max(coarse_cells, 1)),
        min_nk=_AUTO_ARROW_MIN_NK_HIER,
    )
    if n_centroids < 1:
        raise ValueError(
            f"semantic_dedup_hier: n_centroids must be >= 1, got {n_centroids}"
        )
    if not 1 <= coarse_cells <= n_centroids:
        raise ValueError(
            "semantic_dedup_hier: coarse_cells must satisfy "
            f"1 <= coarse_cells <= n_centroids, got {coarse_cells}"
        )
    cents = ivf_centroids(df, id_col, vec_col, n_centroids, lloyd_rounds=0)
    # cluster the centroids: coarse ids over the K fine centroids
    ccents = ivf_centroids(
        cents, "cell", "cv", n_centroids=coarse_cells, lloyd_rounds=0
    ).select(
        F.col("cell").alias("ccell"),
        F.col("cv").alias("ccv"),
        F.col("cn").alias("ccn"),
    )
    # fine → coarse map: K × C broadcast, tiny
    f2c_sim = F.try_divide(
        dot(F.col("cv"), F.col("ccv")), F.col("cn") * F.col("ccn")
    )
    f2c = (
        cents.join(F.broadcast(ccents))
        .select("cell", "cv", "cn", "ccell", f2c_sim.alias("fsim"))
        .withColumn(
            "frank",
            F.row_number().over(
                Window.partitionBy("cell").orderBy(
                    F.col("fsim").desc(), F.col("ccell")
                )
            ),
        )
        .where(F.col("frank") == 1)
        .select("cell", "cv", "cn", "ccell")
    )
    base = ensure_min_parallelism(
        df.select(
            F.col(id_col).alias("vec_id"),
            _vd(vec_col).alias("v"),
            _vn(vec_col).alias("vn"),
        )
    )
    # Assignment is MAP-ONLY: instead of fanning each vector out to
    # n × C rows through a broadcast join and collapsing with a
    # per-vec_id rank window (an exchange of C vector copies), the
    # centroid set rides along as ONE broadcast array-of-structs row and
    # a per-row aggregate fold (the shared :func:`_argmax_cell`, also
    # used by the flat/Lloyd assignments) computes the argmax in place
    # — the lsh_bucket_expr pattern. Tie-break, pre-normalization rationale
    # and the zero-norm vector/centroid semantics are documented on the
    # helper; the DuckDB oracle mirrors them exactly.
    #
    # vector → coarse group: fold over the C pre-normalized coarse
    # centroids
    if form == "arrow":
        v2c = _arrow_assign(
            base,
            ccents.select(
                F.col("ccell").alias("cell"),
                F.col("ccv").alias("cv"),
                F.col("ccn").alias("cn"),
            ),
        ).select("vec_id", "v", "vn", F.col("cell").alias("ccell"))
    else:
        cc_arr = ccents.select(
            "ccell",
            F.transform("ccv", lambda x: F.try_divide(x, F.col("ccn"))).alias(
                "ccvu"
            ),
        ).agg(F.sort_array(F.collect_list(F.struct("ccell", "ccvu"))).alias("cc"))
        v2c = base.crossJoin(F.broadcast(cc_arr)).select(
            "vec_id",
            "v",
            "vn",
            _argmax_cell(F.col("cc"), "ccell", "ccvu").alias("ccell"),
        )
    # vector → fine cell WITHIN its coarse group: the K pre-normalized
    # fine centroids grouped into C broadcast arrays (~K/C structs
    # each); the join key is the coarse id, the fold scores only that
    # group's centroids
    if form == "arrow":
        assigned = _arrow_fine_assign(v2c, f2c)
    else:
        fc_arr = (
            f2c.select(
                F.col("ccell").cast("long").alias("ccell"),
                "cell",
                F.transform("cv", lambda x: F.try_divide(x, F.col("cn"))).alias("cvu"),
            )
            .groupBy("ccell")
            .agg(F.sort_array(F.collect_list(F.struct("cell", "cvu"))).alias("fc"))
        )
        assigned = v2c.join(F.broadcast(fc_arr), "ccell").select(
            "vec_id",
            "v",
            "vn",
            _argmax_cell(F.col("fc"), "cell", "cvu").alias("cell"),
        )
    return _keep_first_in_cells(assigned, threshold)
