"""Upsert / dedup / merge kernels (SURVEY.md §2.5).

The reference gets upsert semantics from Postgres ``INSERT ... ON CONFLICT``
executed one row per transaction (``realtime_extractor.py:198-234`` — its
dominant cost). On Spark there is no mutable row store; the same semantics
compile to *window dedup over a union*, executed set-at-a-time:

- ``upsert_ignore``  — first-writer-wins (``ON CONFLICT DO NOTHING``,
  ``historical_extractor.py:85-87``): keep the earliest observation per key.
- ``upsert_keep_newest`` — the conditional update (``ON CONFLICT DO UPDATE
  ... WHERE changed``, ``realtime_extractor.py:205-230``): keep the newest
  observation per key; ``updated_at`` is touched only when a tracked value
  actually changed relative to the previous version.

Scale notes: one shuffle on the key columns (the minimum possible — any
upsert must co-locate keys). At 100 TB the stored table is partitioned by
``start_date`` so the union+window only runs over the partitions the batch
touches; with Delta/Iceberg the same kernel drives ``MERGE INTO``. AQE
handles skewed keys (a hot trip_id) via skew-join splitting.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.sinks import local_path, overwrite_table
from transit_efficiency_analysis_spark.sinks import read_table, table_exists


class ConcurrentWriteError(RuntimeError):
    """A concurrent writer won the commit race: the manifest advanced
    between this operation's read and its commit, in a bucket a merge
    rewrote or anywhere for a compaction. It is the only commit
    conflict the manifest protocol raises. The table is untouched; a
    losing merge's published version dirs remain as sweepable orphans,
    and a losing compaction publishes none. A RuntimeError subclass, so
    callers catching RuntimeError keep working; :func:`merge_with_retry`
    and :func:`filter_with_retry` catch it to recompute and retry."""


def _ordering(cols: list[str], descending: bool) -> list[Column]:
    return [F.col(c).desc() if descending else F.col(c).asc() for c in cols]


def upsert_ignore(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """First-writer-wins dedup: keep the first row per ``keys`` ordered by
    ``order_by`` ascending. Deterministic iff ``order_by`` is a total order
    within each key group (include a unique tiebreaker column).
    """
    w = Window.partitionBy(*keys).orderBy(*_ordering(order_by, descending=False))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_keep_newest(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    tracked: list[str] | None = None,
    now_col: str | None = None,
) -> DataFrame:
    """Keep the newest row per ``keys`` (ordered by ``order_by`` descending).

    When ``tracked`` is given, an ``updated_at`` column is produced carrying
    ``now_col`` (a timestamp column name present in ``df``) only if any
    tracked column differs from the *previous* (second-newest) version —
    the reference's conditional-update suppression
    (``realtime_extractor.py:216-218,228-230``); otherwise NULL.
    """
    w = Window.partitionBy(*keys).orderBy(*_ordering(order_by, descending=True))
    ranked = df.withColumn("__rn", F.row_number().over(w))
    if tracked is None:
        return ranked.where(F.col("__rn") == 1).drop("__rn")

    # a lead over a constant distinguishes "no previous version" from
    # "previous version whose tracked value is NULL" — a NULL→value change
    # must still count as changed
    prev_exists = F.lead(F.lit(1), 1).over(w).isNotNull()
    any_diff: Column = F.lit(False)
    for t in tracked:
        prev = F.lead(t, 1).over(w)  # next row in desc order = previous version
        any_diff = any_diff | ~F.col(t).eqNullSafe(prev)
    ranked = ranked.withColumn("__changed", prev_exists & any_diff)
    out = ranked.where(F.col("__rn") == 1)
    if now_col is not None:
        out = out.withColumn(
            "updated_at",
            F.when(F.col("__changed"), F.col(now_col)).otherwise(
                F.lit(None).cast("timestamp")
            ),
        )
    return out.drop("__rn", "__changed")


def replay_conflict_update(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    tracked: list[str],
    ts_col: str,
    created_col: str = "created_at",
    updated_col: str = "updated_at",
) -> DataFrame:
    """Set-based replay of ``INSERT ... ON CONFLICT DO UPDATE ... WHERE
    <tracked changed>`` (``realtime_extractor.py:205-230``) over an
    observation log.

    Per key (observations ordered by ``order_by`` ascending) the stored row
    advances only when a ``tracked`` value differs from the stored row's;
    an unchanged re-delivery keeps the stored row ENTIRELY — non-tracked
    payload (weather...), ``updated_col``, everything — exactly like the
    reference's suppressed update.

    Why one window pass suffices: every suppressed observation's tracked
    values equal the stored row's (that is why it was suppressed), so
    "differs from stored" ≡ "differs from the immediately preceding
    observation". The survivor is therefore the newest *change-point* row
    (first observation, or tracked differs from its predecessor) — no
    sequential fold needed, one shuffle on the keys.

    Output per key — the change-point row's full payload, plus:

    - ``created_col`` = the first observation's ``created_col`` if set
      (pre-existing state carries its original first-insert stamp), else
      that observation's ``ts_col`` (fresh insert).
    - ``updated_col`` = the survivor's ``ts_col`` when it fired an update
      (i.e. it has a predecessor), else the survivor's own carried
      ``updated_col`` (NULL for a fresh never-updated insert).

    Missing audit columns are added as NULL timestamps.

    The plan is one projection per window level (annotate, rank, stamp),
    not a chain of ``withColumn`` calls that each re-analyze the plan.
    """
    df = _with_audit(df, (created_col, updated_col))
    cols = df.columns
    w = Window.partitionBy(*keys).orderBy(*_ordering(order_by, descending=False))
    has_prev = F.lag(F.lit(1), 1).over(w).isNotNull()
    any_diff: Column = F.lit(False)
    for t in tracked:
        any_diff = any_diff | ~F.col(t).eqNullSafe(F.lag(t, 1).over(w))
    first_created = F.first(F.coalesce(F.col(created_col), F.col(ts_col))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    annotated = df.select(
        *cols,
        has_prev.alias("__has_prev"),
        (~has_prev | any_diff).alias("__is_cp"),
        first_created.alias("__first_created"),
    )
    w_desc = Window.partitionBy(*keys).orderBy(*_ordering(order_by, descending=True))
    survivor = (
        annotated.where(F.col("__is_cp"))
        .select("*", F.row_number().over(w_desc).alias("__rn"))
        .where(F.col("__rn") == 1)
    )
    stamped = {
        created_col: F.col("__first_created"),
        updated_col: F.when(F.col("__has_prev"), F.col(ts_col)).otherwise(
            F.col(updated_col)
        ),
    }
    return survivor.select(
        *[stamped[c].alias(c) if c in stamped else F.col(c) for c in cols]
    )


def _with_audit(df: DataFrame, audit: tuple[str, ...]) -> DataFrame:
    """``df`` with each missing ``audit`` column added as a NULL timestamp."""
    missing = [c for c in audit if c not in df.columns]
    if not missing:
        return df
    return df.withColumns({c: F.lit(None).cast("timestamp") for c in missing})


def merge_batch(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    order_by: list[str],
    tracked: list[str] | None = None,
    ts_col: str | None = None,
) -> DataFrame:
    """Apply a micro-batch of ``incoming`` rows onto ``existing`` state.

    Without ``tracked``: union + keep-newest per key (pure last-writer-wins
    — note this is NOT the reference's conditional upsert: an unchanged
    re-delivery still replaces the stored row, overwriting non-tracked
    payload).

    With ``tracked`` (+ ``ts_col``): full ``ON CONFLICT DO UPDATE ...
    WHERE changed`` replay semantics via :func:`replay_conflict_update` —
    unchanged re-deliveries keep the stored row (weather, ``updated_at``)
    intact, and audit columns are maintained (``created_at`` = first
    observation, ``updated_at`` = last real change). Batching-invariant:
    any split of the same observation stream into micro-batches yields the
    same state (property-tested in tests/test_upsert.py)."""
    if tracked is None:
        return upsert_keep_newest(existing.unionByName(incoming), keys, order_by)
    if ts_col is None:
        raise ValueError("ts_col is required when tracked is given")
    audit = ("created_at", "updated_at")
    unioned = _with_audit(existing, audit).unionByName(_with_audit(incoming, audit))
    return replay_conflict_update(unioned, keys, order_by, tracked, ts_col)


def merge_into(
    target: str,
    incoming: DataFrame,
    keys: list[str],
    order_by: list[str],
    tracked: list[str] | None = None,
    ts_col: str | None = None,
) -> DataFrame:
    """Persisted upsert: apply ``incoming`` onto the TABLE at ``target``
    and return a DataFrame over the committed state — the storage-backed
    face of :func:`merge_batch`, which IS the specification.

    Reads the current state with its footer schema (``sinks.read_table``,
    no inference job), runs :func:`merge_batch`, and commits with
    the atomic versioned-dir overwrite (``sinks.overwrite_table``:
    readers never see a partial table). O(table) per batch, the honest
    cost without a transactional table format; for a large table use
    :func:`merge_into_partitioned`, which rewrites only the buckets a
    batch touches.
    """
    spark = incoming.sparkSession

    # "First batch" means TRUE ABSENCE of the target, probed explicitly —
    # never inferred from a read failure. A bare except here would turn any
    # transient read error (permissions, flaky FS, corrupt footer) into
    # "first batch" and the subsequent overwrite_table would silently
    # replace the committed table with just the incoming rows.
    if table_exists(target):
        existing = read_table(spark, target)  # read errors re-raise
    else:
        existing = spark.createDataFrame([], incoming.schema)
    merged = merge_batch(existing, incoming, keys, order_by, tracked, ts_col)
    return overwrite_table(merged, target)


def merge_match_condition(keys: list[str]) -> str:
    """Null-safe key-equality MERGE match condition (``t`` = stored table,
    ``s`` = collapsed source batch). ``<=>`` so NULL key components match
    NULL — the same key semantics ``merge_batch``'s groupBy gives them.
    Pure string builder, executed by :func:`merge_sql_plan` and
    unit-tested as SQL (tests/test_upsert.py). ``keys`` must be non-empty
    (matching ``merge_batch``'s implicit contract) — an empty list would
    yield an empty string and malformed MERGE SQL downstream. Raises
    ``ValueError`` (not ``assert``, which ``python -O`` strips — ADVICE
    r9) so the guard survives optimized interpreters."""
    if not keys:
        raise ValueError("merge_match_condition: keys must be non-empty")
    return " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)


def merge_newer_condition(order_by: list[str]) -> str:
    """Lexicographic "source strictly newer than target" on ``order_by``:
    OR over prefixes — equal on all earlier columns (null-safe) AND
    strictly greater on this one. Ties (all columns equal) are FALSE, so
    matched rows keep the stored value — the same tie-break direction as
    ``merge_batch``'s row_number dedup when ``order_by`` is a total
    order. Pure string builder, executed by :func:`merge_sql_plan`.
    ``order_by`` must be non-empty — an empty list would yield an empty
    string and malformed MERGE SQL downstream. Raises ``ValueError`` (not
    ``assert``, which ``python -O`` strips — ADVICE r9).

    NULL order-key components are "oldest" (round 12, ADVICE r11): each
    per-column term is null-aware — a non-NULL source value beats a
    stored NULL (``t IS NULL AND s IS NOT NULL``), a NULL source never
    beats a stored value, NULL ties NULL (the ``<=>`` prefix). This is
    exactly ``merge_batch``'s ordering (row_number over ``desc``, which
    is NULLS LAST in Spark), so the batch-split parity spec holds with
    NULL order keys too; the bare ``s > t`` form evaluated to NULL
    against a stored NULL and silently froze such rows forever."""
    if not order_by:
        raise ValueError("merge_newer_condition: order_by must be non-empty")
    newer_terms = []
    for i, c in enumerate(order_by):
        eqs = " AND ".join(f"t.`{p}` <=> s.`{p}`" for p in order_by[:i])
        term = (
            f"(t.`{c}` IS NULL AND s.`{c}` IS NOT NULL) "
            f"OR s.`{c}` > t.`{c}`"
        )
        newer_terms.append(f"({eqs} AND ({term}))" if eqs else f"({term})")
    return " OR ".join(newer_terms)


def merge_into_sql(
    target: str,
    incoming: DataFrame,
    keys: list[str],
    order_by: list[str],
) -> DataFrame:
    """Pure-Parquet last-writer-wins MERGE: the MERGE INTO condition
    strings (:func:`merge_match_condition` /
    :func:`merge_newer_condition`) compiled into one full-outer-join plan
    over (stored state, collapsed batch) and committed with the atomic
    versioned-dir swap (``sinks.overwrite_table`` — readers never observe
    a partial table).

    Semantics: the batch collapses per key first, a matched stored row
    updates only when the source is strictly newer on ``order_by`` (ties
    keep the stored row), unmatched sources insert. The MERGE row algebra::

        FROM t FULL OUTER JOIN s ON <match-condition>
        take s's row  WHEN s present AND (t absent OR <newer-condition>)
        keep t's row  otherwise

    Presence is decided by literal ``TRUE`` marker columns (NULL only
    when that join side is absent) — never by key-nullness, since
    ``<=>`` match keys may legitimately be NULL. One shuffle (the
    full-outer join on the match keys); O(table) rewrite per batch is
    the honest cost without a transactional format — at 100 TB partition
    the table and rewrite only touched partitions
    (:func:`merge_into_partitioned`).
    """
    spark = incoming.sparkSession
    collapsed = upsert_keep_newest(incoming, keys, order_by)

    if not table_exists(target):
        return overwrite_table(collapsed, target)

    existing = read_table(spark, target)
    merged = merge_sql_plan(existing, collapsed, keys, order_by)
    return overwrite_table(merged, target)


def merge_sql_plan(
    existing: DataFrame,
    collapsed: DataFrame,
    keys: list[str],
    order_by: list[str],
) -> DataFrame:
    """The executed-MERGE row algebra of :func:`merge_into_sql`, as a
    plan (no storage commit) — factored out so the full-outer-join shape
    is plan-testable without going through parquet. ``collapsed`` must
    already be one row per key (``upsert_keep_newest``)."""
    t = existing.withColumn("__p", F.lit(True)).alias("t")
    s = collapsed.withColumn("__p", F.lit(True)).alias("s")
    match = merge_match_condition(keys)
    newer = merge_newer_condition(order_by)
    take_s = F.expr("s.`__p` IS NOT NULL") & (
        F.expr("t.`__p` IS NULL") | F.expr(newer)
    )
    return t.join(s, F.expr(match), "full_outer").select(
        *[
            F.when(take_s, F.col(f"s.`{c}`"))
            .otherwise(F.col(f"t.`{c}`"))
            .alias(c)
            for c in collapsed.columns
            if c != "__p"
        ]
    )


# ------------------------------------------------------------------
# Batch-proportional pure-Parquet MERGE over a hash-bucketed table
#
# On-disk layout of a table at ``target``:
#
#   .merge_meta.json  num_buckets, keys, order_by, the stored-row schema
#                     and "commit": "manifest"; written once, first
#   .manifest.json    bucket -> committed version; the ONE mutable
#                     object, replaced atomically per commit
#   .v/b<B>_v<V>/     write-once parquet version dirs (dot-prefixed, so
#                     invisible to Spark's file listing)
#
# Readers list nothing: they resolve the manifest and read the named
# version dirs. A merge or compaction writes its output to a staging
# dir, publishes each rewritten bucket as a NEW version dir (os.rename
# on the same filesystem) and then commits every rewritten bucket in one
# manifest swap (temp file, fsync, os.replace, fsync of the directory).
# A reader sees batch N in every bucket or batch N-1 in every bucket.
#
# Concurrent writers are detected, not locked out. Merge and compaction
# re-read the manifest immediately before their swap and base the
# commit on that current state, so a concurrent writer's commit to
# disjoint buckets survives. When a bucket they rewrote advanced or
# vanished meanwhile they raise ConcurrentWriteError; the loser's
# version dirs stay as unreferenced orphans (invisible to readers,
# reclaimed by sweep_orphans) and committed data is never destroyed.
# The remaining lost-update window is the re-read -> swap gap, a few
# microseconds: POSIX has no conditional replace to close it.

_BUCKET_COL = "p_bucket"
_META_NAME = ".merge_meta.json"
_MANIFEST_NAME = ".manifest.json"
_VROOT = ".v"
_VERSION_DIR = re.compile(r"^b(\d+)_v(\d+)$")


def _bucket_expr(keys: list[str], num_buckets: int) -> Column:
    """Stable bucket id for a merge key: pmod(xxhash64(keys), n).
    xxhash64 is deterministic across sessions/executors (fixed seed) and
    NULL key components hash deterministically, so a key's bucket never
    moves between batches — the invariant the partitioned layout rests
    on."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast(
        "int"
    )


def _write_json_durably(local: str, name: str, obj) -> None:
    """Atomically replace ``<local>/<name>`` with ``obj`` as JSON: write
    a temp file, fsync it, ``os.replace`` it over ``name``, then fsync
    the directory. The contents are fsynced BEFORE the rename (ext4/xfs
    may otherwise persist the rename with empty contents after power
    loss, and a torn file makes every later merge/filter/read fail on
    ``json.load``) and the directory AFTER it (the rename itself). A
    failed write removes its temp file."""
    stem = os.path.splitext(name)[0]
    tmp = os.path.join(local, f"{stem}_{uuid.uuid4().hex[:12]}.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(local, name))
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    try:
        dfd = os.open(local, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:  # pragma: no cover - platform without dir fsync
        pass


def _write_meta_once(
    local: str,
    num_buckets: int,
    keys: list[str],
    order_by: list[str],
    schema_json: dict,
) -> None:
    """Durably write a fresh table's ``.merge_meta.json``. The
    stored-row schema (no p_bucket) lets the empty-table paths return a
    typed empty relation. Meta is written FIRST: a crash before the
    first manifest swap leaves meta-only, which reads as an empty
    table, and the next merge recreates it."""
    meta = {
        "num_buckets": num_buckets,
        "keys": keys,
        "order_by": order_by,
        "schema": schema_json,
        "commit": "manifest",
    }
    _write_json_durably(local, _META_NAME, meta)


def _read_meta(local: str, target: str) -> dict | None:
    """The table's meta, or None when no merge has created one. A meta
    without ``"commit": "manifest"`` belongs to a table written by the
    retired symlink commit protocol (``p_bucket=N`` links into ``.v/``);
    it is rejected rather than read as empty or overwritten."""
    try:
        with open(os.path.join(local, _META_NAME)) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return None
    if meta.get("commit") != "manifest":
        raise ValueError(
            f"table at {target} was written by the retired symlink commit "
            "protocol (no manifest); only manifest-protocol tables are "
            "supported — rebuild it by merging its rows into a new path"
        )
    return meta


def _read_manifest(local: str) -> dict[int, int]:
    """The committed ``bucket -> version`` map; {} when no commit has
    reached the table yet."""
    path = os.path.join(local, _MANIFEST_NAME)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


def _write_manifest(local: str, manifest: dict[int, int]) -> None:
    """THE commit: every bucket of ``manifest`` becomes visible at once."""
    _write_json_durably(
        local, _MANIFEST_NAME, {str(b): v for b, v in sorted(manifest.items())}
    )


def _version_path(local: str, bucket: int, version: int) -> str:
    return os.path.join(local, _VROOT, f"b{bucket}_v{version}")


def _list_versions(local: str) -> dict[int, list[tuple[int, str]]]:
    """Every published version dir, committed or orphaned, as
    ``bucket -> [(version, path), ...]`` ascending — ONE listing of
    ``.v/`` serves a whole commit's publishes and cleanup, however many
    buckets it touches."""
    vroot = os.path.join(local, _VROOT)
    versions: dict[int, list[tuple[int, str]]] = {}
    if os.path.isdir(vroot):
        for name in os.listdir(vroot):
            if m := _VERSION_DIR.match(name):
                versions.setdefault(int(m.group(1)), []).append(
                    (int(m.group(2)), os.path.join(vroot, name))
                )
    for listed in versions.values():
        listed.sort()
    return versions


def _publish(
    local: str,
    staged: str,
    bucket: int,
    committed: int,
    listed: list[tuple[int, str]],
) -> int:
    """Rename a staged bucket dir to a new write-once version dir and
    return its version: one above both ``committed`` and every version
    dir of the bucket in ``listed`` (the commit's :func:`_list_versions`
    entry), orphans included, so a crashed writer's id is never reused.
    A concurrent writer that published the same version after the
    listing wins: the rename onto its non-empty dir fails, so a
    published dir is never replaced, and this commit raises
    :class:`ConcurrentWriteError`."""
    version = max(listed[-1][0] if listed else 0, committed) + 1
    os.makedirs(os.path.join(local, _VROOT), exist_ok=True)
    try:
        os.rename(staged, _version_path(local, bucket, version))
    except OSError as exc:
        if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            raise
        raise ConcurrentWriteError(
            f"version dir b{bucket}_v{version} was published by a "
            "concurrent writer during this commit; the manifest is "
            "untouched — rerun (or use merge_with_retry/filter_with_retry)"
        ) from exc
    return version


def _manifest_dirs(
    local: str, manifest: dict[int, int], buckets=None
) -> list[str]:
    return [
        _version_path(local, b, v)
        for b, v in sorted(manifest.items())
        if buckets is None or b in buckets
    ]


def _empty_table(spark, meta: dict) -> DataFrame:
    from pyspark.sql.types import StructType

    return spark.createDataFrame([], StructType.fromJson(meta["schema"]))


def read_partitioned(spark, target: str) -> DataFrame:
    """Read a :func:`merge_into_partitioned` table: the committed
    version dirs resolved through the manifest — zero directory
    listing. A table with no committed
    rows (an empty first batch, or a compaction that dropped every
    bucket) returns a typed empty relation from the meta's stored
    schema."""
    local = local_path(target)
    meta = _read_meta(local, target)
    if meta is None:
        raise FileNotFoundError(
            f"read_partitioned: no merge_into_partitioned table at {target}"
        )
    manifest = _read_manifest(local)
    if not manifest:
        return _empty_table(spark, meta)
    return spark.read.parquet(*_manifest_dirs(local, manifest))


def sweep_orphans(target: str) -> list[str]:
    """Delete version dirs the table's current manifest does not name,
    returning the deleted paths. ONLY safe with writers quiesced: a
    merge mid-commit has published its version dir but not yet swapped
    the manifest, and this sweep would delete it — which is why neither
    merges nor compactions sweep on their own. Run it from the
    maintenance window that owns compaction. A deletion failure
    (EACCES, EIO) raises rather than reporting the path as deleted — the
    returned list names only dirs that are actually gone."""
    local = local_path(target)
    _read_meta(local, target)
    if not os.path.exists(os.path.join(local, _MANIFEST_NAME)):
        raise ValueError(
            f"table at {target} is not manifest-protocol: it has no "
            "committed manifest to sweep against"
        )
    manifest = _read_manifest(local)
    live = {f"b{b}_v{v}" for b, v in manifest.items()}
    vroot = os.path.join(local, _VROOT)
    deleted = []
    for name in sorted(os.listdir(vroot)) if os.path.isdir(vroot) else []:
        if name not in live:
            path = os.path.join(vroot, name)
            shutil.rmtree(path)
            deleted.append(path)
    return deleted


def merge_into_partitioned(
    target: str,
    incoming: DataFrame,
    keys: list[str],
    order_by: list[str],
    num_buckets: int = 32,
    wide_threshold: float = 0.5,
    return_touched_only: bool = False,
    _before_commit=None,
) -> DataFrame:
    """Batch-proportional pure-Parquet MERGE: ``merge_into_sql``
    semantics (last-writer-wins, strictly-newer guard, null-safe match
    keys — the executed :func:`merge_match_condition` /
    :func:`merge_newer_condition` algebra via :func:`merge_sql_plan`)
    over a hash-bucketed table, rewriting ONLY the buckets the batch
    touches. ``merge_into_sql`` rewrites O(table) per batch; this
    layout makes merge wall ∝ batch.

    Layout and commit protocol: see the comment block above
    :func:`_bucket_expr`. A key's bucket is ``pmod(xxhash64(keys),
    num_buckets)`` — a deterministic function of the merge key, so every
    observation of a key lands in the same bucket forever.

    Per merge: the batch collapses per key (one shuffle), the touched
    bucket ids are collected (bounded by ``num_buckets`` — a driver-side
    list of ints, never rows), the stored side is read from the touched
    buckets' committed version dirs only (O(touched) paths, resolved
    through the manifest), the full-outer MERGE join runs against that
    slice, and only touched buckets get new version dirs. Untouched
    buckets keep their manifest entry and their version dir; their files
    are never opened or written. All touched buckets become visible in
    one atomic manifest swap.

    At 100 TB: table/num_buckets bounds a bucket, so a merge costs one
    batch shuffle + scan/rewrite of ``touched/num_buckets`` of the
    table. Size ``num_buckets`` so a bucket fits an executor comfortably
    (e.g. 4096 buckets ≈ 25 GB each); a trickle of small batches touches
    few buckets and pays proportionally (measured flat to 64x table
    scale in docs/SCALE.md). A WIDE batch — touched fraction >=
    ``wide_threshold`` of the buckets — degenerates to a full-table
    rewrite; the naive partitioned write would then pay a
    dynamic-partition sort and a tasks × buckets small-file fan-out. The
    wide route keeps the layout (so later trickle merges continue
    seamlessly) but clusters the staging write by bucket first: one
    extra exchange of the merged slice, after which each bucket is
    written by exactly one task (hash collisions may hand one task 2-3
    buckets and another none, but no bucket splits across tasks) — one
    file per bucket. Trickle batches keep the direct write: their merged
    slice is small and the extra exchange would serialize it through
    ``touched`` tasks for no benefit.

    ``return_touched_only=True`` returns only the touched buckets'
    post-merge rows instead of the whole table — the maintenance-loop
    mode: a per-batch caller only consumes the slice it just merged.

    A fresh table takes its bucket count from the first merge; later
    merges must pass the same ``num_buckets`` (a key's bucket would
    otherwise move and merges would duplicate keys). Use
    :func:`read_partitioned` to read the table. ``_before_commit`` is a
    test seam invoked after this merge's version dirs are published but
    before the manifest re-read — the widest point of the (detected)
    concurrent-writer window.
    """
    from pyspark import StorageLevel

    if num_buckets < 1:
        raise ValueError("merge_into_partitioned: num_buckets must be >= 1")
    if _BUCKET_COL in incoming.columns:
        raise ValueError(
            f"merge_into_partitioned: incoming data carries a "
            f"{_BUCKET_COL!r} column, which is this layout's reserved "
            f"bucket column — rename it (the staging write partitions by "
            f"it and would silently shadow the data)"
        )
    local = local_path(target)
    spark = incoming.sparkSession
    meta = _read_meta(local, target)
    manifest = _read_manifest(local)
    # "exists" = the manifest names at least one committed bucket. A
    # meta-only dir (crash before the first swap, or an empty first
    # batch) or a fully compacted table holds no rows, so its meta is
    # rewritten below and its bucket count may change.
    exists = bool(manifest)
    if exists and meta["num_buckets"] != num_buckets:
        raise ValueError(
            f"table at {target} was bucketed with "
            f"num_buckets={meta['num_buckets']}, got {num_buckets} — "
            "a key's bucket would move and merges would silently "
            "duplicate keys"
        )

    bucket = _bucket_expr(keys, num_buckets)
    collapsed = upsert_keep_newest(incoming, keys, order_by)
    out_cols = collapsed.columns
    # Persisted (DISK_ONLY, released in the finally) because it is
    # consumed twice — the touched-bucket collect and the MERGE join —
    # and a non-trivial incoming plan would otherwise run twice.
    # Persisted only AFTER the validation above, so a rejected call
    # cannot leak a registered relation.
    collapsed = collapsed.persist(StorageLevel.DISK_ONLY)
    try:
        touched = sorted(
            r[0]
            for r in collapsed.select(bucket.alias(_BUCKET_COL))
            .distinct()
            .collect()
        )
        # Version dirs carry no p_bucket= path component, so no
        # partition column materializes on the stored side.
        touched_dirs = _manifest_dirs(local, manifest, set(touched))
        if touched_dirs:
            stored = spark.read.parquet(*touched_dirs)
            merged = merge_sql_plan(stored, collapsed, keys, order_by)
        else:
            merged = collapsed

        staged = merged.withColumn(_BUCKET_COL, bucket)
        if touched and len(touched) >= wide_threshold * num_buckets:
            # wide route: one bucket per task, one file per bucket
            staged = staged.repartition(len(touched), F.col(_BUCKET_COL))
        staging = os.path.join(local, f".staging_{uuid.uuid4().hex[:12]}")
        staged.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(
            staging
        )
        if not exists:
            _write_meta_once(
                local, num_buckets, keys, order_by,
                collapsed.schema.jsonValue(),
            )

        ours: dict[int, int] = {}
        versions = _list_versions(local)
        try:
            for b in touched:
                part = os.path.join(staging, f"{_BUCKET_COL}={b}")
                if not os.path.isdir(part):
                    # the batch's own rows survive the MERGE, so a
                    # touched bucket always yields >= 1 row
                    raise RuntimeError(
                        f"merge produced no output for touched bucket {b}"
                    )
                ours[b] = _publish(
                    local, part, b, manifest.get(b, 0), versions.get(b, [])
                )
            # Re-read the manifest immediately before the swap: untouched
            # buckets keep the CURRENT entries (a concurrent commit to
            # disjoint buckets survives) and touched buckets take this
            # merge's versions. A touched bucket that advanced (or was
            # dropped by a compaction) since our read means our merged
            # rows were computed against stale data: committing them
            # would drop the other writer's rows or resurrect rows a
            # compaction filtered, so fail fast instead.
            if _before_commit is not None:
                _before_commit()
            current = _read_manifest(local)
            conflicts = [
                b for b in touched if current.get(b, 0) != manifest.get(b, 0)
            ]
            if conflicts:
                raise ConcurrentWriteError(
                    "merge_into_partitioned: concurrent writer advanced "
                    f"touched bucket(s) {conflicts} during this merge — "
                    "the manifest is untouched and this merge's staged "
                    "version dirs remain as unreferenced orphans; rerun "
                    "the merge (or use merge_with_retry)"
                )
            new_manifest = dict(current)
            new_manifest.update(ours)
            _write_manifest(local, new_manifest)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        # Post-commit cleanup, bounded by OUR read snapshot: only
        # versions <= what this merge read (and therefore superseded)
        # are deleted, best effort — a concurrent writer's newer dir is
        # never touched. The publish listing serves here too: a version
        # <= our snapshot published after it can only be a racing
        # writer's lost attempt, an orphan. Orphans (and those from a
        # crash between publish and swap) are left for sweep_orphans:
        # deleting them here would need proof that no racing writer is
        # about to commit them.
        for b in touched:
            for v, stale in versions.get(b, []):
                if v <= manifest.get(b, 0):
                    shutil.rmtree(stale, ignore_errors=True)
    finally:
        collapsed.unpersist()

    dirs = _manifest_dirs(
        local, new_manifest, set(touched) if return_touched_only else None
    )
    if not dirs:
        # an empty batch into a table with no committed rows: zero
        # paths, so return the typed empty relation
        return spark.createDataFrame([], collapsed.schema).select(*out_cols)
    return spark.read.parquet(*dirs).select(*out_cols)


def merge_with_retry(
    target: str,
    incoming: DataFrame,
    keys: list[str],
    order_by: list[str],
    retries: int = 3,
    **kwargs,
) -> DataFrame:
    """Optimistic concurrency over :func:`merge_into_partitioned`: when
    a concurrent writer advances a bucket this merge rewrote before its
    commit (the touched-bucket detector raises
    :class:`ConcurrentWriteError`), rerun the merge from a FRESH
    manifest read. Correctness never leans on the failed attempt: its
    staged version dirs are unreferenced orphans (storage only,
    invisible to readers, reclaimed by :func:`sweep_orphans`), and the
    retry RECOMPUTES the MERGE against the advanced table state, so the
    loser's rows are applied on top of the winner's instead of over a
    stale read — the Delta/Iceberg commit-retry loop, expressed over
    this runtime.

    Bounded: after ``retries`` conflicts the last error propagates — a
    table hot enough to lose every retry needs writer coordination (or
    fewer, larger batches), not a longer loop. Non-conflict errors
    propagate immediately on the first attempt.

    ``incoming`` is re-executed per attempt (it is a plan, not data);
    side-effecting sources should be staged to parquet first.
    ``kwargs`` reach every attempt, ``_before_commit`` included."""
    attempt = 0
    while True:
        try:
            return merge_into_partitioned(
                target, incoming, keys=keys, order_by=order_by, **kwargs
            )
        except ConcurrentWriteError:
            attempt += 1
            if attempt > retries:
                raise


def filter_with_retry(
    spark,
    target: str,
    condition: Column,
    retries: int = 3,
    **kwargs,
) -> DataFrame:
    """:func:`merge_with_retry`'s compaction twin: when a concurrent
    merge commits during a :func:`filter_partitioned` compaction (the
    manifest changed, so it raises :class:`ConcurrentWriteError`),
    rerun the compaction from a fresh read. Safe by construction: a
    compaction is just a filter, so re-applying ``condition`` to the
    ADVANCED table state (the winner's rows included) is exactly the
    intended result; the failed attempt's staged dirs are removed and
    commit nothing. Bounded like the merge form: after ``retries``
    conflicts the last error propagates — compaction racing merges
    persistently belongs in a maintenance window, not a longer loop."""
    attempt = 0
    while True:
        try:
            return filter_partitioned(spark, target, condition, **kwargs)
        except ConcurrentWriteError:
            attempt += 1
            if attempt > retries:
                raise


def filter_partitioned(
    spark,
    target: str,
    condition: Column,
    _before_commit=None,
) -> DataFrame:
    """Layout-preserving compaction for :func:`merge_into_partitioned`
    tables: keep only rows satisfying ``condition``, rewriting every
    bucket in ONE Spark job and committing them in one manifest swap.
    O(table) by definition — run it as OCCASIONAL compaction (retention
    expiry, tombstone removal), never per batch; per-batch state changes
    belong to :func:`merge_into_partitioned`, which stays O(batch). A
    bucket whose every row is filtered away loses its manifest entry; a
    later merge touching that bucket recreates it. The bucket layout and
    ``.merge_meta.json`` are preserved, so merges continue seamlessly
    after a compaction.

    The retention shape this enables at 100 TB: a streaming ingest
    MERGEs ``(key, last_seen)`` per batch (batch-proportional), the
    READ side applies the freshness predicate (semantics exact at all
    times), and this compaction physically drops expired rows on a
    slow cadence — docs/SCALE.md "Streaming k-gram standing-table".

    Concurrency: the compaction rewrites every bucket from one read, so
    a merge committing between that read and the swap would be silently
    overwritten. The manifest is therefore re-read immediately before
    the swap; if it changed at all, the compaction raises
    :class:`ConcurrentWriteError` with the table untouched (rerun it, or
    use :func:`filter_with_retry`; merges never need to rerun).
    Cleanup deletes only versions this compaction's read superseded,
    never a concurrently committed one. ``_before_commit`` is a test
    seam invoked between the staging write and the manifest re-read.
    """
    local = local_path(target)
    meta = _read_meta(local, target)
    if meta is None:
        raise FileNotFoundError(
            f"filter_partitioned: no merge_into_partitioned table at {target}"
        )
    manifest = _read_manifest(local)
    if not manifest:
        return _empty_table(spark, meta)

    # the stored files carry no p_bucket column; recompute it from the
    # keys (the deterministic-bucket invariant) for the clustered write
    bucket = _bucket_expr(meta["keys"], meta["num_buckets"])
    kept = (
        spark.read.parquet(*_manifest_dirs(local, manifest))
        .where(condition)
        .withColumn(_BUCKET_COL, bucket)
    )
    staging = os.path.join(local, f".staging_{uuid.uuid4().hex[:12]}")
    # every bucket is rewritten — the wide regime — so the write is
    # clustered by bucket like merge_into_partitioned's wide route
    (
        kept.repartition(len(manifest), F.col(_BUCKET_COL))
        .write.partitionBy(_BUCKET_COL)
        .mode("overwrite")
        .parquet(staging)
    )
    try:
        if _before_commit is not None:
            _before_commit()
        if _read_manifest(local) != manifest:
            raise ConcurrentWriteError(
                "filter_partitioned: concurrent merge detected — the "
                "manifest advanced during compaction; the table is "
                "untouched, rerun the compaction"
            )
        new_manifest: dict[int, int] = {}
        versions = _list_versions(local)
        for b in sorted(manifest):
            part = os.path.join(staging, f"{_BUCKET_COL}={b}")
            if os.path.isdir(part):
                new_manifest[b] = _publish(
                    local, part, b, manifest[b], versions.get(b, [])
                )
            # else: every row filtered away — the bucket has no entry
            # in the new manifest; its old versions go in cleanup
        _write_manifest(local, new_manifest)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    for b in manifest:
        for v, stale in versions.get(b, []):
            if v <= manifest[b] and v != new_manifest.get(b):
                shutil.rmtree(stale, ignore_errors=True)
    if not new_manifest:
        return _empty_table(spark, meta)
    return spark.read.parquet(*_manifest_dirs(local, new_manifest))
