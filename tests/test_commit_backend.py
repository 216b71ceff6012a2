"""The manifest commit protocol's pluggable storage backend (round 16,
VERDICT r15 ask #3).

The protocol was object-store-shaped from round 14 but its primitives
were inlined POSIX calls. These tests pin the interface extraction:

1. EVERY storage primitive the merge/compaction/sweep path performs
   routes through the backend (a counting wrapper observes each), and
   the results are identical to the default-backend run — the
   refactor's behavior-preservation argument, mechanical.
2. The commit swap threads ``expected`` (the re-read snapshot), so a
   CAS-capable backend can reject a stale swap — the S3
   conditional-put mapping, exercised against a fake CAS store.
3. The POSIX backend's on-disk layout is byte-compatible with the
   round-14/15 inline implementation (same manifest name, same
   ``.v/b<b>_v<v>`` version dirs), so existing tables keep working.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from transit_efficiency_analysis_spark.operators import upsert as U
from transit_efficiency_analysis_spark.operators.commit_backend import (
    ManifestCommitBackend,
    PosixManifestBackend,
)

BASE = datetime(2026, 1, 1)
SCHEMA = "key long, ts timestamp, value double, seq long"


def _mk_rows(raw):
    return [
        (k, BASE + timedelta(minutes=ts), float(v), seq)
        for seq, (k, ts, v) in enumerate(raw)
    ]


class CountingBackend(PosixManifestBackend):
    """POSIX behavior, but records every primitive invocation."""

    def __init__(self):
        self.calls: list[tuple] = []

    def manifest_exists(self, root):
        self.calls.append(("manifest_exists",))
        return super().manifest_exists(root)

    def read_manifest(self, root):
        self.calls.append(("read_manifest",))
        return super().read_manifest(root)

    def swap_manifest(self, root, manifest, expected=None, token=None):
        self.calls.append(("swap_manifest", expected))
        return super().swap_manifest(root, manifest, expected=expected, token=token)

    def publish_version(self, root, staged_dir, bucket, version):
        self.calls.append(("publish_version", bucket, version))
        return super().publish_version(root, staged_dir, bucket, version)

    def list_versions(self, root, bucket):
        self.calls.append(("list_versions", bucket))
        return super().list_versions(root, bucket)

    def list_all_versions(self, root):
        self.calls.append(("list_all_versions",))
        return super().list_all_versions(root)

    def delete_version_path(self, path, strict=True):
        self.calls.append(("delete_version_path", strict))
        return super().delete_version_path(path, strict=strict)

    def names(self):
        return {c[0] for c in self.calls}


def _run_protocol(spark, target):
    """Create → merge → compact → sweep on a manifest table; return the
    final table state as {key: minutes}."""
    from pyspark.sql import functions as F

    U.merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    U.merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(5, 999, 7), (21, 21, 1)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    U.filter_partitioned(spark, target, F.col("key") < 21)
    swept = U.sweep_orphans(target)
    rows = U.read_partitioned(spark, target).collect()
    return {r.key: int((r.ts - BASE).total_seconds() // 60) for r in rows}, swept


def test_counting_backend_routes_all_primitives(spark, tmp_path, monkeypatch):
    """Same protocol run twice — default backend vs counting backend —
    must produce identical table state, and the counting backend must
    have observed every primitive class the protocol performs."""
    state_default, _ = _run_protocol(spark, str(tmp_path / "tbl_default"))

    be = CountingBackend()
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    state_counted, _ = _run_protocol(spark, str(tmp_path / "tbl_counted"))

    assert state_counted == state_default
    # merged update survived; the compaction dropped key 21 (key < 21)
    assert state_counted[5] == 999 and 21 not in state_counted
    assert len(state_counted) == 20
    assert be.names() >= {
        "manifest_exists",
        "read_manifest",
        "swap_manifest",
        "publish_version",
        "list_versions",
        "list_all_versions",
        "delete_version_path",
    }
    # the commit swap always carries the re-read snapshot (the CAS
    # precondition a conditional-put backend enforces) — never None
    swaps = [c for c in be.calls if c[0] == "swap_manifest"]
    assert swaps and all(c[1] is not None for c in swaps)
    # protocol cleanup deletes best-effort, the sweep deletes strictly
    strict_flags = {c[1] for c in be.calls if c[0] == "delete_version_path"}
    assert strict_flags <= {True, False}


class FakeCASStore(ManifestCommitBackend):
    """In-memory manifest store with compare-and-swap semantics — the
    S3 conditional-put / GCS ifGenerationMatch mapping, minus the
    network. Version payloads stay on the POSIX side (publish is not
    under test here)."""

    def __init__(self):
        self.stored: dict[int, int] | None = None

    def manifest_exists(self, root):
        return self.stored is not None

    def read_manifest(self, root):
        return dict(self.stored or {})

    def swap_manifest(self, root, manifest, expected=None, token=None):
        current = dict(self.stored or {})
        if expected is not None and current != expected:
            raise RuntimeError(
                "conditional put failed: manifest generation changed"
            )
        self.stored = dict(manifest)


def test_cas_backend_rejects_stale_swap():
    """The interface contract a CAS backend adds on top of the
    protocol's detector: a swap whose ``expected`` no longer matches
    the stored object MUST fail, closing the re-read→swap window."""
    store = FakeCASStore()
    store.swap_manifest("/t", {0: 1}, expected=None)  # create
    snapshot = store.read_manifest("/t")
    # a concurrent writer advances bucket 0
    store.swap_manifest("/t", {0: 2}, expected=snapshot)
    # our commit, computed from the stale snapshot, must be rejected
    with pytest.raises(RuntimeError, match="conditional put"):
        store.swap_manifest("/t", {0: 3, 1: 1}, expected=snapshot)
    assert store.read_manifest("/t") == {0: 2}  # loser changed nothing


def test_posix_backend_layout_is_legacy_compatible(tmp_path):
    """version_path/list_versions/publish must speak the round-14
    on-disk dialect exactly: ``<root>/.v/b<bucket>_v<version>`` and
    ``<root>/.manifest.json`` — existing tables keep resolving."""
    import os

    be = PosixManifestBackend()
    root = str(tmp_path)
    assert be.version_path(root, 3, 7) == os.path.join(root, ".v", "b3_v7")
    assert not be.manifest_exists(root)
    assert be.read_manifest(root) == {}

    staged = tmp_path / "staged_part"
    staged.mkdir()
    (staged / "part-0.parquet").write_bytes(b"x")
    published = be.publish_version(root, str(staged), 3, 7)
    assert published == be.version_path(root, 3, 7)
    assert be.list_versions(root, 3) == [(7, published)]
    assert be.list_versions(root, 4) == []
    assert be.list_all_versions(root) == [("b3_v7", published)]

    be.swap_manifest(root, {3: 7}, expected={})
    assert be.manifest_exists(root)
    assert be.read_manifest(root) == {3: 7}

    be.delete_version_path(published, strict=True)
    assert be.list_versions(root, 3) == []
    # strict delete of a missing path raises; best-effort swallows
    with pytest.raises(FileNotFoundError):
        be.delete_version_path(published, strict=True)
    be.delete_version_path(published, strict=False)


class RacingCASBackend(PosixManifestBackend):
    """CAS-enforcing backend that injects a competing commit INSIDE the
    re-read→swap gap — the residual lost-update window the POSIX
    detector documents but cannot close. On the first guarded swap it
    first lands a competitor's manifest change (simulating another
    writer committing between this merge's re-read and its put), then
    enforces the conditional-put precondition; the caller's commit must
    fail without touching the stored manifest.

    Note the semantics this pins: a whole-manifest compare rejects ANY
    concurrent commit — even to disjoint buckets — where the protocol's
    own detector only rejects touched-bucket advances. That is the
    serialization trade a conditional put makes (a Delta-style backend
    would retry the commit from the new snapshot)."""

    def __init__(self, compete):
        self.compete = compete  # current manifest -> competitor's manifest
        self.raced = False

    def swap_manifest(self, root, manifest, expected=None, token=None):
        if expected is not None and not self.raced:
            self.raced = True
            super().swap_manifest(root, self.compete(self.read_manifest(root)))
        if expected is not None and self.read_manifest(root) != expected:
            raise RuntimeError(
                "conditional put failed: manifest generation changed"
            )
        super().swap_manifest(root, manifest, expected=expected, token=token)


def test_cas_backend_closes_the_reread_swap_window(spark, tmp_path, monkeypatch):
    """End-to-end through the REAL merge path: a competitor committing
    inside the re-read→swap gap makes the CAS put fail loudly, the
    stored manifest keeps the competitor's state, the loser's staged
    version dirs remain as sweepable orphans, and a rerun converges."""
    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )

    def compete(current):
        # the competitor drops the highest bucket (a compaction-style
        # commit): reads stay resolvable, and the caller's re-read
        # snapshot is stale the moment this lands
        out = dict(current)
        out.pop(max(out), None)
        return out

    be = RacingCASBackend(compete)
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    with pytest.raises(RuntimeError, match="conditional put failed"):
        U.merge_into_partitioned(
            target,
            spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=4,
        )
    # competitor's commit survived; the loser changed NOTHING: the
    # dropped bucket's keys are gone and key 5 (if its bucket survived)
    # still carries its pre-merge timestamp, not the failed batch's 999
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in U.read_partitioned(spark, target).collect()}
    assert len(rows) < 20  # the competitor's bucket drop is visible
    if 5 in rows:
        assert rows[5] == 5
    orphans = U.sweep_orphans(target)
    assert orphans, "the failed merge's staged version dirs should be orphans"
    # race spent: the rerun commits cleanly and converges
    out = U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert rows[5] == 999


# ---------------------------------------------------------------------------
# Round 17 (VERDICT r16 #2): the CAS store promoted from test double to
# shipped implementation — InMemoryCASManifestBackend enforces the
# conditional-put contract (true rejection under a lock), and the full
# merge/compaction/sweep battery runs through it.
# ---------------------------------------------------------------------------

from transit_efficiency_analysis_spark.operators.commit_backend import (  # noqa: E402
    CommitConflictError,
    InMemoryCASManifestBackend,
)


def test_shipped_cas_backend_conditional_put_contract(tmp_path):
    """The S3/GCS conditional-put mapping, enforced: a swap whose
    ``expected`` is stale raises, the stored manifest and its
    generation are untouched, and an unconditional create works."""
    be = InMemoryCASManifestBackend()
    root = str(tmp_path)
    assert not be.manifest_exists(root)
    assert be.read_manifest(root) == {}
    assert be.generation(root) == 0

    be.swap_manifest(root, {0: 1}, expected=None)  # unconditional create
    assert be.manifest_exists(root) and be.generation(root) == 1
    snapshot = be.read_manifest(root)

    # a concurrent writer advances bucket 0 from the same snapshot
    be.swap_manifest(root, {0: 2}, expected=snapshot)
    assert be.generation(root) == 2

    # our commit, computed from the now-stale snapshot: TRUE rejection
    with pytest.raises(CommitConflictError, match="conditional put failed"):
        be.swap_manifest(root, {0: 3, 1: 1}, expected=snapshot)
    assert be.read_manifest(root) == {0: 2}
    assert be.generation(root) == 2  # the loser never advances the ETag

    # matching precondition commits cleanly
    be.swap_manifest(root, {0: 3}, expected=be.read_manifest(root))
    assert be.read_manifest(root) == {0: 3} and be.generation(root) == 3


def test_shipped_cas_backend_swap_is_atomic_under_threads(tmp_path):
    """Exactly ONE of N racers sharing a read snapshot may win — the
    lock makes read-compare-replace a single step (the property POSIX
    os.replace cannot express and the reason the detector exists)."""
    import threading

    be = InMemoryCASManifestBackend()
    root = str(tmp_path)
    be.swap_manifest(root, {0: 1}, expected=None)
    snapshot = be.read_manifest(root)
    outcomes: list[str] = []
    barrier = threading.Barrier(8)

    def racer(i):
        barrier.wait()
        try:
            be.swap_manifest(root, {0: 100 + i}, expected=snapshot)
            outcomes.append("won")
        except CommitConflictError:
            outcomes.append("lost")

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert outcomes.count("won") == 1 and outcomes.count("lost") == 7
    assert be.generation(root) == 2


def test_shipped_cas_backend_is_per_instance_like_a_fake_store(tmp_path):
    """Two instances are two stores (the fake-object-store scope the
    docstring declares) — no cross-talk through module globals."""
    root = str(tmp_path)
    a, b = InMemoryCASManifestBackend(), InMemoryCASManifestBackend()
    a.swap_manifest(root, {0: 1}, expected=None)
    assert a.manifest_exists(root)
    assert not b.manifest_exists(root)


def test_full_protocol_battery_through_shipped_cas_backend(
    spark, tmp_path, monkeypatch
):
    """create → merge → compact → sweep end-to-end with the CAS backend
    installed: same final state as the POSIX default, every commit
    carrying its precondition through a backend that would reject a
    stale one."""
    state_default, _ = _run_protocol(spark, str(tmp_path / "tbl_posix"))
    be = InMemoryCASManifestBackend()
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    state_cas, _ = _run_protocol(spark, str(tmp_path / "tbl_cas"))
    assert state_cas == state_default
    assert state_cas[5] == 999 and 21 not in state_cas


def test_merge_vs_merge_disjoint_sequential_both_survive_under_cas(
    spark, tmp_path, monkeypatch
):
    """Sequential disjoint-bucket merges (the common non-racing case)
    must be unaffected by enforcement: each commit's re-read snapshot
    matches, both land, both survive."""
    be = InMemoryCASManifestBackend()
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    gen_after_create = be.generation(target)
    U.merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(4, 444, 9)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    U.merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(5, 555, 9)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in U.read_partitioned(spark, target).collect()}
    assert rows[4] == 444 and rows[5] == 555 and len(rows) == 20
    assert be.generation(target) == gen_after_create + 2


class _RacingCAS(InMemoryCASManifestBackend):
    """The shipped CAS backend with a competitor injected INSIDE the
    re-read→swap gap of the first guarded commit — the residual window
    the POSIX detector documents. Enforcement (not detection) is what
    rejects the loser here: the competitor's commit lands after the
    caller's conflict re-read, so the protocol's own detector has
    already passed."""

    def __init__(self, compete):
        super().__init__()
        self.compete = compete
        self.raced = False
        self.armed = False  # set True after the table-create merge

    def swap_manifest(self, root, manifest, expected=None, token=None):
        if self.armed and expected is not None and not self.raced:
            self.raced = True
            super().swap_manifest(root, self.compete(self.read_manifest(root)))
        super().swap_manifest(root, manifest, expected=expected, token=token)


def test_merge_vs_merge_race_true_cas_rejection(spark, tmp_path, monkeypatch):
    """Merge-vs-merge through the REAL merge path with the SHIPPED CAS
    backend: a competitor advancing a DIFFERENT bucket inside the
    re-read→swap gap — invisible to the touched-bucket detector — is
    rejected by the conditional put, the competitor's state survives,
    and a rerun converges (carrying the competitor's rows forward)."""
    target = str(tmp_path / "tbl")
    b5 = (
        spark.createDataFrame([(5,)], "key long")
        .select(U._bucket_expr(["key"], 4).alias("b"))
        .collect()[0]
        .b
    )
    spare = max(set(range(4)) - {b5})

    def compete(current):
        # another merge's commit: a REAL new version of the spare
        # bucket (same rows, next version id), published then committed
        import shutil

        out = dict(current)
        v = out.get(spare, 0)
        src = be.version_path(target, spare, v)
        shutil.copytree(src, be.version_path(target, spare, v + 1))
        out[spare] = v + 1
        return out

    be = _RacingCAS(compete)
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    be.armed = True
    with pytest.raises(CommitConflictError, match="conditional put failed"):
        U.merge_into_partitioned(
            target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=4,
        )
    # the competitor's manifest is the stored one; the loser's staged
    # dirs are sweepable orphans; the rerun lands cleanly
    assert be.read_manifest(target)[spare] >= 1
    out = U.merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert rows[5] == 999


def test_merge_vs_compaction_race_true_cas_rejection(
    spark, tmp_path, monkeypatch
):
    """Merge-vs-compaction with the SHIPPED CAS backend: a
    compaction-style bucket drop landing inside the gap rejects the
    merge, reads resolve the compacted state, and the rerun converges."""
    target = str(tmp_path / "tbl")

    def compete(current):
        out = dict(current)
        out.pop(max(out), None)  # a compaction dropped its last bucket
        return out

    be = _RacingCAS(compete)
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    be.armed = True
    with pytest.raises(CommitConflictError, match="conditional put failed"):
        U.merge_into_partitioned(
            target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=4,
        )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in U.read_partitioned(spark, target).collect()}
    assert len(rows) < 20  # the compaction's drop is what reads resolve
    if 5 in rows:
        assert rows[5] == 5  # the loser's 999 never landed
    out = U.merge_into_partitioned(
        target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert rows[5] == 999


# ---------------------------------------------------------------------------
# Round 17: merge_with_retry — Delta-style optimistic concurrency over
# both conflict flavors (protocol detector + CAS conditional put).
# ---------------------------------------------------------------------------


class _ConflictNTimesCAS(InMemoryCASManifestBackend):
    """Shipped CAS backend that loses the race exactly ``n`` times:
    each of the first n guarded swaps is preceded by a competitor
    commit (a real published version dir), then the race clears."""

    def __init__(self, n, target):
        super().__init__()
        self.n = n
        self.target = target
        self.armed = False
        self.conflicts_injected = 0

    def swap_manifest(self, root, manifest, expected=None, token=None):
        if self.armed and expected is not None and self.conflicts_injected < self.n:
            import shutil

            self.conflicts_injected += 1
            current = self.read_manifest(root)
            b = max(current)
            v = current[b]
            shutil.copytree(
                self.version_path(self.target, b, v),
                self.version_path(self.target, b, v + 1),
            )
            current[b] = v + 1
            super().swap_manifest(root, current)
        super().swap_manifest(root, manifest, expected=expected, token=token)


def test_merge_with_retry_converges_after_cas_conflicts(
    spark, tmp_path, monkeypatch
):
    """Two injected CAS losses, then convergence: the third attempt's
    recompute sees the winners' state and lands the batch — bounded
    retries, correct final rows, orphans sweepable."""
    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    be = _ConflictNTimesCAS(2, target)
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    # seed the CAS store with the POSIX-committed state so reads resolve
    be.swap_manifest(target, PosixManifestBackend().read_manifest(target))
    be.armed = True
    out = U.merge_with_retry(
        target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert rows[5] == 999 and len(rows) == 20
    assert be.conflicts_injected == 2
    assert U.sweep_orphans(target), "failed attempts should leave orphans"


def test_merge_with_retry_bounded_then_raises(spark, tmp_path, monkeypatch):
    """A persistently-hot table exhausts the bounded retries and the
    last conflict propagates (never an infinite loop)."""
    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    be = _ConflictNTimesCAS(99, target)
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    be.swap_manifest(target, PosixManifestBackend().read_manifest(target))
    be.armed = True
    with pytest.raises(CommitConflictError, match="conditional put failed"):
        U.merge_with_retry(
            target, spark.createDataFrame(_mk_rows([(5, 999, 7)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=4,
            retries=2,
        )
    assert be.conflicts_injected == 3  # initial attempt + 2 retries


def test_merge_with_retry_covers_detector_conflicts(spark, tmp_path):
    """The protocol's own touched-bucket detector (POSIX backend, no
    CAS) raises ConcurrentWriteError; merge_with_retry recomputes and
    converges carrying BOTH writers' rows."""
    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    # the competitor must write to the SAME bucket the loser touches,
    # else the touched-bucket detector (correctly) lets both commits land
    buckets = {
        r.key: r.b
        for r in spark.createDataFrame([(k,) for k in range(20)], "key long")
        .select("key", U._bucket_expr(["key"], 4).alias("b"))
        .collect()
    }
    rival = next(k for k in range(20) if k != 6 and buckets[k] == buckets[6])
    attempts = []

    def competing_commit():
        # a real competing merge to the same bucket lands inside the
        # loser's merge window (before its conflict re-read) — the
        # detector, not CAS, rejects; fires only on the first attempt
        attempts.append(1)
        if len(attempts) == 1:
            U.merge_into_partitioned(
                target,
                spark.createDataFrame(_mk_rows([(rival, 555, 6)]), SCHEMA),
                keys=["key"], order_by=["ts", "seq"], num_buckets=4,
            )

    out = U.merge_with_retry(
        target, spark.createDataFrame(_mk_rows([(6, 666, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
        _before_commit=competing_commit,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert len(attempts) == 2  # first attempt lost to the detector
    assert rows[6] == 666 and rows[rival] == 555  # both writers survive


def test_meta_json_shape_is_mode_tagged_and_legacy_compatible(spark, tmp_path):
    """A fresh table's ``.merge_meta.json`` keeps its on-disk shape:
    bucket count, keys, order, the p_bucket-free row schema the
    typed-empty paths rebuild from, and the ``"commit": "manifest"``
    tag that tells a manifest-protocol table from a legacy one."""
    import json
    import os

    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(1, 1, 1)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=2,
    )
    with open(os.path.join(target, ".merge_meta.json")) as f:
        meta = json.load(f)
    assert meta["num_buckets"] == 2 and meta["keys"] == ["key"]
    assert meta["order_by"] == ["ts", "seq"]
    field_names = [fld["name"] for fld in meta["schema"]["fields"]]
    assert field_names == ["key", "ts", "value", "seq"]  # no p_bucket
    assert meta["commit"] == "manifest"


# ---------------------------------------------------------------------------
# Round 18: q_upsert_merge_retry — the commit-retry story as a REGISTERED
# demo (VERDICT r17 ask #2): the staged two-writer race must converge to
# the keep-newest oracle, re-arm idempotently, and leave no backend
# installed afterwards.
# ---------------------------------------------------------------------------


def test_merge_retry_demo_converges_and_is_fixed_point(spark):
    """The demo's final table state equals keep-newest-per-key over ALL
    events (the oracle), and a re-invocation — which re-arms and re-runs
    the staged race on the SAME cached backend — returns the identical
    state (idempotent within a process, like q_upsert_merge_parquet)."""
    from transit_efficiency_analysis_spark.demo import load_registry

    sf = "/root/testdata/sf0.001"
    fn = load_registry()["q_upsert_merge_retry"].fn
    out1 = {(r.user_id, r.event_type): (r.event_id, r.ts, r.value)
            for r in fn(spark, sf).collect()}
    events = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    expected = {
        (r.user_id, r.event_type): (r.event_id, r.ts, r.value)
        for r in U.upsert_keep_newest(
            events, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
        ).collect()
    }
    assert out1 == expected
    out2 = {(r.user_id, r.event_type): (r.event_id, r.ts, r.value)
            for r in fn(spark, sf).collect()}
    assert out2 == out1


def test_merge_retry_demo_race_executes_and_restores_backend(spark):
    """Each invocation advances the CAS generation by exactly 3 (batch-0
    re-merge + rival's injected commit + the loser's retried commit; the
    REJECTED conditional put contributes nothing), proving the race and
    the retry genuinely execute rather than degenerating to a clean
    merge — and the module-level backend seam is restored afterwards."""
    from transit_efficiency_analysis_spark.demo import load_registry
    from transit_efficiency_analysis_spark.demo import upsert as demo_upsert

    sf = "/root/testdata/sf0.001"
    fn = load_registry()["q_upsert_merge_retry"].fn
    before = U._COMMIT_BACKEND
    fn(spark, sf).count()
    key = f"upsert_merge_retry_{sf.strip('/').replace('/', '_')}"
    be = demo_upsert._RETRY_BACKENDS[key]
    g1 = max(gen for gen, _ in be._store.values())
    fn(spark, sf).count()
    g2 = max(gen for gen, _ in be._store.values())
    assert g2 == g1 + 3
    assert U._COMMIT_BACKEND is before


def test_write_meta_once_fsyncs_and_cleans_tmp(tmp_path, monkeypatch):
    """ADVICE r17 medium: the meta write must mirror swap_manifest's
    durability — fsync file contents before the rename and the parent
    dir after it (a power loss persisting the rename with empty
    contents bricks the table on json.load) — and clean its temp file
    when the write fails."""
    import json
    import os

    local = str(tmp_path)
    synced = []
    real_fsync = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: (synced.append(fd), real_fsync(fd)))
    U._write_meta_once(local, 4, ["key"], ["ts"], {"fields": []})
    assert len(synced) >= 2  # file contents + parent directory
    with open(os.path.join(local, ".merge_meta.json")) as f:
        assert json.load(f)["commit"] == "manifest"
    assert not [p for p in os.listdir(local) if p.endswith(".tmp")]

    # a failed dump must not leak its temp file
    monkeypatch.setattr(json, "dump", lambda *a, **k: (_ for _ in ()).throw(OSError("disk full")))
    with pytest.raises(OSError, match="disk full"):
        U._write_meta_once(local, 4, ["key"], ["ts"], {"fields": []})
    assert not [p for p in os.listdir(local) if p.endswith(".tmp")]


# ---------------------------------------------------------------------------
# Round 18: ObjectStoreCASBackend (VERDICT r17 ask #3) — the manifest as
# a conditional-put object, committed with If-Match on the ETag retained
# by read_snapshot (If-None-Match: * for creation), against the
# in-process store fake. Plus the token-CAS upgrade of the in-memory
# backend (ADVICE r17: value-compare CAS is ABA-prone).
# ---------------------------------------------------------------------------

from transit_efficiency_analysis_spark.operators.commit_backend import (  # noqa: E402
    InMemoryObjectStore,
    ObjectStoreCASBackend,
    StorePreconditionFailed,
)


def test_object_store_fake_preconditioned_puts():
    """The store fake enforces both preconditions atomically: creation
    (If-None-Match: *) rejects an existing key, update (If-Match)
    rejects a stale ETag, and a rejected put never changes the object
    or its ETag."""
    st = InMemoryObjectStore()
    assert st.get("k") is None
    e1 = st.put("k", b"v1", if_none_match=True)
    with pytest.raises(StorePreconditionFailed, match="already exists"):
        st.put("k", b"other", if_none_match=True)
    assert st.get("k") == (b"v1", e1)

    e2 = st.put("k", b"v2", if_match=e1)
    assert e2 != e1
    with pytest.raises(StorePreconditionFailed, match="precondition required"):
        st.put("k", b"v3", if_match=e1)  # stale ETag
    assert st.get("k") == (b"v2", e2)
    st.put("unconditional", b"x")  # no precondition: plain put works


def test_object_store_backend_conditional_put_contract(tmp_path):
    """The adapter's swap maps read_snapshot's ETag to If-Match (and
    the absent-token to If-None-Match): a stale token is rejected as
    CommitConflictError with the stored manifest untouched, and two
    racing FIRST commits also serialize (creation precondition)."""
    st = InMemoryObjectStore()
    be = ObjectStoreCASBackend(st)
    root = str(tmp_path)
    t0, m0 = be.read_snapshot(root)
    assert m0 == {} and not be.manifest_exists(root)

    be.swap_manifest(root, {0: 1}, expected=m0, token=t0)
    assert be.manifest_exists(root)
    assert be.read_manifest(root) == {0: 1}

    # racing first commit from the same absent snapshot: creation
    # precondition rejects (If-None-Match: * on an existing key)
    with pytest.raises(CommitConflictError, match="conditional put failed"):
        be.swap_manifest(root, {0: 7}, expected=m0, token=t0)

    t1, m1 = be.read_snapshot(root)
    be.swap_manifest(root, {0: 2}, expected=m1, token=t1)  # clean update
    with pytest.raises(CommitConflictError, match="conditional put failed"):
        be.swap_manifest(root, {0: 9}, expected=m1, token=t1)  # stale
    assert be.read_manifest(root) == {0: 2}


@pytest.mark.parametrize("which", ["inmemory", "objectstore"])
def test_token_cas_rejects_aba_content_restoration(tmp_path, which):
    """ADVICE r17: value-compare CAS accepts an ABA sequence whose
    intervening commits restore the expected CONTENT; token (ETag/
    generation) comparison — what S3 If-Match actually does — rejects
    it. Pin both: the commit path's token form rejects, the legacy
    value form (read_manifest callers) accepts, documented."""
    be = (
        InMemoryCASManifestBackend()
        if which == "inmemory"
        else ObjectStoreCASBackend(InMemoryObjectStore())
    )
    root = str(tmp_path)
    be.swap_manifest(root, {0: 1})
    t0, m0 = be.read_snapshot(root)

    be.swap_manifest(root, {0: 2})  # A -> B
    be.swap_manifest(root, {0: 1})  # B -> A: content restored

    # legacy value-compare: content matches, the swap lands (the
    # documented residual; unreachable in the protocol because bucket
    # versions are monotonic — content never genuinely restores)
    be.swap_manifest(root, {0: 5}, expected=m0)
    assert be.read_manifest(root) == {0: 5}

    # token form: identity changed even where content had not
    with pytest.raises(CommitConflictError, match="conditional put failed"):
        be.swap_manifest(root, {0: 9}, expected=m0, token=t0)
    assert be.read_manifest(root) == {0: 5}


def test_full_protocol_battery_through_object_store_backend(
    spark, tmp_path, monkeypatch
):
    """create → merge → compact → sweep end-to-end with the manifest in
    the object store: same final state as the POSIX default, every
    commit a preconditioned put (creation included)."""
    state_default, _ = _run_protocol(spark, str(tmp_path / "tbl_posix"))
    st = InMemoryObjectStore()
    be = ObjectStoreCASBackend(st)
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    state_obj, _ = _run_protocol(spark, str(tmp_path / "tbl_obj"))
    assert state_obj == state_default
    assert state_obj[5] == 999 and 21 not in state_obj
    # the one mutable object is the manifest key; everything else on disk
    assert [k for k in st._objects] == [
        be._manifest_key(str(tmp_path / "tbl_obj"))
    ]


class _ObjectStoreLoseOnce(ObjectStoreCASBackend):
    """Adapter that hands the race to a rival exactly once: the first
    token-guarded swap gets the rival's commit landed ahead of it, so
    the store rejects the original If-Match."""

    def __init__(self, client):
        super().__init__(client)
        self._rival = None  # armed by the test AFTER table creation

    def swap_manifest(self, root, manifest, expected=None, token=None):
        if token is not None and self._rival is not None:
            rival, self._rival = self._rival, None
            rival()
        super().swap_manifest(root, manifest, expected=expected, token=token)


def test_merge_with_retry_converges_through_object_store_backend(
    spark, tmp_path, monkeypatch
):
    """The full commit-retry loop with the manifest in the object
    store: the loser's If-Match put is rejected by the STORE, surfaces
    as CommitConflictError, and merge_with_retry recomputes on the
    rival's committed rows — both writers' updates survive."""
    target = str(tmp_path / "tbl")
    st = InMemoryObjectStore()
    be = _ObjectStoreLoseOnce(st)
    monkeypatch.setattr(U, "_COMMIT_BACKEND", be)
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )

    def rival():
        U.merge_into_partitioned(
            target,
            spark.createDataFrame(_mk_rows([(7, 777, 6)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=4,
        )

    be._rival = rival
    out = U.merge_with_retry(
        target, spark.createDataFrame(_mk_rows([(6, 666, 7)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert rows[6] == 666 and rows[7] == 777 and len(rows) == 20
    assert be._rival is None  # the race genuinely ran
    assert U.sweep_orphans(target), "the rejected attempt leaves orphans"


# ---------------------------------------------------------------------------
# Round 18: the real-store client bindings — S3 (boto3 surface) and GCS
# (google-cloud-storage surface) translations of the conditional-put
# client contract, tested against injected fakes (no network, no
# credentials, no SDK needed: both bindings are duck-typed).
# ---------------------------------------------------------------------------

from transit_efficiency_analysis_spark.operators.commit_backend import (  # noqa: E402
    GCSConditionalPutClient,
    S3ConditionalPutClient,
)


class _FakeBoto3S3:
    """Duck-typed boto3 S3 client over an InMemoryObjectStore: same
    response shapes, same error envelope (an exception carrying the
    boto3 ClientError ``response`` dict)."""

    def __init__(self, store):
        self.store = store

    @staticmethod
    def _err(code):
        e = RuntimeError(code)
        e.response = {"Error": {"Code": code}}
        return e

    def get_object(self, Bucket, Key):
        hit = self.store.get(f"{Bucket}/{Key}")
        if hit is None:
            raise self._err("NoSuchKey")
        body, etag = hit

        class _Body:
            def read(self_inner):
                return body

        return {"Body": _Body(), "ETag": f'"{etag}"'}

    def put_object(self, Bucket, Key, Body, IfMatch=None, IfNoneMatch=None):
        try:
            etag = self.store.put(
                f"{Bucket}/{Key}", Body,
                if_match=IfMatch, if_none_match=IfNoneMatch == "*",
            )
        except StorePreconditionFailed:
            raise self._err("PreconditionFailed") from None
        return {"ETag": f'"{etag}"'}


def test_s3_binding_translates_conditional_puts(tmp_path):
    """The boto3 translation: quoted ETags round-trip unquoted through
    the token, NoSuchKey maps to absent, IfNoneMatch='*'/IfMatch map to
    the surface's preconditions, and a 412 surfaces as
    StorePreconditionFailed — so ObjectStoreCASBackend drives the
    binding identically to the in-process store."""
    cl = S3ConditionalPutClient("bkt", client=_FakeBoto3S3(InMemoryObjectStore()))
    assert cl.get("m") is None
    e1 = cl.put("m", b"v1", if_none_match=True)
    assert cl.get("m") == (b"v1", e1) and '"' not in e1
    with pytest.raises(StorePreconditionFailed):
        cl.put("m", b"x", if_none_match=True)
    e2 = cl.put("m", b"v2", if_match=e1)
    with pytest.raises(StorePreconditionFailed):
        cl.put("m", b"y", if_match=e1)
    assert cl.get("m") == (b"v2", e2)

    # the full commit contract through the binding
    be = ObjectStoreCASBackend(cl)
    root = str(tmp_path)
    t0, m0 = be.read_snapshot(root)
    be.swap_manifest(root, {0: 1}, expected=m0, token=t0)
    with pytest.raises(CommitConflictError):
        be.swap_manifest(root, {0: 9}, expected=m0, token=t0)
    assert be.read_manifest(root) == {0: 1}


class _FakeGcsBlob:
    def __init__(self, store, key):
        self.store, self.key = store, key
        self.generation = None

    def download_as_bytes(self):
        hit = self.store.get(self.key)
        if hit is None:
            e = RuntimeError("not found")
            e.code = 404
            raise e
        body, etag = hit
        self.generation = int(etag.lstrip("g"))  # fake etags are g<N>
        return body

    def upload_from_string(self, body, if_generation_match=None):
        hit = self.store.get(self.key)
        current_gen = int(hit[1].lstrip("g")) if hit else 0
        if if_generation_match is not None and if_generation_match != current_gen:
            e = RuntimeError("precondition failed")
            e.code = 412
            raise e
        etag = self.store.put(self.key, body)
        self.generation = int(etag.lstrip("g"))


class _FakeGcsBucket:
    def __init__(self, store):
        self.store = store

    def blob(self, key):
        return _FakeGcsBlob(self.store, key)


def test_gcs_binding_translates_generation_preconditions(tmp_path):
    """The GCS translation: the token is the stringified generation,
    creation maps to if_generation_match=0, a stale generation raises
    StorePreconditionFailed, and the commit contract holds through
    ObjectStoreCASBackend."""
    cl = GCSConditionalPutClient(_FakeGcsBucket(InMemoryObjectStore()))
    assert cl.get("m") is None
    g1 = cl.put("m", b"v1", if_none_match=True)  # if_generation_match=0
    assert cl.get("m") == (b"v1", g1)
    with pytest.raises(StorePreconditionFailed):
        cl.put("m", b"x", if_none_match=True)
    g2 = cl.put("m", b"v2", if_match=g1)
    with pytest.raises(StorePreconditionFailed):
        cl.put("m", b"y", if_match=g1)
    assert cl.get("m") == (b"v2", g2)

    be = ObjectStoreCASBackend(cl)
    root = str(tmp_path)
    t0, m0 = be.read_snapshot(root)
    be.swap_manifest(root, {3: 7}, expected=m0, token=t0)
    t1, m1 = be.read_snapshot(root)
    assert m1 == {3: 7}
    with pytest.raises(CommitConflictError):
        be.swap_manifest(root, {3: 9}, expected=m0, token=t0)
    be.swap_manifest(root, {3: 8}, expected=m1, token=t1)
    assert be.read_manifest(root) == {3: 8}


def test_filter_with_retry_converges_after_detector_conflict(spark, tmp_path):
    """filter_with_retry (round 18): a merge landing inside the
    compaction's window trips the detector; the retry re-applies the
    condition to the ADVANCED state, so the winner's rows are subject
    to the same filter — never silently overwritten, never resurrected."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(20)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=4,
    )
    attempts = []

    def competing_merge():
        attempts.append(1)
        if len(attempts) == 1:
            # one surviving row (key 3 < 10) and one the filter must
            # also drop (key 25 >= 10) — both committed mid-compaction
            U.merge_into_partitioned(
                target,
                spark.createDataFrame(_mk_rows([(3, 333, 5), (25, 25, 5)]), SCHEMA),
                keys=["key"], order_by=["ts", "seq"], num_buckets=4,
            )

    out = U.filter_with_retry(
        spark, target, F.col("key") < 10, _before_commit=competing_merge,
    )
    rows = {r.key: int((r.ts - BASE).total_seconds() // 60)
            for r in out.collect()}
    assert len(attempts) == 2  # first compaction attempt lost, retried
    assert set(rows) == set(range(10))  # 10..19 and 25 filtered away
    assert rows[3] == 333  # the winner's surviving update is present


def test_filter_with_retry_bounded_then_raises(spark, tmp_path):
    """Persistent interleaving exhausts the bounded retries and the
    typed conflict propagates."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "tbl")
    U.merge_into_partitioned(
        target,
        spark.createDataFrame(_mk_rows([(k, k, 1) for k in range(8)]), SCHEMA),
        keys=["key"], order_by=["ts", "seq"], num_buckets=2,
    )
    calls = []

    def always_competing():
        calls.append(1)
        U.merge_into_partitioned(
            target,
            spark.createDataFrame(_mk_rows([(1, 100 + len(calls), 5)]), SCHEMA),
            keys=["key"], order_by=["ts", "seq"], num_buckets=2,
        )

    with pytest.raises(U.ConcurrentWriteError):
        U.filter_with_retry(
            spark, target, F.col("key") < 4, retries=1,
            _before_commit=always_competing,
        )
    assert len(calls) == 2  # initial attempt + 1 retry, both lost
