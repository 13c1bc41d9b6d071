"""Manifest-pointer snapshot store: atomic maintenance commits.

The r3 VERDICT's #1 ask: a reader racing compact()/zorder_write() must
see a consistent pre- or post-snapshot store — never a torn listing.
The concurrency test here drives a live reader loop (full resolve →
scan → count each iteration) while maintenance commits run, including
row-count-changing data commits, layout-only compactions, Z-order
relayouts, and vacuums of superseded versions.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.pipeline import store
from projekt_data_engineering_iubh_spark.pipeline.maintenance import (
    compact,
    zorder_write,
)


def _write_rows(spark, n, dst, *, parts=4):
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, "train").otherwise("test").alias("split"),
            (F.col("id") * 3).alias("payload"),
        )
        .repartition(parts)
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(dst)
    )


def test_init_resolve_commit_vacuum_roundtrip(spark, tmp_path):
    root = str(tmp_path / "plain")
    _write_rows(spark, 100, root)
    # plain dir: resolve is a no-op
    assert store.resolve(root) == root
    assert not store.is_store(root)

    snap1 = store.init_store(root)
    assert store.is_store(root)
    assert snap1.version == 1
    assert store.resolve(root).endswith("v00000001")
    assert spark.read.parquet(store.resolve(root)).count() == 100
    # idempotent re-init
    assert store.init_store(root).version == 1

    snap2 = store.commit_snapshot(root, lambda d: _write_rows(spark, 250, d))
    assert snap2.version == 2
    assert store.read(spark, root).count() == 250

    # snapshot isolation: a reader that resolved BEFORE the commit keeps a
    # consistent version under its feet until vacuum
    assert spark.read.parquet(snap1.data_dir).count() == 100

    snap3 = store.commit_snapshot(root, lambda d: _write_rows(spark, 300, d))
    removed = store.vacuum(root, keep=2)
    assert removed == ["v00000001"]
    assert store.read(spark, root).count() == 300
    assert spark.read.parquet(snap2.data_dir).count() == 250  # kept
    assert snap3.version == 3


def test_failed_commit_is_invisible(spark, tmp_path):
    root = str(tmp_path / "failstore")
    _write_rows(spark, 50, root)
    store.init_store(root)

    def _boom(dst):
        _write_rows(spark, 999, dst)
        raise RuntimeError("writer died mid-commit")

    with pytest.raises(RuntimeError):
        store.commit_snapshot(root, _boom)
    assert store.current_version(root) == 1
    assert store.read(spark, root).count() == 50
    # the orphan dir was cleaned up — a later commit reuses the version
    assert store.commit_snapshot(
        root, lambda d: _write_rows(spark, 60, d)
    ).version == 2


def test_compact_and_zorder_commit_snapshots(spark, tmp_path):
    root = str(tmp_path / "maintstore")
    for b in range(5):  # many tiny appends
        (
            spark.range(b * 100, (b + 1) * 100)
            .select(
                F.col("id").alias("doc_id"),
                F.when(F.col("id") % 2 == 0, "train").otherwise("test").alias("split"),
                (F.col("id") % 50).alias("x"),
                (F.col("id") % 37).alias("y"),
            )
            .repartition(4)
            .write.mode("append")
            .partitionBy("split")
            .parquet(root)
        )
    store.init_store(root)
    v0 = store.current_version(root)

    stats = compact(spark, root, ("split",))
    assert store.current_version(root) == v0 + 1
    assert stats.n_rows == 500
    assert stats.n_files_after < stats.n_files_before
    assert store.read(spark, root).count() == 500

    zorder_write(store.read(spark, root), root, ("x", "y"))
    assert store.current_version(root) == v0 + 2
    assert store.read(spark, root).count() == 500


def test_reader_loop_racing_maintenance_sees_only_snapshots(spark, tmp_path):
    """THE race test: reads resolve+scan continuously while compactions,
    a Z-order relayout, data commits, and vacuums run. Every read must
    return exactly one committed row count — 600 (v1 data) or 900 (the
    recomputed day) — and never throw."""
    root = str(tmp_path / "racestore")
    _write_rows(spark, 600, root, parts=8)
    store.init_store(root)

    counts: list[int] = []
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(store.read(spark, root).count())
            except BaseException as e:  # noqa: BLE001 — the test IS the net
                errors.append(e)
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        compact(spark, root, ("split",))
        store.commit_snapshot(root, lambda d: _write_rows(spark, 900, d, parts=8))
        store.vacuum(root, keep=2)
        compact(spark, root, ("split",))
        zorder_write(store.read(spark, root), root, ("payload",))
        store.vacuum(root, keep=2)
    finally:
        stop.set()
        for t in threads:
            t.join()

    assert not errors, errors
    assert len(counts) >= 5  # the loop genuinely raced the maintenance
    assert set(counts) <= {600, 900}, sorted(set(counts))
    assert store.read(spark, root).count() == 900


@pytest.fixture(params=["flock", "conditional_put"])
def backend(request):
    """Race every concurrency test against BOTH commit backends: the
    POSIX flock CAS and the object-store conditional-PUT shape (r4
    VERDICT #6) — the protocol must not depend on which one is under
    it."""
    if request.param == "flock":
        return store.FlockBackend()
    return store.ConditionalPutBackend()


def test_concurrent_committers_no_lost_updates(spark, tmp_path, backend):
    """Optimistic concurrency: two writers each append 100 rows starting
    from whatever snapshot is current, retrying on CommitConflict. No
    interleaved snapshot dirs, no lost updates: the final store holds
    BOTH appends, and at least one conflict was actually raised when the
    writers collided."""
    root = str(tmp_path / "occstore")
    _write_rows(spark, 100, root)
    store.init_store(root)

    conflicts: list[int] = []
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def appender(tag: int) -> None:
        try:
            barrier.wait()  # maximize the collision window
            for attempt in range(5):
                cur = spark.read.parquet(store.resolve(root))
                nxt = cur.unionByName(
                    spark.range(10_000 * tag, 10_000 * tag + 100).select(
                        F.col("id").alias("doc_id"),
                        F.lit("train").alias("split"),
                        (F.col("id") * 3).alias("payload"),
                    )
                ).localCheckpoint(eager=True)  # snapshot BEFORE the target moves
                try:
                    store.commit_snapshot(
                        root,
                        lambda d, df=nxt: df.write.mode("overwrite")
                        .partitionBy("split")
                        .parquet(d),
                        backend=backend,
                    )
                    return
                except store.CommitConflict:
                    conflicts.append(tag)
            errors.append(RuntimeError(f"writer {tag} never committed"))
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    final = spark.read.parquet(store.resolve(root))
    assert final.count() == 300  # 100 base + both appends — nothing lost
    assert final.where(F.col("doc_id") >= 10_000).count() == 200


def test_commit_conflict_is_raised_and_orphan_removed(spark, tmp_path, backend):
    import glob as _glob

    root = str(tmp_path / "conflictstore")
    _write_rows(spark, 50, root)
    store.init_store(root)

    store.commit_snapshot(
        root, lambda d: _write_rows(spark, 60, d), backend=backend
    )  # v2

    with pytest.raises(store.CommitConflict):
        # force the race deterministically: writer B commits INSIDE
        # writer A's write_fn, so A's base (v2) is superseded before A
        # reaches its publish point
        def racing_write(d):
            store.commit_snapshot(
                root, lambda d2: _write_rows(spark, 70, d2), backend=backend
            )
            _write_rows(spark, 80, d)

        store.commit_snapshot(root, racing_write, backend=backend)

    # loser's orphan dir removed; store shows the winner (70 rows).
    # A had claimed v3 before B started, so B's winning commit is v4;
    # the conflicted v3 must be gone.
    assert store.read(spark, root).count() == 70
    assert store.current_version(root) == 4
    dirs = {p.split("/")[-1] for p in _glob.glob(root + "/v*")}
    assert dirs == {"v00000001", "v00000002", "v00000004"}, dirs


def test_time_travel_reads(spark, tmp_path):
    root = str(tmp_path / "ttstore")
    _write_rows(spark, 100, root)
    store.init_store(root)
    store.commit_snapshot(root, lambda d: _write_rows(spark, 200, d))
    store.commit_snapshot(root, lambda d: _write_rows(spark, 300, d))

    assert store.read(spark, root).count() == 300
    assert store.read(spark, root, version=1).count() == 100
    assert store.read(spark, root, version=2).count() == 200
    assert [s.version for s in store.snapshots(root)] == [1, 2, 3]

    store.vacuum(root, keep=1)
    with pytest.raises(FileNotFoundError):
        store.read(spark, root, version=1)
    assert store.read(spark, root, version=3).count() == 300


def test_time_travel_never_exposes_uncommitted_dirs(spark, tmp_path):
    """A version dir claimed by an in-flight (or conflict-doomed) writer
    must be invisible to read(version=)/snapshots() — only PUBLISHED
    versions are time-travelable."""
    root = str(tmp_path / "inflight")
    _write_rows(spark, 100, root)
    store.init_store(root)

    # simulate an in-flight writer: claimed dir with partial data, no commit
    from pathlib import Path

    claimed = Path(root) / "v00000002"
    claimed.mkdir()
    _write_rows(spark, 7, str(claimed / "partial_part"))

    assert [s.version for s in store.snapshots(root)] == [1]
    with pytest.raises(FileNotFoundError):
        store.read(spark, root, version=2)

    # a real commit lands as v3 (v2 is claimed) and becomes visible
    snap = store.commit_snapshot(root, lambda d: _write_rows(spark, 200, d))
    assert snap.version == 3
    assert [s.version for s in store.snapshots(root)] == [1, 3]
    assert store.read(spark, root, version=3).count() == 200


def test_vacuum_retains_keep_snapshots_across_version_gaps(spark, tmp_path):
    """r4 ADVICE: version numbers can have gaps (a CommitConflict loser's
    claimed dir is removed). vacuum(keep=N) must retain the newest N
    ACTUAL snapshots — version arithmetic (v <= cur - keep) on history
    [1, 3] would delete v1 and leave only one — and prune vacuumed
    versions from the manifest history."""
    from pathlib import Path

    root = str(tmp_path / "gapstore")
    _write_rows(spark, 100, root)
    store.init_store(root)

    # burn v2: a conflict-doomed writer claims the dir, the next committer
    # lands as v3, then the loser's orphan cleanup removes v2 — leaving
    # committed history [1, 3] with a version-number gap
    claimed = Path(root) / "v00000002"
    claimed.mkdir()
    snap3 = store.commit_snapshot(root, lambda d: _write_rows(spark, 300, d))
    claimed.rmdir()
    assert snap3.version == 3  # gap: committed history is [1, 3]

    removed = store.vacuum(root, keep=2)
    # both committed snapshots are within keep=2 — nothing may go
    assert removed == []
    assert [s.version for s in store.snapshots(root)] == [1, 3]
    assert store.read(spark, root, version=1).count() == 100

    store.commit_snapshot(root, lambda d: _write_rows(spark, 400, d))
    removed = store.vacuum(root, keep=2)
    assert removed == ["v00000001"]
    # history pruned: vacuumed v1 no longer in the time-travel catalog
    assert [s.version for s in store.snapshots(root)] == [3, 4]
    assert store._committed_versions(root) == [3, 4]
    # and the surviving snapshots still read
    assert store.read(spark, root, version=3).count() == 300
    assert store.read(spark, root).count() == 400


def test_build_signature_index_respects_manifest_store(spark, tmp_path):
    """r4 ADVICE: a rebuild over a migrated index must route through the
    commit protocol (old snapshots stay readable), and must REFUSE while
    live _appends delta files exist (they would be silently orphaned)."""
    import os

    from projekt_data_engineering_iubh_spark.streaming import neardup_stream as nd

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "sigidx")
    nd.build_signature_index(docs, idx)
    store.init_store(idx)
    v1_dir = store.resolve(idx)
    v1_rows = spark.read.parquet(v1_dir).count()

    # rebuild on a manifest store → a NEW committed snapshot, not a clobber
    more = spark.createDataFrame(
        [(3, "seven eight nine ten eleven twelve")], ["doc_id", "text"]
    )
    nd.build_signature_index(docs.unionByName(more), idx)
    assert store.current_version(idx) == 2
    assert store.is_store(idx)  # manifest survived
    assert spark.read.parquet(v1_dir).count() == v1_rows  # old snapshot intact
    assert spark.read.parquet(store.resolve(idx)).count() > v1_rows

    # live delta files → refuse (compaction must fold them first)
    delta = nd._appends_dir(idx)
    os.makedirs(delta, exist_ok=True)
    with open(os.path.join(delta, "stray.parquet"), "wb") as f:
        f.write(b"x")
    with pytest.raises(RuntimeError, match="live append delta"):
        nd.build_signature_index(docs, idx)


def test_claim_outlives_overwrite_recreating_the_dir(tmp_path):
    """An overwrite-mode write deletes its output dir before re-creating
    it; the version stays claimed meanwhile, so a concurrent writer moves
    on to the next one instead of writing into the same snapshot dir."""
    root = tmp_path / "claims"
    root.mkdir()
    version, data_dir = store._claim_version_dir(root, 1)
    data_dir.rmdir()  # the overwrite's delete, before its job re-creates it
    other, other_dir = store._claim_version_dir(root, 1)
    assert (version, other) == (1, 2) and other_dir != data_dir
