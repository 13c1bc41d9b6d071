"""Shared wiring for BAND-DELTA-maintained index stores (r12, VERDICT
r11 #5): the text near-dup signature index (streaming/neardup_stream.py)
and the semantic vector index (streaming/vector_stream.py) share the
delta PROTOCOL (pipeline/band_delta.py: atomic single-file appends,
live/folded listing with a one-cycle grace window, the fold crash
contract) but each hand-rolled its own store-aware rebuild, full-view
read, and idempotent-integrate fold — three near-verbatim copies per
tier. The r11 review found the same bootstrap bug independently on two
ANN tiers; this module makes the next such bug impossible here by
giving the band-delta tiers ONE implementation, parameterized by the
only thing that differs: the row KEY columns (``(doc_id, band_no)`` for
band rows, ``(vec_id,)`` for bucket rows).

The snapshot-generation ANN roots (ivfpq/routed) have their own shared
wiring (streaming/ann_ingest_stream._make_append_processor + the
pipeline/ann_index generation lifecycle, whose hardlink publish,
tombstone append-or-fold step and CAS-retry loop the delete and
resurrect commits below reuse); the four-store lifecycle matrix test
(tests/test_stream_store_matrix.py) pins all four behind one contract —
since r13 including the DELETE leg: delete_index_keys /
resurrect_index_keys below give both band tiers the same O(|keys|)
tombstone lifecycle the ANN tiers got in r10/r12 (VERDICT r12 #2: a
GDPR-erased doc's band/bucket rows previously stayed live until a full
rebuild, so a deleted doc could still suppress future near-dups of
itself).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from projekt_data_engineering_iubh_spark.operators.minhash import BAND_ROW_KEY
from projekt_data_engineering_iubh_spark.pipeline import ann_index
from projekt_data_engineering_iubh_spark.pipeline import band_delta as _delta

# Tombstone artifact (r13, VERDICT r12 #2): an underscore-prefixed
# subdir INSIDE the committed snapshot version dir, so the bare
# spark.read.parquet of the snapshot (load_index's base branch, fold's
# base read) never sees it — the Hadoop hidden-path rule, the same trick
# the ANN roots use for their sidecar artifacts. Schema: ONE column, the
# tier's DOC-level key (doc_id for band rows, vec_id for bucket rows) —
# deleting a document kills ALL its index rows via one anti-join.
TOMBSTONES_SUBDIR = "_tombstones"


def rebuild_index(
    rows: DataFrame, index_path: str, *, compact_hint: str
) -> None:
    """Materialize (or re-materialize) an index from batch-derived
    ``rows`` — the batch pipeline's job, shared by both tiers.

    Store-aware (r4 ADVICE lineage): a blind ``mode('overwrite')`` on a
    manifest store would delete the manifest, every committed version
    and the ``_appends`` delta OUTSIDE the commit protocol. On a store
    the rebuild commits a snapshot — and REFUSES while live delta files
    exist, because those streamed appends are not part of ``rows`` and
    would be silently orphaned (``compact_hint`` names the tier's fold
    entry point in the error). On a plain path it is a parquet
    overwrite."""
    from projekt_data_engineering_iubh_spark.pipeline import store

    if store.is_store(index_path):
        # the delta module's own liveness definition: ledger-folded
        # files kept for the one-cycle reader grace window are NOT live
        live = _delta.live_files(index_path)
        if live:
            raise RuntimeError(
                f"{index_path} has {len(live)} live append delta "
                f"file(s); rebuilding now would orphan them — run "
                f"{compact_hint} first"
            )
        store.commit_snapshot(
            index_path, lambda d: rows.write.mode("overwrite").parquet(d)
        )
        return
    rows.write.mode("overwrite").parquet(index_path)


def load_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The full index view: current snapshot (manifest-resolved) plus
    the streaming delta area, minus tombstoned documents (r13). With no
    tombstones the plan is the bare union — zero cost on the undeleted
    path; with tombstones it is ONE anti-join against a key set that is
    tiny relative to the index (broadcast by AQE), exactly the
    read_live_codes shape the ANN tiers serve through. The anti-join
    covers the DELTA branch too: a delete issued between an append and
    its fold takes effect immediately."""
    from projekt_data_engineering_iubh_spark.pipeline import store

    cur = store.resolve(index_path)
    base = spark.read.parquet(cur)
    delta = _delta.read_delta(spark, index_path)
    full = base if delta is None else base.unionByName(delta)
    tomb = read_tombstones(spark, cur)
    if tomb is None:
        return full
    return full.join(tomb, tomb.columns, "left_anti")


def read_tombstones(spark: SparkSession, snapshot_dir: str) -> DataFrame | None:
    """The snapshot's live tombstone key set (single doc-level key
    column), or None when the version carries no deletes (absent
    artifact == empty set — the bare-scan fast path)."""
    path = os.path.join(snapshot_dir, TOMBSTONES_SUBDIR)
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def delete_index_keys(
    spark: SparkSession, index_path: str, keys: DataFrame
) -> bool:
    """Commit ONE delete generation to a band-delta index store (r13,
    VERDICT r12 #2 — the takedown face the dedup tiers were missing:
    before this, a GDPR-erased document's band/bucket rows stayed live
    until a full rebuild, so a deleted doc could still suppress future
    near-duplicates of itself). Same contract as the ANN tiers'
    ann_index.delete_generation: ``keys`` is a one-column frame of
    doc-level ids (doc_id / vec_id — the column NAME travels into the
    tombstone artifact and is what reads anti-join on); only ids
    currently live in the view become new tombstones, so unknown or
    already-dead keys commit NOTHING (idempotent under foreachBatch
    replay); the commit is hardlinks of every snapshot data file plus an
    O(|keys|) key-set write, CAS-retried against concurrent
    folds/deletes. Deletes take
    effect at commit for new readers; in-flight readers keep their
    snapshot. fold_index applies tombstones physically and retires them;
    resurrect_index_keys reverses a delete when the document is
    re-ingested."""
    from projekt_data_engineering_iubh_spark.pipeline import store

    if len(keys.columns) != 1:
        raise ValueError(
            f"delete_index_keys wants ONE doc-level key column, got "
            f"{keys.columns}"
        )
    key = keys.columns[0]
    dedup = keys.dropDuplicates([key])
    store.init_store(index_path)

    def derive(cur: str):
        base = spark.read.parquet(cur)
        delta = _delta.read_delta(spark, index_path)
        view_keys = base.select(key)
        if delta is not None:
            view_keys = view_keys.unionByName(delta.select(key))
        tomb = read_tombstones(spark, cur)
        new_dead = dedup.join(view_keys, key, "left_semi")
        if tomb is not None:
            new_dead = new_dead.join(tomb, key, "left_anti")
        new_dead = new_dead.localCheckpoint(eager=True)
        if new_dead.isEmpty():
            return None  # nothing live to delete: idempotent no-op

        def build(data_dir: str) -> None:
            ann_index.link_or_copy_parquet(cur, data_dir)
            ann_index.append_tombstones(
                tomb,
                new_dead,
                os.path.join(cur, TOMBSTONES_SUBDIR),
                os.path.join(data_dir, TOMBSTONES_SUBDIR),
            )

        return build

    return ann_index.commit_with_retries(index_path, "delete", derive)


def resurrect_index_keys(
    spark: SparkSession, index_path: str, ids: DataFrame
) -> bool:
    """Drop tombstones for ids that are being RE-INGESTED (the ANN
    append path's resurrection rule, band-delta shape): the streaming
    processors call this with each trigger's surviving ids before
    appending their index rows, so a document deleted and later
    legitimately re-added matches again. Metadata-only when the snapshot
    carries no tombstones (the overwhelmingly common trigger); when some
    of ``ids`` are tombstoned, commits one snapshot with the key set
    minus them (hardlinked data files — O(|keys|), no index rewrite).
    Returns True iff a commit happened."""

    def derive(cur: str):
        tomb = read_tombstones(spark, cur)
        if tomb is None:
            return None
        key = tomb.columns[0]
        back = ids.select(key).dropDuplicates([key])
        remaining = tomb.join(back, key, "left_anti").localCheckpoint(
            eager=True
        )
        # nothing to resurrect: every tombstone survives
        if remaining.count() == tomb.count():
            return None
        keep = not remaining.isEmpty()

        def build(data_dir: str) -> None:
            ann_index.link_or_copy_parquet(cur, data_dir)
            if keep:
                remaining.coalesce(1).write.parquet(
                    os.path.join(data_dir, TOMBSTONES_SUBDIR)
                )

        return build

    return ann_index.commit_with_retries(index_path, "resurrect", derive)


def fold_index(
    spark: SparkSession,
    index_path: str,
    key_cols: Sequence[str],
    *,
    _on_listed=None,
):
    """Fold the streaming delta into the next index snapshot via the
    shared fold protocol (band_delta.fold: live-file listing, one-cycle
    folded grace window, racing appends stay live). Idempotent by
    construction under the crash contract: delta rows dedup within the
    listing and anti-join the base on ``key_cols``, so re-listed files
    from a crashed cycle — whose rows are already in the snapshot — add
    zero rows (and retry-duplicate advisory files cost nothing).
    Concurrent folds serialize through the store's CommitConflict.
    ``_on_listed`` is a test seam fired between listing and folding.

    Tombstones (r13): the fold is where deletes become PHYSICAL — both
    the base and the delta rows are anti-joined against the snapshot's
    tombstone key set before the merge, so dead rows leave the index
    files here (until then they were only suppressed at read). The
    folded snapshot RETAINS tombstones exactly for keys still present in
    the listed delta files: the crash contract re-integrates those files
    if the ledger write is lost, and without the retained keys that
    replay would silently resurrect deleted rows into the snapshot.
    Keys not in any listed file can never come back (the base rewrite
    committed atomically) and are retired — under normal operation the
    retained set is empty after one fold, which is what bounds the
    tombstone-bytes maintenance trigger."""
    from projekt_data_engineering_iubh_spark.pipeline import store

    store.init_store(index_path)  # no-op when already a manifest store
    keys = list(key_cols)

    def integrate(listed: list[str]) -> None:
        cur = store.resolve(index_path)
        base = spark.read.parquet(cur)
        tomb = read_tombstones(spark, cur)
        if listed:
            delta = (
                spark.read.parquet(*listed)
                .dropDuplicates(keys)
                .join(base.select(*keys), keys, "left_anti")
            )
            merged = base.unionByName(delta)
        else:
            merged = base
        tomb_next = None
        if tomb is not None:
            kc = tomb.columns
            merged = merged.join(tomb, kc, "left_anti")
            if listed:
                # replay-hazard keys: still present in the listed files,
                # which a crashed-ledger cycle would re-integrate
                delta_keys = (
                    spark.read.parquet(*listed).select(kc).dropDuplicates(kc)
                )
                tomb_next = tomb.join(delta_keys, kc, "left_semi")
                tomb_next = tomb_next.localCheckpoint(eager=True)
                if tomb_next.isEmpty():
                    tomb_next = None
        # snapshot the fold before files move
        merged = merged.localCheckpoint(eager=True)

        def write(d: str) -> None:
            merged.write.mode("overwrite").parquet(d)
            if tomb_next is not None:
                tomb_next.coalesce(1).write.parquet(
                    os.path.join(d, TOMBSTONES_SUBDIR)
                )

        store.commit_snapshot(index_path, write)

    return _delta.fold(spark, index_path, integrate, _on_listed=_on_listed)


def detect_key_cols(spark: SparkSession, index_path: str) -> tuple[str, ...]:
    """The tier's ROW key from the stored schema (band rows carry
    band_no; bucket rows don't) — what lets kind-agnostic callers (the
    takedown stream's dispatch, the maintenance tombstone trigger) fold
    either tier through one entry point."""
    from projekt_data_engineering_iubh_spark.pipeline import store

    cols = spark.read.parquet(store.resolve(index_path)).columns
    if "band_no" in cols:
        return BAND_ROW_KEY
    if "vec_id" in cols:
        return ("vec_id",)
    raise ValueError(
        f"{index_path} is not a recognized band-delta index (columns: "
        f"{cols})"
    )


def compact_index(spark: SparkSession, index_path: str):
    """Kind-detecting fold: the generic entry the takedown stream and
    the maintenance policy use when they only hold a root path."""
    return fold_index(spark, index_path, detect_key_cols(spark, index_path))


def doc_key_col(spark: SparkSession, index_path: str) -> str:
    """The DOC-level delete key for this tier (first row-key column)."""
    return detect_key_cols(spark, index_path)[0]
