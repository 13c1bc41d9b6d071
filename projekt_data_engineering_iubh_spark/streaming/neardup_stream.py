"""Streaming NEAR-dup tier: foreachBatch LSH against a persisted
signature index — the composed design the dedup docstrings promise
(streaming/dedup_stream.py handles in-horizon exact copies; this drops
near-duplicates of already-ingested corpus at the trigger boundary).

Per micro-batch:

    batch docs → MinHash signatures and LSH band rows
    (operators/minhash.py — bit-identical signatures and the same
    xxhash64 band keys as the batch/oracle pipeline)
      → EQUI-join on (band_no, band_key) against the persisted index
      → signature-agreement gate (est Jaccard ≥ τ) → drop near-dups
      → surviving docs appended to the store AND their band rows appended
        to the index, so a near-dup arriving N triggers later is dropped
        whether its twin came from the original corpus or the stream.

Scale shape: the index side is bucketed by band key (an equi-join,
plan-asserted in tests — never a cross join); the per-trigger cost is
linear in batch size plus one shuffle of the (small) batch against the
index. State lives in parquet, not stream state: the watermark bounds
nothing here because the index is content-addressed and append-only.

Semantics and limits, stated plainly:

* near-dups WITHIN one micro-batch are dropped by a pairwise self-join
  tier (keep the lowest doc_id — the batch tier's min-representative
  convention); full TRANSITIVE clustering of in-batch chains remains
  the periodic batch job's (``pipeline.corpus.run``) — standard
  two-tier ingest/compaction, same contract as the exact tier.
* foreachBatch retries can append duplicate index rows; band rows are
  advisory (they only generate candidate matches), so duplicates cost
  bytes, not correctness — the batch compaction tier may rewrite the
  index through ``pipeline.store`` for a transactional cleanup.

Reference scope note: the reference engine has no streaming tier at all
(SURVEY.md §2.9 is engine breadth); this module extends its dedup
semantics (D-family) to ingest time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from projekt_data_engineering_iubh_spark.functions import hashing
from projekt_data_engineering_iubh_spark.operators import minhash as mh
from projekt_data_engineering_iubh_spark.pipeline import band_delta as _delta
from projekt_data_engineering_iubh_spark.streaming.corpus_stream import (
    curate_stream,
)

NEAR_TAU = 0.5  # signature-agreement drop gate (matches the batch tier)


def build_signature_index(docs: DataFrame, index_path: str) -> None:
    """Materialize the corpus signature index (the batch pipeline's job):
    band rows of every corpus doc, written as plain parquet.

    Guarded against a migrated index (r4 ADVICE): a blind
    ``mode('overwrite')`` on a manifest store would delete
    ``_MANIFEST.json``, every committed version dir, and the ``_appends``
    delta — destroying snapshots OUTSIDE the commit protocol every other
    writer in this module routes through. On a store the rebuild goes
    through :func:`store.commit_snapshot` (old snapshots stay readable
    until vacuum), and it REFUSES while live delta files exist — those
    appends are not part of ``docs`` and would be silently orphaned;
    run :func:`compact_signature_index` first."""
    from projekt_data_engineering_iubh_spark.pipeline import delta_index

    delta_index.rebuild_index(
        mh.band_rows(mh.signatures(docs)),
        index_path,
        compact_hint="compact_signature_index()",
    )


def neardup_filter_batch(
    batch: DataFrame,
    index: DataFrame,
    *,
    tau: float = NEAR_TAU,
    within_batch: bool = True,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Drop batch docs whose signature agrees ≥ ``tau`` with any index doc
    sharing an LSH band, and (``within_batch``) docs near-duplicating a
    LOWER-doc_id doc of the same micro-batch (the same min-representative
    convention as the batch tier's connected components; the greedy
    pairwise rule here — full transitive clustering stays the batch
    job's). Returns the surviving batch rows unchanged. ``bands`` lets
    the caller reuse already-computed batch band rows (the per-trigger
    processor computes them once for every consumer)."""
    bb = (
        bands if bands is not None else mh.band_rows(mh.signatures(batch))
    ).withColumnRenamed("minhash", "b_minhash")

    def _est(a: str, b: str) -> F.Column:
        return hashing.signature_agreement(F.col(a), F.col(b), mh._MINHASH_K)

    drops = (
        bb.join(
            index.withColumnRenamed("doc_id", "idx_doc_id"),
            ["band_no", "band_key"],
        )
        .filter(F.col("idx_doc_id") != F.col("doc_id"))
        .filter(_est("b_minhash", "minhash") >= tau)
        .select("doc_id")
    )
    if within_batch:
        a = bb.select("doc_id", "band_no", "band_key", "b_minhash")
        b = (
            bb.withColumnRenamed("doc_id", "hi_doc")
            .withColumnRenamed("b_minhash", "hi_minhash")
        )
        intra = (
            a.join(b, ["band_no", "band_key"])
            .filter(F.col("doc_id") < F.col("hi_doc"))
            .filter(_est("b_minhash", "hi_minhash") >= tau)
            .select(F.col("hi_doc").alias("doc_id"))
        )
        drops = drops.unionByName(intra)
    return batch.join(drops.distinct(), "doc_id", "left_anti")


# Streaming appends live in an LSM-style delta area NEXT TO the index
# snapshots — the machinery (atomic single-file appends, live/folded
# listing with a one-cycle grace window, the fold protocol) is SHARED
# with the batch tier's bucketed band index: pipeline/band_delta.py
# (r5 VERDICT #4). Readers union the delta in explicitly via
# load_index(); compact_signature_index() folds exactly the delta files
# it listed into the next snapshot (appends that race the compaction
# stay in the delta and remain visible — no lost rows, the property a
# resolved-dir append could not give).


def load_index(spark, index_path: str) -> DataFrame:
    """The full index view: current snapshot (manifest-resolved) plus the
    streaming delta area (shared wiring: pipeline/delta_index.py)."""
    from projekt_data_engineering_iubh_spark.pipeline import delta_index

    return delta_index.load_index(spark, index_path)


def compact_signature_index(spark, index_path: str, *, _on_listed=None):
    """Fold the streaming delta into the next index snapshot (the batch
    tier's maintenance job). One shared implementation for every
    band-delta tier (pipeline/delta_index.py::fold_index — r12 VERDICT
    #5 unification); this tier's row key is ``(doc_id, band_no)``, which
    is what makes re-integration of re-listed files from a crashed fold
    cycle add zero rows. Tombstoned docs' band rows leave the index
    files here (r13 — until the fold they are suppressed at read).
    ``_on_listed`` is a test seam fired between listing and folding."""
    from projekt_data_engineering_iubh_spark.pipeline import delta_index

    delta_index.fold_index(
        spark, index_path, mh.BAND_ROW_KEY, _on_listed=_on_listed
    )


def delete_docs(spark, index_path: str, doc_ids: DataFrame) -> bool:
    """Tombstone documents in the signature index (r13, VERDICT r12 #2
    — GDPR erasure / moderation takedown for the NEAR-DUP tier): an
    O(|keys|) delete generation through the shared band-delta tombstone
    core (pipeline/delta_index.py::delete_index_keys). From the commit
    on, the erased docs' band rows stop matching as near-dup anchors in
    every read path (load_index anti-join — bare scan when undeleted);
    compact_signature_index folds the rows away physically; a
    re-ingested doc resurrects via the processor's resurrect call.
    ``doc_ids``: any frame with a doc_id column."""
    from projekt_data_engineering_iubh_spark.pipeline import delta_index

    return delta_index.delete_index_keys(
        spark, index_path, doc_ids.select("doc_id")
    )


def start_neardup_corpus_stream(
    docs: DataFrame,
    out_path: str,
    checkpoint: str,
    index_path: str,
    *,
    tau: float = NEAR_TAU,
    cluster_root: str | None = None,
    policy=None,
    **curate_kwargs,
):
    """Corpus curation stream with the near-dup tier wired in:
    quality lane + in-horizon exact dedup (curate_stream) run INSIDE the
    stream plan, then each micro-batch near-dup-filters against the full
    index view (snapshot + delta), writes survivors idempotently to the
    (split, lang)-partitioned store, and appends their band rows to the
    index delta area. ``cluster_root`` additionally maintains the
    transitive cluster map per trigger (see make_batch_processor).
    ``policy`` (pipeline/maintenance.SignatureIndexMaintenancePolicy)
    additionally enforces the delta-fold thresholds at every trigger —
    without it the delta grows one file per trigger until someone runs
    compact_signature_index by hand (the same gap the ANN tier closed
    with AnnMaintenancePolicy)."""
    curated = curate_stream(docs, **curate_kwargs)
    processor = make_batch_processor(
        out_path, index_path, tau=tau, cluster_root=cluster_root,
        policy=policy,
    )
    return (
        curated.writeStream.outputMode("append")
        .foreachBatch(processor)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def make_batch_processor(
    out_path: str,
    index_path: str,
    *,
    tau: float = NEAR_TAU,
    cluster_root: str | None = None,
    policy=None,
):
    """The foreachBatch body, exposed for direct (retry-semantics) tests.

    Exactly-once store writes under foreachBatch's at-least-once contract:
    survivors carry an ``_ingest_batch`` partition column and the write is
    a DYNAMIC partition overwrite — a retried trigger rewrites exactly its
    own (split, lang, batch) leaf dirs instead of appending duplicates.
    The bookkeeping column rides along in the store (readers that don't
    select it never pay for it; a compaction pass may fold it away by
    repartitioning on (split, lang) and dropping the column). Index delta
    appends stay at-least-once — band rows are advisory (duplicates cost
    bytes, never correctness).

    ``cluster_root``: per-trigger transitive cluster-map maintenance
    (pipeline/cluster_index.py) over the FULL curated batch — dropped
    near-dups still enter the map as members of their match's cluster,
    the bridge-merge information. Safe under foreachBatch's replay:
    ingest_batch is idempotent (prior rows for the batch's ids are
    recomputed) and the map commit is atomic; a CommitConflict from a
    concurrently-running batch-tier ingest fails the trigger, and the
    stream's retry replays cleanly. Since r6, ingest_batch additionally
    REQUIRES monotone doc_ids across triggers (the exact-capped-parity
    contract, cluster_index.py) — streams into a cluster-maintained
    corpus must assign ids from an increasing sequence (the natural
    ingest-pipeline shape; a replayed trigger re-presents the SAME ids,
    which the idempotent re-ingest path accepts).

    ``policy`` (pipeline/maintenance.SignatureIndexMaintenancePolicy):
    opt-in delta-fold enforcement at trigger end, after this trigger's
    append landed — the text-tier analog of the ANN processors' policy
    arg. Without it the delta grows one file per trigger unbounded.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        index = load_index(spark, index_path)
        # ONE stable snapshot of the batch and ONE signature pass for
        # every consumer below (filter, delta append, cluster ingest) —
        # the batch plan must never recompute through the stream source
        stable = batch_df.localCheckpoint(eager=True)
        bb = mh.band_rows(mh.signatures(stable)).localCheckpoint(eager=True)
        kept = neardup_filter_batch(stable, index, tau=tau, bands=bb)
        kept = kept.localCheckpoint(eager=True)
        (
            kept.drop("text_hash")
            .withColumn("_ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            # writer-scoped, NOT spark.conf.set: mutating the session conf
            # would silently flip every later partitioned overwrite in the
            # same session to dynamic semantics (review finding)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("split", "lang", "_ingest_batch")
            .parquet(out_path)
        )
        # resurrection (r13): a surviving doc whose id is tombstoned is
        # a legitimate RE-ADD — drop its tombstone so it matches again
        # (metadata-only when the snapshot carries no tombstones, the
        # overwhelmingly common trigger)
        from projekt_data_engineering_iubh_spark.pipeline import delta_index

        delta_index.resurrect_index_keys(
            spark, index_path, kept.select("doc_id")
        )
        # one delta file per trigger, landed atomically by the shared
        # append protocol (band_delta.append_one — unique names, retry
        # adds a duplicate advisory file at worst)
        kept_bands = bb.join(
            kept.select("doc_id"), "doc_id", "left_semi"
        )
        _delta.append_one(kept_bands, index_path)

        if cluster_root is not None:
            from projekt_data_engineering_iubh_spark.pipeline import (
                cluster_index,
            )

            cluster_index.ingest_batch(
                spark, stable, cluster_root, tau=tau, bands=bb
            )

        if policy is not None:
            # enforce the delta-fold policy at trigger end, AFTER this
            # trigger's append landed (so its file counts toward the
            # threshold). O(#files) metadata on the happy path; when it
            # fires, the fold commits through the store CAS — a replayed
            # trigger re-runs the check against the already-folded state
            # and is a no-op (idempotent like everything above).
            from projekt_data_engineering_iubh_spark.pipeline import (
                maintenance,
            )

            maintenance.maintain_signature_index(spark, index_path, policy)

    return _process
