"""Streaming ANN CODES ingest: grow the IVF-PQ serving index from a
vector stream without ever retraining — the streaming face of the batch
append lifecycle (pipeline/ann_index.append_generation, registry #150)
and the codes-index twin of streaming/vector_stream.py's LSH-bucket
tier.

Per micro-batch (foreachBatch):

    batch vectors → anti-join against already-encoded vec_ids
      → unit-normalized fixed-point quantize (the same
        km.quantize_normalized every cosine-faithful index uses)
      → coarse argmin + per-subspace residual argmin against the
        CURRENT snapshot's FROZEN codebooks (vq.ivfpq_assign over the
        shared kernels _ivfpq_residuals / _ivfpq_encode_residuals —
        byte-identical codes to a from-scratch encode, certified by the
        #150 oracle)
      → non-empty delta: commit current-codes ∪ delta as the next
        snapshot version; empty delta: NO commit.

Exactly-once: Structured Streaming replays a trigger after a crash
between the commit and the checkpoint write; the anti-join + empty-skip
makes the replay a no-op (no duplicate codes, no empty version). A
concurrent appender losing the snapshot CAS is handled INSIDE
ann_index.append_generation — it re-resolves the winner's snapshot,
re-anti-joins the delta, and retries until it commits or the delta is
empty — so a trigger never checkpoints with its vectors uncommitted
(the store contract: the caller re-derives and retries on conflict).
Readers mid-scan keep their resolved version under their feet (snapshot
isolation); store.vacuum with retention reclaims old generations.

Scale shape: per trigger the cluster work is ONE map-side encode of the
batch (argmin over driver-literal codebooks — no shuffle) plus an
O(delta) snapshot publish — existing codes part-files HARDLINK into the
new version and only the delta rows are written (r10;
ann_index.link_or_copy_parquet), so trigger cost never scales with index
size. Training remains a one-off sample-sized job at bootstrap.

Reference scope note: the reference engine has no streaming or vector
tier (SURVEY.md §2.9 is engine breadth); north-star training-data
surface alongside the batch ANN family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from projekt_data_engineering_iubh_spark.operators import kmeans as km
from projekt_data_engineering_iubh_spark.pipeline import ann_index, store
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq


def bootstrap_codes_index(
    spark: SparkSession, base: DataFrame, root: str
) -> str:
    """Train codebooks on the BASE corpus and commit snapshot v1
    (coarse + books + base codes) — the one-off training job; every
    later vector arrives through the stream and is encoded against
    these frozen books.

    IDEMPOTENT on an existing root: a restarting app's natural
    "bootstrap then start stream" sequence must NOT commit a fresh
    base-only snapshot on top of v1..vN — that would publish a version
    whose codes silently DROP every streamed append (the checkpointed
    stream will never re-deliver them). An already-initialized root
    returns untouched (review finding, r11; ann_index.build_once)."""
    qv = base.select(
        "vec_id", km.quantize_normalized(F.col("embedding")).alias("qemb")
    )
    return ann_index.build_once(
        root, lambda d: vq.ivfpq_train_and_write(spark, qv, d)
    )


def _make_append_processor(root: str, policy, assign):
    """Shared foreachBatch body for every append-generation tier: one
    ``ann_index.append_generation(spark, root, batch, assign)`` per
    non-empty trigger, then (with a ``policy``) maintain_ann_root
    enforces the compaction thresholds — the footprint check is O(#files) metadata,
    and compaction, when it fires, publishes through the same store CAS
    every generation uses, so a maintenance fold racing the next
    trigger is just another lost-CAS retry. This is what keeps a
    long-running ingest's file count bounded without an external cron
    (tests/test_ann_maintenance.py pins the bound)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # the isEmpty pre-probe stays (r14 note): generations are
        # exactly-once on an empty delta by themselves, but this probe is
        # one cheap scan AND the bench stream lane's numInputRows counts
        # both source scans — dropping it would halve the lane's
        # rows_per_sec scale and break the r6–r13 comparability the
        # driver's BENCH series depends on
        if batch_df.isEmpty():
            return
        ann_index.append_generation(
            batch_df.sparkSession, root, batch_df, assign
        )
        if policy is not None:
            from projekt_data_engineering_iubh_spark.pipeline import (
                maintenance,
            )

            maintenance.maintain_ann_root(
                batch_df.sparkSession, root, policy
            )

    return _process


def make_codes_batch_processor(root: str, policy=None):
    """foreachBatch hook: one IVF-PQ append generation per non-empty
    trigger (see _make_append_processor for the shared contract)."""
    return _make_append_processor(root, policy, vq.ivfpq_assign)


def start_codes_ingest_stream(
    embs: DataFrame, checkpoint: str, root: str, *, policy=None
):
    """Wire the streaming codes ingest and return the StreamingQuery."""
    return (
        embs.writeStream.outputMode("append")
        .foreachBatch(make_codes_batch_processor(root, policy))
        .option("checkpointLocation", checkpoint)
        .start()
    )


def make_delete_batch_processor(root: str, policy=None):
    """foreachBatch hook for the DELETE stream: one tombstone
    generation per non-empty trigger: a root with a codes artifact is an
    ANN root of either kind (pipeline/ann_index.delete_generation — r12
    extended takedowns to routed roots); a root with NO codes artifact
    is a band-delta dedup index — signature or vector tier — and takes
    its tombstones through
    pipeline/delta_index.delete_index_keys, r13 closing the last index
    family without a takedown face). Exactly-once falls out of the
    delete's own idempotency — keys that are unknown or already dead
    commit NOTHING, so a replayed trigger (crash between commit and
    checkpoint) is a no-op; a lost CAS against a concurrent
    appender/deleter retries inside the call.

    ``policy``: pipeline/maintenance.AnnMaintenancePolicy for ANN
    roots, SignatureIndexMaintenancePolicy for band-delta roots — the
    dispatch routes it to the matching maintainer."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        ann = os.path.isdir(os.path.join(store.resolve(root), "codes"))
        if ann:
            ann_index.delete_generation(spark, root, batch_df)
        else:
            from projekt_data_engineering_iubh_spark.pipeline import (
                delta_index,
            )

            key = delta_index.doc_key_col(spark, root)
            delta_index.delete_index_keys(
                spark, root, batch_df.select(key)
            )
        if policy is not None:
            from projekt_data_engineering_iubh_spark.pipeline import (
                maintenance,
            )

            if ann:
                maintenance.maintain_ann_root(spark, root, policy)
            else:
                maintenance.maintain_band_index(spark, root, policy)

    return _process


def start_codes_delete_stream(
    keys: DataFrame, checkpoint: str, root: str, *, policy=None
):
    """Wire a takedown-key stream (vec_id / doc_id rows — GDPR erasure
    requests, moderation takedowns, dedup re-run verdicts) into
    tombstone generations on the target index: the streaming face of
    FAISS ``remove_ids``, pairing with the codes ingest above so an
    index both grows AND shrinks continuously without retraining. The
    processor dispatches on the root's kind (IVF-PQ / routed / either
    band-delta dedup tier — r13), so ONE delete-stream wiring serves
    every index family. Serving reads go through read_live_codes (ANN)
    or the load_index anti-join (band tiers), so a delete takes effect
    the moment its generation commits while in-flight readers keep
    their snapshot; the matching compaction folds accumulated
    tombstones away on the maintenance cadence."""
    return (
        keys.writeStream.outputMode("append")
        .foreachBatch(make_delete_batch_processor(root, policy))
        .option("checkpointLocation", checkpoint)
        .start()
    )


# ---------------------------------------------------------------------------
# ROUTED-index streaming ingest (r11): grow the #157 routed root from a
# vector stream — per-trigger append generations, the router frozen
# forever (one router in the root's lineage BY CONSTRUCTION)
# ---------------------------------------------------------------------------


def bootstrap_routed_index(
    spark: SparkSession, base: DataFrame, root: str
) -> str:
    """Train cells ∝ base-corpus (ranked-seed Lloyd) + the two-level
    router on the BASE corpus and commit snapshot v1 (centroids, supers,
    cent_super, codes) — the one-off training job; every later vector
    arrives through the stream and is routed by these frozen artifacts
    (plans/vector_queries.routed_assign).

    IDEMPOTENT on an existing root — same restart contract (and same
    review finding) as bootstrap_codes_index: never re-commit a
    base-only snapshot over streamed appends."""
    e = base.select(
        "vec_id", km.quantize(F.col("embedding")).alias("qemb")
    )
    return ann_index.build_once(
        root, lambda d: vq.routed_train_and_write(spark, e, d)
    )


def make_routed_batch_processor(root: str, policy=None):
    """foreachBatch hook for the routed root: one append generation per
    non-empty trigger (route batch through the FROZEN stored router,
    anti-join already-coded ids, O(delta) hardlink commit). Exactly-once
    under replay by the same empty-delta no-op contract as the IVF-PQ
    tier. With a ``policy``, maintain_ann_root folds small codes files
    through ann_index.compact on the file-count threshold (shared body:
    _make_append_processor)."""
    return _make_append_processor(root, policy, vq.routed_assign)


def start_routed_ingest_stream(
    embs: DataFrame, checkpoint: str, root: str, *, policy=None
):
    """Wire the streaming routed-index ingest; returns the StreamingQuery."""
    return (
        embs.writeStream.outputMode("append")
        .foreachBatch(make_routed_batch_processor(root, policy))
        .option("checkpointLocation", checkpoint)
        .start()
    )
