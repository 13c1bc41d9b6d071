"""Composed incremental corpus ingest — the applied batch-tier pipeline
that ties the dedup storage pieces together:

    arriving batch
      → EXACT tier: content-hash join against the text_hash-bucketed
        corpus table (corpus_store.exact_matches — corpus side reads
        exchange-free)
      → NEAR tier: LSH band join against the band_key-bucketed index
        (corpus_store.near_matches — ditto)
      → survivors ingested into the transitive CLUSTER MAP
        (cluster_index.ingest_batch — bridge-merging, atomic commit)
      → survivors appended to the corpus table and the band index

Returns a per-doc status frame (kept / dup_exact / dup_near with the
matched doc), mirroring docs_dedup_incremental's output contract, plus
ingest counters. Both tiers also run WITHIN the batch (greedy min-id
convention, the same as streaming/neardup_stream.py's intra tier): two
identical docs arriving in one batch store ONE copy.

Scale shape: every stage is an equi-join whose BIG side is pre-bucketed
on the join key (shuffle paid once at write time); the batch's MinHash
signatures compute ONCE (checkpointed band rows threaded into every
consumer); the cluster-map CC runs over the touched subgraph only.
Per-batch cost is linear in batch size and nothing rescans corpus text.
Bucket-occupancy caveat: the stored-index joins are per-batch linear
but bucket-unbounded (operators/minhash.py's LSH_MAX_BUCKET cap guards
the from-scratch candidate generator, not the stored index — see
cluster_index.py's parity contract for why, and the batch rerun for the
reconciliation).

Crash recovery: RE-RUN THE FAILED BATCH — every step tolerates replay.
cluster_index.ingest_batch is idempotent (prior map rows recomputed),
the match tiers exclude self-matches (a doc's own rows from the crashed
run never classify it as its own duplicate), band-index re-appends are
advisory duplicates (compacted by cluster_index.maintain), and the
corpus-table append runs LAST so content lands exactly once unless the
append job itself dies mid-write (the one remaining boundary; route the
corpus through pipeline/store.py snapshots if that matters).

Note the policy difference from the streaming near-dup tier
(streaming/neardup_stream.py): that tier DROPS near-dups at the trigger
boundary and keeps no cluster state; this batch tier drops them too but
ALSO maintains the transitive cluster map, so a later batch that bridges
two existing clusters merges them (cluster_index.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from projekt_data_engineering_iubh_spark.operators.minhash import (
    band_rows,
    signatures,
)
from projekt_data_engineering_iubh_spark.pipeline import cluster_index, corpus_store


@dataclass(frozen=True)
class IngestStats:
    n_batch: int
    n_dup_exact: int
    n_dup_near: int
    n_kept: int


def ingest(
    spark: SparkSession,
    batch: DataFrame,
    *,
    corpus_table: str,
    band_table: str,
    cluster_root: str,
    tau: float = cluster_index.DEFAULT_TAU,
) -> tuple[DataFrame, IngestStats]:
    """Run one batch through exact → near → cluster-map ingest, append
    survivors to both bucketed stores, and return (status frame, stats).

    The status frame has (doc_id, status, match_doc_id) with
    status ∈ {'dup_exact', 'dup_near', 'kept'} — exact beats near, a
    corpus match beats an intra-batch match, the match is the lowest
    matching doc (deterministic), same contract as the
    docs_dedup_incremental diagnostic query extended with the
    intra-batch tier.
    """
    batch = batch.localCheckpoint(eager=True)  # one stable input snapshot
    # the batch's band rows compute ONCE for every consumer below
    bb = band_rows(signatures(batch)).localCheckpoint(eager=True)

    exact = corpus_store.exact_matches(spark, batch, corpus_table).select(
        "doc_id", F.col("match_doc_id").alias("exact_match")
    )
    near = corpus_store.near_matches(
        spark, batch, band_table, tau=tau, bands=bb
    ).select("doc_id", F.col("match_doc_id").alias("near_match"))

    # intra-batch tiers, greedy min-id (neardup_stream convention;
    # transitive intra chains remain the batch rerun's)
    bh = batch.select("doc_id", F.md5("text").alias("h"))
    lows = bh.groupBy("h").agg(F.min("doc_id").alias("low"))
    intra_exact = (
        bh.join(lows, "h")
        .filter(F.col("doc_id") != F.col("low"))
        .select("doc_id", F.col("low").alias("intra_exact"))
    )
    intra_near = (
        cluster_index._pairs_within(bb, tau)
        .groupBy(F.col("dst").alias("doc_id"))
        .agg(F.min("src").alias("intra_near"))
    )

    status = (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(intra_exact, "doc_id", "left")
        .join(intra_near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("exact_match").isNotNull()
                | F.col("intra_exact").isNotNull(),
                "dup_exact",
            )
            .when(
                F.col("near_match").isNotNull()
                | F.col("intra_near").isNotNull(),
                "dup_near",
            )
            .otherwise("kept")
            .alias("status"),
            F.coalesce(
                "exact_match", "intra_exact", "near_match", "intra_near"
            ).alias("match_doc_id"),
        )
        .localCheckpoint(eager=True)
    )

    kept_ids = status.filter(F.col("status") == "kept").select("doc_id")
    kept = batch.join(kept_ids, "doc_id", "left_semi").localCheckpoint(
        eager=True
    )

    # order per the crash contract (module docstring): idempotent map
    # ingest, then the advisory band index, then the corpus table LAST.
    # The full batch — kept AND dropped — goes into the cluster map: a
    # dropped near-dup still belongs to its match's cluster, which is
    # exactly the bridge-merge information the map exists to carry.
    cluster_index.ingest_batch(spark, batch, cluster_root, tau=tau, bands=bb)
    # resurrection (r13): a kept doc whose id was tombstoned by a
    # takedown is a legitimate re-add — drop its tombstone so its band
    # rows match again (no-op when the index carries no tombstones, the
    # overwhelmingly common batch)
    corpus_store.resurrect_band_docs(spark, band_table, kept_ids)
    corpus_store.append_band_index(
        kept, band_table, bands=bb.join(kept_ids, "doc_id", "left_semi")
    )
    corpus_cols = [c for c in spark.table(corpus_table).columns if c != "text_hash"]
    corpus_store.append_bucketed_corpus(kept.select(*corpus_cols), corpus_table)

    by = {
        r["status"]: r["n"]
        for r in status.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stats = IngestStats(
        n_batch=batch.count(),
        n_dup_exact=by.get("dup_exact", 0),
        n_dup_near=by.get("dup_near", 0),
        n_kept=by.get("kept", 0),
    )
    return status, stats


def main(argv: list[str]) -> int:
    """``python -m …pipeline.ingest <batch.parquet> <corpus_table>
    <band_table> <cluster_root>`` — run one batch through the composed
    ingest (deploy runbook's incremental-ingest step). Prints the
    counters as one JSON line."""
    import json

    from pyspark.sql import SparkSession

    from projekt_data_engineering_iubh_spark.session import get_spark

    if len(argv) < 5:
        print(
            "usage: ingest.py <batch.parquet> <corpus_table> <band_table>"
            " <cluster_root>"
        )
        return 1
    borrowed = SparkSession.getActiveSession() is not None
    spark = get_spark("ingest")
    try:
        batch = spark.read.parquet(argv[1])
        _, stats = ingest(
            spark,
            batch,
            corpus_table=argv[2],
            band_table=argv[3],
            cluster_root=argv[4],
        )
        print(json.dumps(stats.__dict__))
        return 0
    finally:
        if not borrowed:
            spark.stop()


if __name__ == "__main__":
    import sys

    raise SystemExit(main(sys.argv))
