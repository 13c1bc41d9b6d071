"""Bucketed corpus storage: shuffle once at write time, never at read.

The gap this closes (r4 VERDICT #5): tests/test_bucketing.py proved
zero-exchange bucketed joins in the abstract, but the corpus pipeline
wrote plain partitioned parquet, so every later dedup/index join
re-shuffled the full corpus at read time. At 100 TB the corpus is the
big side of every incremental-ingest join — paying its shuffle once, at
write time, is the storage-level lever (the same reason warehouses
bucket fact tables).

The bucket key is the CONTENT HASH (md5 of text), not doc_id: the
incremental exact-dedup tier joins arriving batches against the corpus
on content equality (plans/curation_queries.py::docs_dedup_incremental's
exact tier), so bucketing by text_hash makes the corpus side of that
join exchange-free — the (small) batch side shuffles into the corpus's
bucketing. ``sortBy`` the same key so the sort-merge join's corpus-side
sort is also satisfied from storage.

Bucketed writes require the table catalog (``saveAsTable``) — Spark
records bucket metadata in the catalog, plain ``parquet(path)`` cannot
carry it. Tables land in the session's warehouse dir.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from projekt_data_engineering_iubh_spark.functions import hashing
from projekt_data_engineering_iubh_spark.operators.minhash import (
    _MINHASH_K,
    BAND_ROW_KEY,
    band_rows,
    signatures,
)
from projekt_data_engineering_iubh_spark.pipeline import band_delta

DEFAULT_BUCKETS = 16  # sized for tests; production sizes to ~executor count

# Takedown sidecar for the BUCKETED band index (r13, VERDICT r12 #2):
# ``<table location>/_tombstones/*.parquet`` — doc_id key files landed by
# the same atomic-rename protocol as the ``_appends`` delta (underscore
# prefix ⇒ invisible to table scans). A delete is O(|keys|): one small
# file, no catalog write, no bucket shuffle; reads anti-join the live
# key set (bare scan when none), and compact_band_index applies the keys
# physically on the maintenance cadence.
TOMBSTONES_SUBDIR = "_tombstones"


def table_location(spark: SparkSession, table: str) -> str:
    """Filesystem location of a catalog table (the band index's delta
    area lives under it, underscore-prefixed so table scans skip it)."""
    row = (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .filter(F.col("col_name") == "Location")
        .select("data_type")
        .first()
    )
    loc = row[0]
    return loc[len("file:") :] if loc.startswith("file:") else loc


# ONE statement of each bucket spec: appends into a bucketed table must
# restate the spec (Spark rejects a spec-less append), and a second copy
# that drifted would silently break the zero-exchange join contract —
# so write and append share these private writers.


def _write_corpus(df: DataFrame, table: str, mode: str, buckets: int) -> None:
    (
        df.withColumn("text_hash", F.md5("text"))
        .write.mode(mode)
        .bucketBy(buckets, "text_hash")
        .sortBy("text_hash")
        .saveAsTable(table)
    )


def _write_bands(bands: DataFrame, table: str, mode: str, buckets: int) -> None:
    (
        bands.write.mode(mode)
        .bucketBy(buckets, "band_key")
        .sortBy("band_key")
        .saveAsTable(table)
    )


def write_bucketed_corpus(
    df: DataFrame, table: str, *, buckets: int = DEFAULT_BUCKETS
) -> None:
    """Write a curated-corpus frame as a text_hash-bucketed catalog table
    (idempotent overwrite)."""
    _write_corpus(df, table, "overwrite", buckets)


def append_bucketed_corpus(
    df: DataFrame, table: str, *, buckets: int = DEFAULT_BUCKETS
) -> None:
    """Append new docs to the bucketed corpus table."""
    _write_corpus(df, table, "append", buckets)


def append_band_index(
    docs: DataFrame,
    table: str,
    *,
    bands: DataFrame | None = None,
) -> None:
    """Append new docs' band rows to the index's DELTA area — the shared
    LSM mechanism (pipeline/band_delta.py, one atomic file per batch;
    r5 VERDICT #4), not a per-batch bucketed append. Cheap at ingest
    time (no bucket shuffle, no catalog write); readers union the delta
    in per join branch (band_index_frames) and compact_band_index folds
    it into the bucketed table on the maintenance cadence. ``bands``
    lets a caller that already computed the batch's band rows (the
    composed ingest) avoid re-running the signature pipeline."""
    rows = bands if bands is not None else band_rows(signatures(docs))
    spark = rows.sparkSession
    band_delta.append_one(rows, table_location(spark, table))


def _tombstones_dir(spark: SparkSession, table: str) -> str:
    return os.path.join(table_location(spark, table), TOMBSTONES_SUBDIR)


def _tombstone_files(spark: SparkSession, table: str) -> list[str]:
    return sorted(
        f
        for f in glob.glob(
            os.path.join(_tombstones_dir(spark, table), "*.parquet")
        )
        if os.path.isfile(f)
    )


def band_tombstones(
    spark: SparkSession, table: str, *, files: list[str] | None = None
) -> DataFrame | None:
    """The index's live tombstoned doc_ids, or None when there are no
    delete files (absent sidecar == empty set — the bare-scan fast
    path). ``ignoreMissingFiles``: a file applied-and-purged by a
    concurrent compaction after this listing degrades to fewer dead
    keys in THIS plan, and those rows are gone from the base anyway."""
    fs = _tombstone_files(spark, table) if files is None else files
    if not fs:
        return None
    return (
        spark.read.option("ignoreMissingFiles", "true")
        .parquet(*fs)
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )


def delete_band_docs(
    spark: SparkSession, table: str, doc_ids: DataFrame
) -> None:
    """Tombstone documents in the bucketed band index (r13 — the batch
    tier's takedown face, mirroring the streaming tiers' delete
    generations): land the doc_id key set as ONE sidecar file by atomic
    rename, O(|keys|) with no catalog write and no bucket shuffle. From
    the rename on, the erased docs' band rows stop matching as near-dup
    anchors (near_matches reads through the anti-join); the rows leave
    the table physically at the next compact_band_index. Idempotent
    under retry: a duplicate key file changes nothing (keys dedup at
    read). A legitimate RE-ADD of an erased doc_id must call
    resurrect_band_docs first (the same rule the streaming processors
    apply automatically) — until then the id stays dead, including its
    not-yet-compacted delta rows."""
    band_delta.land_file(
        doc_ids.select("doc_id").dropDuplicates(["doc_id"]),
        _tombstones_dir(spark, table),
    )


def _overwrite_bands_preserving_sidecars(
    spark: SparkSession, table: str, live: DataFrame, buckets: int
) -> None:
    """A managed-table overwrite DELETES the table location wholesale —
    including the ``_appends`` delta (ledger and all) and the
    ``_tombstones`` sidecar, which live under it (probed empirically:
    Spark drops and recreates the dir). Snapshot every sidecar FILE as
    hardlinks into a temp dir next to the warehouse before the rewrite
    and restore them after (inodes survive the unlink; same-filesystem
    renames on restore). An append racing the overwrite window itself
    can be lost — the tier's documented single-maintainer /
    non-crash-atomic legacy caveat; the streaming tiers' manifest
    stores are the transactional path."""
    loc = table_location(spark, table)
    kept: dict[str, str] = {}
    parent = os.path.dirname(loc.rstrip("/"))
    for name in (band_delta.APPENDS_SUBDIR, TOMBSTONES_SUBDIR):
        src = os.path.join(loc, name)
        if not os.path.isdir(src):
            continue
        tmp = os.path.join(parent, f".{name}.keep-{uuid.uuid4().hex}")
        os.makedirs(tmp)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if os.path.isfile(p):  # includes the .folded.json ledger
                try:
                    os.link(p, os.path.join(tmp, f))
                except OSError:
                    shutil.copy2(p, os.path.join(tmp, f))
        kept[name] = tmp
    _write_bands(live, table, "overwrite", buckets)
    loc2 = table_location(spark, table)
    for name, tmp in kept.items():
        dst = os.path.join(loc2, name)
        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(tmp):
            try:
                os.replace(os.path.join(tmp, f), os.path.join(dst, f))
            except OSError:
                shutil.copy2(os.path.join(tmp, f), os.path.join(dst, f))
        shutil.rmtree(tmp, ignore_errors=True)


def resurrect_band_docs(
    spark: SparkSession, table: str, doc_ids: DataFrame
) -> bool:
    """Drop tombstones for doc_ids being legitimately RE-ADDED: rewrite
    the live key set minus ``doc_ids`` as one fresh sidecar file and
    remove the files it replaces (no-op returning False when nothing is
    tombstoned or nothing matches). Single-maintainer assumption, same
    as the tier's other maintenance: a delete file landing AFTER the
    listing survives untouched; two concurrent resurrects may leave a
    doc dead until the next resurrect call — never the reverse."""
    listed = _tombstone_files(spark, table)
    tomb = band_tombstones(spark, table, files=listed)
    if tomb is None:
        return False
    back = doc_ids.select("doc_id").dropDuplicates(["doc_id"])
    hit = not tomb.join(back, "doc_id", "left_semi").isEmpty()
    if not hit:
        return False
    remaining = tomb.join(back, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    if not remaining.isEmpty():
        delete_band_docs(spark, table, remaining)
    for f in listed:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    return True


def band_index_frames(
    spark: SparkSession, table: str
) -> tuple[DataFrame, DataFrame | None]:
    """(bucketed base, live delta-or-None). Kept as SEPARATE frames on
    purpose: unioning them first would discard the base's bucketed
    output partitioning and force the full corpus side through an
    exchange — consumers join each branch and union the RESULTS, so the
    base branch stays zero-exchange and only the (small) delta branch
    shuffles.

    Tombstones (r13): with live delete files both branches read through
    ONE anti-join against the (tiny, broadcast) doc_id key set — erased
    docs stop matching as near-dup anchors the moment the delete file
    lands. With none (the overwhelmingly common case) the plans are
    untouched, preserving the base branch's plan-pinned zero-exchange
    join: a broadcast anti-join adds no exchange on the probe side."""
    base = spark.table(table)
    delta = band_delta.read_delta(spark, table_location(spark, table))
    tomb = band_tombstones(spark, table)
    if tomb is not None:
        base = base.join(tomb, "doc_id", "left_anti")
        if delta is not None:
            delta = delta.join(tomb, "doc_id", "left_anti")
    return base, delta


def compact_band_index(
    spark: SparkSession,
    table: str,
    *,
    buckets: int = DEFAULT_BUCKETS,
    _on_listed=None,
) -> int:
    """Fold the live delta files into the bucketed table (the batch
    tier's flavor of the shared fold protocol — spec-restating catalog
    append; one-cycle folded grace window, racing appends stay live).
    Returns the number of files folded. ``_on_listed`` is the shared
    protocol's test seam (fired between listing and integrating).

    Tombstones (r13): when delete files are live at cycle start, the
    fold becomes the one real rewrite — base minus dead docs plus fresh
    delta rows, overwritten with the spec restated — and exactly the
    applied delete files are then removed (a delete landing mid-cycle
    keeps its file, stays honored at read, and applies next cycle; a
    crash before the removal re-applies idempotently). The overwrite
    carries this tier's documented legacy caveat: a catalog-table
    overwrite is not crash-atomic — the streaming tiers' manifest
    stores are the transactional path."""
    tomb_listed = _tombstone_files(spark, table)
    tomb = band_tombstones(spark, table, files=tomb_listed)

    def integrate(listed: list[str]) -> None:
        if not listed and tomb is None:
            return
        # idempotent by construction (band_delta.fold crash contract):
        # a crash after a previous cycle's integrate but before its
        # ledger write re-lists the same files — anti-joining on the
        # (doc_id, band_no) row key against the already-folded base makes
        # the re-integration (and retry-duplicate advisory files) append
        # zero rows. The base side is the bucketed table (small delta
        # side shuffles to it; base stays scan-only).
        if listed:
            key = list(BAND_ROW_KEY)
            rows = spark.read.parquet(*listed).dropDuplicates(key)
            base_keys = spark.table(table).select(*key)
            fresh = rows.join(base_keys, key, "left_anti")
        else:
            fresh = None
        if tomb is None:
            _write_bands(fresh, table, "append", buckets)
            return
        live = spark.table(table).join(tomb, "doc_id", "left_anti")
        if fresh is not None:
            live = live.unionByName(
                fresh.join(tomb, "doc_id", "left_anti")
            )
        # materialize before the overwrite: the plan reads the table it
        # is about to replace (same pattern as delta_index.fold_index)
        live = live.localCheckpoint(eager=True)
        _overwrite_bands_preserving_sidecars(spark, table, live, buckets)

    folded = len(
        band_delta.fold(
            spark, table_location(spark, table), integrate,
            _on_listed=_on_listed,
        )
    )
    if tomb is not None:
        for f in tomb_listed:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
    return folded


def write_band_index(
    docs: DataFrame, table: str, *, buckets: int = DEFAULT_BUCKETS
) -> None:
    """Persist the LSH band-row index (doc_id, band_no, band_key,
    minhash) bucketed + sorted on ``band_key`` — the join key of the
    incremental NEAR-dup tier. ``band_key`` is xxhash64(band_no, slice),
    so band_no is already folded into it and a band_key equi-join alone
    is exact; bucketing on the single key is what lets the corpus side
    skip its shuffle entirely."""
    _write_bands(band_rows(signatures(docs)), table, "overwrite", buckets)


def near_matches(
    spark: SparkSession,
    batch: DataFrame,
    table: str,
    *,
    tau: float = 0.5,
    bands: DataFrame | None = None,
) -> DataFrame:
    """The incremental near-dup tier against the bucketed band index:
    for each batch doc, the lowest corpus doc sharing an LSH band with
    signature agreement ≥ ``tau`` (plus the max agreement). The corpus
    side reads pre-bucketed on band_key — no exchange (plan-pinned);
    the batch's band rows shuffle into the index's bucketing. Pass
    ``bands`` to reuse already-computed batch band rows.

    Self-matches (same doc_id on both sides) are excluded so a re-run
    of a partially-crashed ingest — whose band rows already landed in
    the index — doesn't classify a doc as a near-dup of ITSELF.

    The index is read as base + delta (band_index_frames) and each
    branch is joined SEPARATELY, results unioned before the groupBy:
    the bucketed base branch keeps its zero-exchange join (plan-pinned
    by tests/test_corpus_bucketed.py) while the small not-yet-compacted
    delta branch shuffles on its own.

    Scale note: the join is linear in batch size but bucket-unbounded
    on the index side; the LSH_MAX_BUCKET cap applies to the candidate
    generators (from-scratch AND, since r6, cluster_index's incremental
    path), not this diagnostic match tier."""
    base, delta = band_index_frames(spark, table)
    bb = bands if bands is not None else band_rows(signatures(batch))
    est = hashing.signature_agreement(
        F.col("minhash"), F.col("c_minhash"), _MINHASH_K
    )

    def branch(idx: DataFrame) -> DataFrame:
        side = idx.select(
            F.col("doc_id").alias("c_doc"),
            "band_key",
            F.col("minhash").alias("c_minhash"),
        )
        return (
            bb.join(side, "band_key")
            .filter(F.col("c_doc") != F.col("doc_id"))
            .select("doc_id", "c_doc", est.alias("est"))
            .filter(F.col("est") >= tau)
        )

    hits = branch(base)
    if delta is not None:
        hits = hits.unionByName(branch(delta))
    return hits.groupBy("doc_id").agg(
        F.min("c_doc").alias("match_doc_id"),
        F.max("est").alias("est_jaccard"),
    )


def exact_matches(
    spark: SparkSession, batch: DataFrame, table: str
) -> DataFrame:
    """The incremental exact-dedup tier against the bucketed store: for
    each batch doc, the lowest corpus doc_id with identical text (absent
    → no row). The corpus side reads pre-bucketed and pre-sorted on the
    join key — NO exchange, no sort (plan-pinned by
    tests/test_corpus_bucketed.py); only the batch side shuffles, and the
    batch is the small side by construction."""
    corpus = spark.table(table).select(
        "text_hash", F.col("doc_id").alias("match_doc_id")
    )
    bh = batch.select("doc_id", F.md5("text").alias("text_hash"))
    # self-exclusion: see near_matches — a crashed-and-rerun ingest must
    # not see a doc's own earlier append as an exact duplicate
    return (
        bh.join(corpus, "text_hash")
        .filter(F.col("match_doc_id") != F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("match_doc_id").alias("match_doc_id"))
    )
