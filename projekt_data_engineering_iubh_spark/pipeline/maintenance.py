"""Partitioned-store maintenance: small-file compaction.

Streaming appends (``streaming/corpus_stream.py``, ``hourly_stream``'s
foreachBatch sink) produce one-or-more files per trigger per partition;
at 100 TB that becomes millions of kilobyte files, and scan planning +
footer reads dominate query time (NEXT.md: single-row-group scans also
serialize decode). Compaction rewrites each (partition) directory into
few full-size files.

Transactional path: when ``path`` is a manifest store (pipeline/store.py
— ``init_store`` migrates a plain dir once), compaction and Z-ordering
write each result as a NEW immutable snapshot version and publish it by
atomically replacing the manifest pointer; readers that route through
``store.resolve`` (catalog, serving, sources/parquet) see the old or the
new snapshot, never a mix — actual snapshot isolation, proven by a
concurrent reader-loop test (tests/test_store_snapshots.py).

Legacy path (plain dir, no manifest): the compacted copy is written NEXT
TO the store (``<path>.__compact__``) and moved over it — reading and
overwriting the same path in one job is not safe in Spark (the lazy scan
would see its own output). Readers racing THAT swap can see a torn
listing; migrate to the manifest store to close the race.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

from projekt_data_engineering_iubh_spark.pipeline import store as snapstore


@dataclass
class CompactStats:
    n_rows: int
    n_files_before: int
    n_files_after: int


def compact(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...],
    *,
    max_records_per_file: int = 1_000_000,
) -> CompactStats:
    """Rewrite a partitioned parquet store into few-files-per-partition.

    ``repartition(*partition_cols)`` routes every partition's rows to one
    task (→ one file, split by ``maxRecordsPerFile`` when oversized);
    partition pruning and layout are preserved exactly.

    Manifest stores commit the compacted tree as a new snapshot version
    (atomic pointer swap, racing readers unaffected); plain dirs take the
    legacy in-place swap.
    """
    df = spark.read.parquet(snapstore.resolve(path))
    before = len(df.inputFiles())
    n_rows = df.count()

    def _write(dst: str) -> None:
        (
            df.repartition(*[df[c] for c in partition_cols])
            .write.mode("overwrite")
            .option("maxRecordsPerFile", str(max_records_per_file))
            .partitionBy(*partition_cols)
            .parquet(dst)
        )

    if snapstore.is_store(path):
        snapstore.commit_snapshot(path, _write)
    else:
        tmp = path.rstrip("/") + ".__compact__"
        _write(tmp)
        # legacy swap: move the compacted tree over the original
        dst, src = Path(path), Path(tmp)
        shutil.rmtree(dst)
        src.rename(dst)

    after_df = spark.read.parquet(snapstore.resolve(path))
    after = len(after_df.inputFiles())
    # explicit raise, not `assert`: python -O strips asserts, which would
    # silently disable the only post-commit data check (r4 ADVICE)
    n_after = after_df.count()
    if n_after != n_rows:
        raise RuntimeError(
            f"compaction changed row count: {n_rows} -> {n_after} at {path}"
        )
    return CompactStats(n_rows=n_rows, n_files_before=before, n_files_after=after)


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: multi-column min/max pruning
# ---------------------------------------------------------------------------

from pyspark.sql import Column, DataFrame, functions as F

# the Morton kernel lives in operators/zorder.py (with its DuckDB SQL
# rendering and the oracle-checked lineitem_zorder_blocks query); this
# module owns the range-normalized WRITE path around it
from projekt_data_engineering_iubh_spark.operators.zorder import (
    morton as _morton,
)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    *,
    bits: int = 12,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write ``df`` laid out along a Z-order (Morton) curve over ``cols``,
    so parquet row-group/file min-max stats prune scans filtered on ANY
    subset of those columns — the data-layout lever a 100 TB store pulls
    when queries slice on several dimensions and a single sort key would
    leave the others unprunable (a file sorted by x has full-range y
    min/max in every file; the Z-curve keeps every file a small hyper-box
    in (x, y, ...) space, so each dimension prunes ~n^(1-1/d) of files).

    Mechanics: per column, min/max are aggregated once (two scalars per
    column on the driver — never data-sized) and values are normalized to
    ``bits``-bit integers; the Morton key interleaves those bits; the
    write is range-partitioned AND sorted by the key, then the key is
    dropped (a projection — preserves order). Delta/Iceberg `OPTIMIZE
    ZORDER BY` is the managed-table equivalent; this is the plain-parquet
    shape with identical semantics.
    """
    # 63 usable bits in a signed long: interleaving must never place a bit
    # at or past the sign position (silent key corruption), so scale the
    # per-column bit budget down when many columns are requested.
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"zorder_write: too many layout columns ({len(cols)})")

    def _commit(out: DataFrame) -> None:
        def _write(dst: str) -> None:
            out.write.mode("overwrite").option(
                "maxRecordsPerFile", str(max_records_per_file)
            ).parquet(dst)

        if snapstore.is_store(path):
            # publish the relayout as a new snapshot — racing readers see
            # the previous layout until the atomic pointer swap
            snapstore.commit_snapshot(path, _write)
        else:
            _write(path)

    span = F.lit((1 << bits) - 1)
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    ).first()
    if any(stats[f"_mn_{c}"] is None or stats[f"_mx_{c}"] is None for c in cols):
        # empty input, or a layout column that is entirely null — there is
        # no range to normalize against; write unsorted rather than crash.
        _commit(df)
        return
    norm = []
    for c in cols:
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        width = (mx - mn) or 1.0
        norm.append(
            F.least(
                F.floor(
                    # nulls in a layout column map to the min bucket instead
                    # of producing a null Morton key (which would cluster all
                    # null-key rows into one unprunable range partition)
                    (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn))
                    / F.lit(width)
                    * F.lit(float(1 << bits))
                ).cast("long"),
                span,
            )
        )
    _commit(
        df.withColumn("_z", _morton(norm, bits))
        .repartitionByRange(F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def vacuum_ann_indexes(ttl_seconds: float = 7 * 86400) -> list[str]:
    """Maintenance-pass entry point for the ANN index base dir: remove
    roots whose corpus version was superseded (see
    ann_index.vacuum_stale — age is a safe proxy because a superseded
    root's digest can never be derived again, and a mistakenly removed
    live root self-heals on the next ensure). Run alongside compact()
    in the same maintenance window."""
    from projekt_data_engineering_iubh_spark.pipeline import ann_index

    return ann_index.vacuum_stale(ttl_seconds)


# ---------------------------------------------------------------------------
# ANN snapshot-store maintenance policy (r11)
# ---------------------------------------------------------------------------

import os


@dataclass(frozen=True)
class AnnMaintenancePolicy:
    """When to fold an ANN index root's accumulated generations.

    The r10 delete/serve curve (BASELINE.md) showed serve wall FLAT
    across 0→50% dead at test scale — serve LATENCY does not tell you
    when to compact; the recorded rule is to trigger on footprint:

    * ``max_tombstone_bytes`` — the tombstone key set is the serve
      anti-join's broadcast build side; its bytes (not its age) are
      what grow the per-read work and the per-generation link set.
    * ``max_codes_files`` — O(delta) commits append one codes part-file
      per trigger; scan planning and footer reads degrade with file
      count long before data size matters.

    Crossing either runs ``ann_index.compact`` — the one real codes
    rewrite in the lifecycle, which folds tombstones away and collapses
    small files in one commit.

    Both checks are O(#files) filesystem metadata ops — cheap enough to
    run on EVERY streaming trigger, which is where
    streaming/ann_ingest_stream.py calls them when a policy is passed.
    """

    max_tombstone_bytes: int = 8 * 1024 * 1024
    max_codes_files: int = 64


@dataclass
class AnnMaintenanceResult:
    codes_files: int
    tombstone_bytes: int
    # "tombstone_bytes" | "codes_files" (this process folded),
    # "lost_race" (threshold crossed but a concurrent compactor won —
    # the compactor re-resolved and found nothing left to fold, or lost
    # the snapshot CAS on every retry; either way the work happened,
    # just not here), or None (below thresholds). Same semantics as
    # SignatureIndexMaintenanceResult so cross-store fold-cadence
    # accounting reads one contract over all four stores (ADVICE r12).
    compacted: str | None


def _artifact_footprint(snap_dir: str, name: str) -> tuple[int, int]:
    d = os.path.join(snap_dir, name)
    if not os.path.isdir(d):
        return 0, 0
    files = [f for f in os.listdir(d) if not f.startswith(("_", "."))]
    # tolerate files purged between listdir and stat by a concurrent
    # fold — same grace-window reasoning as maintain_signature_index
    nbytes = 0
    for f in files:
        try:
            nbytes += os.path.getsize(os.path.join(d, f))
        except OSError:
            pass
    return len(files), nbytes


def maintain_ann_root(
    spark: SparkSession,
    root: str,
    policy: AnnMaintenancePolicy = AnnMaintenancePolicy(),
) -> AnnMaintenanceResult:
    """Enforce ``policy`` on an ANN index root: measure the CURRENT
    snapshot's codes/tombstones footprint (metadata-only — no Spark job
    on the happy path) and run the matching compaction when a threshold
    is crossed. Tombstone bytes win over file count when both fire
    (the tombstone fold also rewrites codes, so it resets both).
    Kind-free: ann_index.compact folds IVF-PQ and routed roots alike,
    and both kinds carry a tombstone tier, so both triggers apply to
    both. A crossed threshold leaves something to fold — a tombstone
    footprint, or more than one codes file for any max_codes_files > 1
    — so the compactor's own nothing-to-fold rule only fires when a
    concurrent winner folded first.

    Compaction publishes a NEW snapshot version through the store CAS —
    in-flight readers keep their version, a concurrent trigger that
    lost the race simply re-resolves (same contract as every other
    generation commit). Returns what was measured and whether/why a
    compaction committed, so streaming callers can log the cadence."""
    from projekt_data_engineering_iubh_spark.pipeline import ann_index

    cur = snapstore.resolve(root)
    codes_files, _ = _artifact_footprint(cur, "codes")
    _, tomb_bytes = _artifact_footprint(cur, "tombstones")
    crossed = None
    if tomb_bytes >= policy.max_tombstone_bytes:
        crossed = "tombstone_bytes"
    elif codes_files >= policy.max_codes_files:
        crossed = "codes_files"
    compacted = None
    if crossed is not None:
        try:
            fold = ann_index.compact(spark, root)
            # a threshold we measured was crossed, but the compactor's
            # own re-resolve found nothing left to fold: a concurrent
            # winner folded between our footprint census and the
            # compactor's resolve. Report it as a lost race, same as
            # the band-delta tiers (ADVICE r12) — NOT as a fold this
            # process performed and NOT as a silent None.
            compacted = crossed if fold else "lost_race"
        except snapstore.CommitConflict:
            # the compactor lost the snapshot CAS on every retry — a
            # concurrent generation/compaction stream won; the next
            # trigger re-measures (same grace as the band-delta core)
            compacted = "lost_race"
    return AnnMaintenanceResult(codes_files, tomb_bytes, compacted)


# ---------------------------------------------------------------------------
# LSH signature-index maintenance policy (r11) — text-tier parity with
# the ANN policy above: the near-dup index accumulates one band-row
# delta file per streaming trigger, and nothing scheduled its fold
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SignatureIndexMaintenancePolicy:
    """When to fold a band-row signature index's append delta.

    The streaming near-dup tier (streaming/neardup_stream.py) lands ONE
    delta parquet per trigger (band_delta.append_one); every micro-batch
    filter then unions snapshot + live delta files, so the per-trigger
    read cost grows with delta file count — the same small-file shape
    the ANN policy bounds for codes. Triggers:

    * ``max_delta_files`` — file count is what degrades the per-trigger
      union scan (planning + footer reads per file) long before bytes
      matter at trigger-sized deltas.
    * ``max_delta_bytes`` — a byte backstop for fat triggers, so a few
      large deltas can't hide behind a low file count.
    * ``max_tombstone_bytes`` (r13) — the snapshot's tombstone key set
      is the read path's anti-join build side (delta_index delete
      generations); crossing it runs the fold, which applies the
      deletes physically and retires every key not still exposed to the
      crash-replay window — the band-delta analog of the ANN policy's
      tombstone trigger.

    All checks are O(#files) local-filesystem metadata (the delta is
    local-FS by band_delta's contract), cheap enough for EVERY trigger.
    Crossing any runs the band-delta fold (``delta_index.fold_index``,
    what ``compact_signature_index`` runs) — the snapshot-CAS
    fold whose one-cycle grace window keeps in-flight readers safe."""

    max_delta_files: int = 16
    max_delta_bytes: int = 64 * 1024 * 1024
    max_tombstone_bytes: int = 8 * 1024 * 1024


@dataclass
class SignatureIndexMaintenanceResult:
    delta_files: int
    delta_bytes: int
    tombstone_bytes: int
    # "delta_files" | "delta_bytes" | "tombstone_bytes" (this process
    # folded), "lost_race"
    # (threshold crossed but a concurrent fold won the snapshot CAS —
    # the work happened, just not here), or None (below thresholds).
    # Callers logging compaction cadence must not count "lost_race" as
    # a fold this process performed (ADVICE r11).
    compacted: str | None


def _maintain_band_delta_index(
    spark: SparkSession,
    index_path: str,
    policy: SignatureIndexMaintenancePolicy,
    compact_fn,
) -> SignatureIndexMaintenanceResult:
    """Shared policy core for every band-delta-maintained index (r12
    VERDICT #5 unification — the text signature tier and the semantic
    vector tier differ only in WHICH fold integrates the delta,
    injected as ``compact_fn``): measure the LIVE delta footprint
    (metadata-only on the happy path) and fold when a threshold is
    crossed. Same calling contract as maintain_ann_root: streaming
    processors call this at the end of every trigger when a policy is
    passed; concurrent folds serialize through the store's
    CommitConflict and a lost race just means the winner already
    folded."""
    from projekt_data_engineering_iubh_spark.pipeline import (
        band_delta,
        delta_index,
    )

    files = band_delta.live_files(index_path)
    # a concurrent fold cycle may purge a previously-folded delta file
    # between the listing and the stat — the fold protocol's grace
    # window tolerates that for readers, so the byte census must too
    # (ADVICE r11: a FileNotFoundError here crashed the streaming
    # trigger it was supposed to keep cheap)
    nbytes = 0
    for f in files:
        try:
            nbytes += os.path.getsize(f)
        except OSError:
            pass
    _, tomb_bytes = _artifact_footprint(
        snapstore.resolve(index_path), delta_index.TOMBSTONES_SUBDIR
    )
    crossed = None
    if tomb_bytes >= policy.max_tombstone_bytes:
        crossed = "tombstone_bytes"
    elif len(files) >= policy.max_delta_files:
        crossed = "delta_files"
    elif nbytes >= policy.max_delta_bytes:
        crossed = "delta_bytes"
    compacted = None
    if crossed is not None:
        try:
            compact_fn(spark, index_path)
            compacted = crossed
        except snapstore.CommitConflict:
            # a concurrent fold won the snapshot CAS — the winner
            # integrated the same live files (fold's idempotent-integrate
            # contract), so the threshold's work is done; crashing the
            # streaming trigger here would contradict exactly that
            # contract (review finding, r11). Reported as a DISTINCT
            # outcome so fold-cadence accounting stays honest.
            compacted = "lost_race"
    return SignatureIndexMaintenanceResult(
        len(files), nbytes, tomb_bytes, compacted
    )


def maintain_signature_index(
    spark: SparkSession,
    index_path: str,
    policy: SignatureIndexMaintenancePolicy = (
        SignatureIndexMaintenancePolicy()
    ),
) -> SignatureIndexMaintenanceResult:
    """Enforce ``policy`` on a band-row signature index (text near-dup
    tier): the shared band-delta core with this tier's fold, keyed on
    the band-row key."""
    from projekt_data_engineering_iubh_spark.operators.minhash import (
        BAND_ROW_KEY,
    )
    from projekt_data_engineering_iubh_spark.pipeline import delta_index

    return _maintain_band_delta_index(
        spark,
        index_path,
        policy,
        lambda s, p: delta_index.fold_index(s, p, BAND_ROW_KEY),
    )


def maintain_band_index(
    spark: SparkSession,
    index_path: str,
    policy: SignatureIndexMaintenancePolicy = (
        SignatureIndexMaintenancePolicy()
    ),
) -> SignatureIndexMaintenanceResult:
    """Kind-agnostic band-delta maintenance (r13): detect the tier from
    the stored schema (delta_index.detect_key_cols) and enforce
    ``policy`` through the generic fold — what the takedown stream uses
    when it only holds a root path (the band analog of
    maintain_ann_root's artifact-sniffing dispatch)."""
    from projekt_data_engineering_iubh_spark.pipeline import delta_index

    return _maintain_band_delta_index(
        spark, index_path, policy, delta_index.compact_index
    )


def maintain_vector_index(
    spark: SparkSession,
    index_path: str,
    policy: SignatureIndexMaintenancePolicy = (
        SignatureIndexMaintenancePolicy()
    ),
) -> SignatureIndexMaintenanceResult:
    """Enforce ``policy`` on a hyperplane-bucketed vector index
    (semantic near-dup tier, streaming/vector_stream.py): the shared
    band-delta core with this tier's fold — closing the gap where the
    vector tier's delta grew one file per trigger with no automated
    fold at all (r12 VERDICT #5). Its row key is ``vec_id``: one bucket
    row per vector."""
    from projekt_data_engineering_iubh_spark.pipeline import delta_index

    return _maintain_band_delta_index(
        spark,
        index_path,
        policy,
        lambda s, p: delta_index.fold_index(s, p, ("vec_id",)),
    )
