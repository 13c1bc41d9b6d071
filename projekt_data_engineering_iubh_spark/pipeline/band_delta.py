"""Shared LSM-style append-delta machinery for band-row indexes
(r5 VERDICT #4 — one delta format, one compaction invariant).

Two producers append LSH band rows cheaply and compact later: the
streaming near-dup tier (streaming/neardup_stream.py, one delta file per
trigger) and the batch composed ingest (pipeline/ingest.py via
corpus_store.append_band_index, one delta file per batch). Before r6
they were parallel implementations; this module is the single one.

Layout: ``<root>/_appends/*.parquet`` next to the index base (a manifest
store for the streaming index, a bucketed catalog table's location for
the batch tier). Spark/Hadoop readers skip underscore-prefixed paths, so
the delta never leaks into a plain scan of the base — readers union it
in explicitly.

Invariants (shared by every producer/compactor):

- **Atomic append**: a delta file lands by rename out of a hidden temp
  dir — readers list ``*.parquet`` only and never see a half-written
  file. Unique names mean concurrent producers never collide; a retry
  adds a duplicate advisory file at worst.
- **Fold protocol**: compaction lists the LIVE files, integrates exactly
  those into the base (each flavor's ``integrate`` callback: snapshot
  commit for the store, spec-restating append for the bucketed table),
  then marks them in the ``.folded.json`` ledger. Folded files stay ON
  DISK until the NEXT compaction physically purges them (one-cycle
  grace), so an in-flight reader whose plan listed them never hits
  FileNotFoundError — the delta-side analog of snapshot-vacuum
  retention. Appends racing the compaction land after the listing and
  simply stay live.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

APPENDS_SUBDIR = "_appends"
FOLDED_LEDGER = ".folded.json"


def appends_dir(root: str) -> str:
    return os.path.join(root, APPENDS_SUBDIR)


def folded_names(root: str) -> set[str]:
    ledger = os.path.join(appends_dir(root), FOLDED_LEDGER)
    if not os.path.isfile(ledger):
        return set()
    return set(json.load(open(ledger)))


def live_files(root: str, *, include_folded: bool = False) -> list[str]:
    """Delta files on disk and not yet marked folded (see module
    docstring's grace-window contract for why folded ones linger)."""
    _require_local(root)
    folded = set() if include_folded else folded_names(root)
    return sorted(
        f
        for f in glob.glob(os.path.join(appends_dir(root), "*.parquet"))
        if os.path.isfile(f) and os.path.basename(f) not in folded
    )


def _require_local(root: str) -> None:
    """The delta mechanism is local-filesystem-only BY CONTRACT: appends
    land via os.replace and compaction listing via glob, which cannot see
    an object store. A remote root (s3a://, hdfs://, ...) would make
    Spark write the temp dir remotely while the local glob finds nothing
    — a NON-EMPTY append silently discarded (r6 ADVICE, medium). Fail at
    entry instead; at cluster scale route band deltas through a locally
    mounted staging dir or the bucketed-table append path."""
    if "://" in root:
        raise ValueError(
            f"band_delta root {root!r} has a URI scheme; the append-delta "
            "mechanism is local-filesystem-only (atomic os.replace + glob "
            "listing) — see deploy/README.md for the staging contract"
        )


def land_file(df: DataFrame, dir_path: str) -> None:
    """Land ``df`` as ONE new parquet file in ``dir_path`` by atomic
    rename out of a hidden temp dir (empty frames write nothing) — the
    single writer behind the ``_appends`` delta and the bucketed band
    index's ``_tombstones`` sidecar. Local-FS-only (see
    :func:`_require_local`); if Spark wrote the temp dir somewhere this
    process cannot see (non-local default filesystem), raise rather than
    silently dropping the rows."""
    _require_local(dir_path)
    os.makedirs(dir_path, exist_ok=True)
    tmp = os.path.join(dir_path, f".tmp-{uuid.uuid4().hex}")
    df.coalesce(1).write.parquet(tmp)
    if not os.path.isdir(tmp):
        raise RuntimeError(
            f"band_delta.land_file: Spark wrote {tmp!r} but it is not "
            "visible on the local filesystem — the session's default "
            "filesystem is non-local, which would silently discard these "
            "rows. Use a local delta root (deploy/README.md)."
        )
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))
    if part:  # empty frames write no part file
        name = f"{uuid.uuid4().hex}.parquet"
        os.replace(part[0], os.path.join(dir_path, name))
    shutil.rmtree(tmp, ignore_errors=True)


def append_one(df: DataFrame, root: str) -> None:
    """Land ``df`` as ONE new delta file under ``root`` (:func:`land_file`)."""
    land_file(df, appends_dir(root))


def read_delta(spark: SparkSession, root: str) -> DataFrame | None:
    """The live delta as one frame, or None when empty. ignoreMissingFiles:
    a file purged after this listing (its grace window ended mid-plan)
    degrades to fewer advisory rows, never a failed job."""
    files = live_files(root)
    if not files:
        return None
    return spark.read.option("ignoreMissingFiles", "true").parquet(*files)


def fold(
    spark: SparkSession,
    root: str,
    integrate: Callable[[list[str]], None],
    *,
    _on_listed: Callable[[], None] | None = None,
) -> list[str]:
    """Run one compaction cycle: purge the PREVIOUS cycle's folded files
    (their grace window ends now), list the live files, call
    ``integrate(listed)`` to fold exactly those into the base, then write
    the ledger. Returns the folded file paths. ``_on_listed`` is a test
    seam fired between listing and integrating (for racing-append
    tests).

    Crash contract (r6 ADVICE): a crash between ``integrate`` and the
    ledger write leaves the listed files live, so the NEXT cycle
    re-integrates them — ``integrate`` callbacks MUST therefore be
    idempotent. Both shipped flavors are: they anti-join the delta rows
    against the base on the (doc_id, band_no) row key before folding, so
    a re-integration (and retry-duplicate advisory files) adds zero
    rows."""
    for name in folded_names(root):
        try:
            os.remove(os.path.join(appends_dir(root), name))
        except FileNotFoundError:
            pass
    listed = live_files(root)
    if _on_listed is not None:
        _on_listed()
    integrate(listed)
    delta = appends_dir(root)
    os.makedirs(delta, exist_ok=True)
    ledger_tmp = os.path.join(delta, f".{FOLDED_LEDGER}.tmp.{os.getpid()}")
    with open(ledger_tmp, "w") as fh:
        json.dump(sorted(os.path.basename(f) for f in listed), fh)
    os.replace(ledger_tmp, os.path.join(delta, FOLDED_LEDGER))
    return listed
