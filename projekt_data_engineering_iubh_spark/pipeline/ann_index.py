"""Persisted trained-ANN indexes: build once, serve many (r7 VERDICT #2).

The ANN method matrix measured the deployment problem directly: every
trained variant's inline latency is dominated by TRAINING (Lloyd rounds
plus codebook collection run INSIDE the query — emb_ivfpq_residual
12.67 s at sf1 where brute force takes a fraction of that), and the
Hamming-sketch economics measurement proved the stored form flips the
verdict (0.471 s vs 5.70 s inline). This module generalizes that into
the build/serve split every ANN docstring already describes as the
production shape: a BUILD pass trains the quantizers and persists
centroids/codebooks/codes through the manifest-pointer snapshot store
(pipeline/store.py — atomic publish, snapshot-isolated readers), and a
SERVE query reads the artifacts and answers queries without retraining.

``ensure()`` is memoized build-if-stale, keyed exactly like the
plan-selection probes (plans/vector_queries.py::_max_occupancy): the
index root's name digests (absolute table path, table dir mtime,
constants), so a Spark re-write of the corpus — which deletes/creates
part files and bumps the dir mtime — routes to a FRESH root and
triggers a rebuild, while repeated plan builds over unchanged data
(bench min-of-3, dashboards, a serve fleet) reuse the committed
snapshot. That makes a serve registry entry self-contained: the first
call on a fresh corpus pays the build, every later call is pure read.

At 100 TB the same layout holds: codes are the stored index (2-4
bytes/vector plus the key), centroids/codebooks are k×dim-row tables
(driver-literal sized), training runs on a sample, and the serve join
codes ⋈ corpus is an equi-join on vec_id — co-locate it by writing
codes bucketed next to a bucketed corpus (pipeline/corpus_store.py is
the committed pattern) and it runs exchange-free.

Stale roots from superseded corpus versions accumulate under the index
base dir (each is a self-contained store); clean with a TTL sweep of
dirs whose digest no longer resolves — they are never referenced again.

This module also owns every WRITE to a committed root after its build:
append, delete and compact generations (the FAISS add / remove_ids /
maintenance lifecycle), each one optimistic snapshot commit through
``commit_with_retries`` that a replayed stream trigger lands exactly
once — the idempotent-sink contract of Structured Streaming. The query
module keeps only the kind-specific kernels (training, the per-row
``assign`` of a new vector, serving) and never touches the store's
mechanics.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import types
import uuid

from pyspark.sql import DataFrame, SparkSession

from projekt_data_engineering_iubh_spark.operators import kmeans as km
from projekt_data_engineering_iubh_spark.pipeline import store

DEFAULT_BASE = "/tmp/spark_graft_ann_index"


def base_dir() -> str:
    return os.environ.get("SPARK_GRAFT_INDEX_DIR", DEFAULT_BASE)


def _corpus_fingerprint(path: str) -> tuple:
    """Stable identity of the corpus bytes under ``path``.

    Folds every data file's (relative name, size, mtime) — not the bare
    directory mtime, which does NOT change when file CONTENTS are
    rewritten in place (r8 ADVICE: an in-place rewrite silently served a
    stale index). A single-file corpus contributes its own (size,
    mtime); a missing path contributes a sentinel so the digest still
    resolves (the build then fails loudly on read, not on digest).
    """
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime),)
    if os.path.isdir(path):
        out = []
        for dirpath, _dirnames, filenames in os.walk(path):
            for f in filenames:
                fp = os.path.join(dirpath, f)
                try:
                    st = os.stat(fp)
                except OSError:
                    continue
                out.append(
                    (os.path.relpath(fp, path), st.st_size, st.st_mtime)
                )
        return tuple(sorted(out))
    return (("<missing>", -1, -1.0),)


def index_root(sf_dir: str, table: str, kind: str, constants: tuple) -> str:
    """Deterministic store root for (corpus version, index geometry).

    The digest covers the table's absolute path AND a full listing of
    its data files' (name, size, mtime), so any corpus re-write —
    including an in-place same-name content rewrite — yields a
    different root (build-if-stale without any invalidation protocol),
    plus every constant that shapes the index.
    """
    path = os.path.abspath(os.path.join(sf_dir, table))
    key = repr(
        (path, _corpus_fingerprint(path), kind, constants)
    ).encode()
    digest = hashlib.sha256(key).hexdigest()[:16]
    return os.path.join(base_dir(), f"{kind}_{digest}")


def ensure(
    sf_dir: str,
    table: str,
    kind: str,
    constants: tuple,
    build_fn,
) -> str:
    """Build-if-missing: return a committed store root for this corpus
    version, building via ``build_fn(data_dir)`` (which must write every
    artifact parquet under the given snapshot dir) when absent."""
    return build_once(index_root(sf_dir, table, kind, constants), build_fn)


def build_once(root: str, build_fn) -> str:
    """Commit ``build_fn`` as snapshot v1 of ``root`` unless the root is
    already a store — never a base-only snapshot over later generations.

    A lost commit race (another process built the same root first) is
    success — the winner's snapshot is byte-equivalent because training
    is deterministic fixed-point arithmetic over the same corpus bytes.
    """
    if store.is_store(root):
        return root
    try:
        store.commit_snapshot(root, build_fn)
    except store.CommitConflict:
        pass  # concurrent builder won with an identical snapshot
    return root


def read_artifact(spark: SparkSession, root: str, name: str) -> DataFrame:
    """One named artifact (a parquet dir) out of the current snapshot."""
    return spark.read.parquet(os.path.join(store.resolve(root), name))


def write_bucketed_serving(
    spark: SparkSession,
    corpus: DataFrame,
    codes: DataFrame,
    table_prefix: str,
    *,
    buckets: int = 16,
) -> tuple[str, str]:
    """Materialize the serve join's two sides CO-BUCKETED by vec_id —
    the deployment layout every serve docstring references: the codes ⋈
    corpus equi-join then runs with ZERO exchanges (and zero sorts,
    both sides sortBy the key), proven by
    tests/test_ann_index.py::test_bucketed_serve_join_is_exchange_free.

    Same design as pipeline/corpus_store.py (shuffle once at write
    time, never at read; bucket metadata needs the catalog, so these
    are ``saveAsTable`` tables in the session warehouse). ``corpus``
    must carry vec_id + the serving columns (embedding, nrm, ...);
    ``codes`` is the committed index's (vec_id, cell[, c0..]) frame.
    Returns the two table names."""
    ct, kt = f"{table_prefix}_corpus", f"{table_prefix}_codes"
    for df, table in ((corpus, ct), (codes, kt)):
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, "vec_id")
            .sortBy("vec_id")
            .saveAsTable(table)
        )
    return ct, kt


def bucketed_serve_cells(spark: SparkSession, table_prefix: str) -> DataFrame:
    """The exchange-free serve input: corpus ⋈ codes on vec_id from the
    co-bucketed tables — feed it to the search helpers
    (plans/vector_queries._ivft_search)."""
    ct, kt = f"{table_prefix}_corpus", f"{table_prefix}_codes"
    return spark.table(ct).join(spark.table(kt), "vec_id")


def vacuum_stale(ttl_seconds: float = 7 * 86400) -> list[str]:
    """Remove index roots not touched for ``ttl_seconds`` (the sweep the
    staleness design implies: a superseded corpus version's root is
    never referenced again — its digest can no longer be derived — so
    age is a safe proxy). A live root removed by a mis-tuned TTL is
    only a perf hiccup: the next ensure() rebuilds it deterministically.
    Returns the removed root paths."""
    removed: list[str] = []
    base = base_dir()
    if not os.path.isdir(base):
        return removed
    now = time.time()
    for name in sorted(os.listdir(base)):
        root = os.path.join(base, name)
        probe = os.path.join(root, store.MANIFEST_FILE)
        if not os.path.exists(probe):
            probe = root  # never-committed orphan: age of the dir itself
        try:
            age = now - os.path.getmtime(probe)
        except OSError:
            continue
        if age > ttl_seconds:
            shutil.rmtree(root, ignore_errors=True)
            removed.append(root)
    return removed


# ---------------------------------------------------------------------------
# The snapshot-generation lifecycle of a stored ANN root: append, delete
# and compact, one implementation for every root kind. An IVF-PQ root
# holds {coarse, books, meta, codes}, a routed root {centroids, supers,
# cent_super, codes}; either may carry a `tombstones` key set. Everything
# but codes and tombstones is frozen across the root's whole lineage, so
# the lifecycle never needs to know which kind it is serving — the only
# kind-specific step, how a new vector gets its code row, is the
# ``assign`` callable the query module passes to append_generation.
# ---------------------------------------------------------------------------

# CAS retry bound for every generation commit here and the band-delta
# tombstone commits (pipeline/delta_index.py)
_CAS_RETRIES = 8
# delete generations link prior tombstone part-files and append one new
# one; at this file count the (tiny) key set is folded into one rewrite
_TOMBSTONE_FOLD_FILES = 8
# compaction rewrites live codes into ~this many bytes per part-file
_COMPACT_TARGET_BYTES = 128 * 1024 * 1024
# a generation's staging dir lives for seconds; one older than this was
# left behind by a process that died before its cleanup ran
_STAGING_TTL_S = 3600.0
# the per-generation artifacts; every other artifact dir is frozen
_LIVE_ARTIFACTS = ("codes", "tombstones")


def _part_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if not f.startswith(("_", "."))]


def pq_local_rows(path: str, *, allow_missing: bool = False) -> list[dict]:
    """Rows of a k-row-scale parquet ARTIFACT directory, read with
    pyarrow on the driver (r13): the snapshot client state (meta, coarse
    centroids, codebooks, router tables) is constant-size driver state
    by contract, and reading it through spark.read.parquet().collect()
    paid one Spark job + scheduler round trip PER ARTIFACT — measured
    ~1.2 s of the IVF-PQ serve wall (3 artifacts) for data a local
    footer read returns in milliseconds. Data-sized artifacts (codes,
    tombstones) stay DataFrames — this helper is for what was already
    being collected.

    A directory with no part files raises FileNotFoundError (r14,
    ADVICE r13 #2) — the spark.read.parquet this replaced failed loudly
    on missing artifacts, and a silent ``[]`` here would surface far
    from the cause (e.g. as a degenerate literal router). Callers with
    a legitimately-absent artifact (read_index_meta's legacy roots)
    pass ``allow_missing=True``."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files and not allow_missing:
        raise FileNotFoundError(
            f"pq_local_rows: no parquet part files under {path!r}"
        )
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def write_index_meta(
    spark: SparkSession,
    data_dir: str,
    pq_m: int,
    pq_codes: int,
    normalized: bool,
    emb_dim: int,
) -> None:
    """One-row `meta` artifact stamped into every APPENDABLE snapshot:
    the PQ geometry and (crucially) whether the codes were built over
    unit-normalized vectors. Append encodes with quantize_normalized —
    growing a raw-quantized root would silently mix metrics — so append
    refuses roots without a meta row asserting normalized=True."""
    spark.createDataFrame(
        [(pq_m, pq_codes, normalized, emb_dim)],
        "pq_m int, pq_codes int, normalized boolean, emb_dim int",
    ).coalesce(1).write.parquet(os.path.join(data_dir, "meta"))


def read_index_meta(snapshot_dir: str):
    """Return the meta row of a snapshot (attribute access), or None for
    legacy roots."""
    path = os.path.join(snapshot_dir, "meta")
    if not os.path.isdir(path):
        return None
    rows = pq_local_rows(path, allow_missing=True)
    return types.SimpleNamespace(**rows[0]) if rows else None


def load_router(spark: SparkSession, cur: str) -> km.TwoLevelRouter:
    """Reconstruct a routed snapshot's frozen TwoLevelRouter with the
    k-row router tables read locally (pyarrow — see pq_local_rows) so
    routing embeds them as literals without a collect job per table.
    The DataFrame fields stay lazy parquet reads for any join-shaped
    consumer."""
    supers = sorted(
        (int(r["super_cell"]), list(r["scq"]))
        for r in pq_local_rows(os.path.join(cur, "supers"))
    )
    cent_super = sorted(
        (int(r["cell"]), list(r["cq"]), int(r["super_cell"]))
        for r in pq_local_rows(os.path.join(cur, "cent_super"))
    )
    return km.TwoLevelRouter(
        spark.read.parquet(os.path.join(cur, "supers")),
        spark.read.parquet(os.path.join(cur, "cent_super")),
        supers,
        cent_super,
    )


def _read_tombstones(spark: SparkSession, snapshot_dir: str):
    """The snapshot's live tombstone key set (vec_id), or None if the
    version carries no deletes (absent artifact == empty set)."""
    path = os.path.join(snapshot_dir, "tombstones")
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path).select("vec_id")


def read_live_codes(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """The snapshot's SERVING view of its codes: every committed code
    row minus the live tombstones (FAISS ``remove_ids`` semantics
    without rewriting the codes at delete time). With no tombstones the
    plan is the bare codes scan — zero cost on the undeleted path; with
    tombstones it is one anti-join against a key set that is tiny
    relative to the corpus (and broadcast by AQE when it fits)."""
    codes = spark.read.parquet(os.path.join(snapshot_dir, "codes"))
    tomb = _read_tombstones(spark, snapshot_dir)
    if tomb is None:
        return codes
    return codes.join(tomb, "vec_id", "left_anti")


def link_or_copy_parquet(src_dir: str, dst_dir: str) -> None:
    """Publish src_dir's parquet part-files into dst_dir WITHOUT reading
    them: hardlink (same-filesystem metadata ops, O(#files) regardless of
    bytes) with a copy fallback for cross-device stores. This is what
    makes a snapshot generation O(delta): before it, every append/delete
    commit re-wrote the full codes artifact through Spark — a per-trigger
    O(corpus) write that is trivial at 20k vectors and fatal at 100 TB
    (the Delta/Iceberg manifest trick, done at the filesystem level so
    readers still see one self-contained parquet directory). Vacuuming a
    superseded version only unlinks its directory entries; shared inodes
    survive in every later snapshot that linked them. Underscore/dot
    entries (_SUCCESS, checksums, a band-delta snapshot's _tombstones
    subdir) are not published."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in _part_files(src_dir):
        src, dst = os.path.join(src_dir, name), os.path.join(dst_dir, name)
        try:
            os.link(src, dst)
        except FileExistsError:
            # part-file names carry a per-job UUID, so a collision means
            # two generations produced the same name — silently
            # overwriting it would lose a file; fail loudly instead
            raise
        except OSError:
            shutil.copy2(src, dst)  # cross-device store: copy fallback


def _link_frozen(cur: str, data_dir: str) -> None:
    """Hardlink every artifact dir of snapshot ``cur`` except the
    per-generation ones (codes, tombstones) into ``data_dir``: the
    quantizer artifacts (coarse/books/meta, or the router's
    centroids/supers/cent_super) are immutable across the root's
    lineage, so no generation re-reads or re-creates them (a
    LocalRelation parquet write costs ~4 s per table — measured r10)."""
    for name in os.listdir(cur):
        src = os.path.join(cur, name)
        if name in _LIVE_ARTIFACTS or not os.path.isdir(src):
            continue
        link_or_copy_parquet(src, os.path.join(data_dir, name))


def append_tombstones(
    tomb: DataFrame | None, new_dead: DataFrame, src_dir: str, dst_dir: str
) -> None:
    """Write the next tombstone key set ``tomb`` ∪ ``new_dead`` into
    ``dst_dir`` in O(|keys|): link the prior key part-files from
    ``src_dir`` and append one part-file of new keys. Each delete
    generation adds a file, so frequent takedown triggers would grow
    small files without bound between compactions; once the prior set
    spans _TOMBSTONE_FOLD_FILES files the whole (tiny) key set is
    rewritten as ONE file instead — still O(|all keys|), never
    O(index)."""
    if tomb is not None:
        if len(_part_files(src_dir)) >= _TOMBSTONE_FOLD_FILES:
            tomb.unionByName(new_dead).coalesce(1).write.parquet(dst_dir)
            return
        link_or_copy_parquet(src_dir, dst_dir)
    new_dead.coalesce(1).write.mode("append").parquet(dst_dir)


def commit_with_retries(root: str, op: str, derive) -> bool:
    """The one CAS-retry loop behind every snapshot generation: resolve
    the current snapshot ``cur``, let ``derive(cur)`` return the next
    snapshot's write function — or None when there is nothing to commit
    (a replayed trigger, unknown keys, an already-compact root) — and
    publish it. A lost CAS (a concurrent writer committed first) honors
    the store contract by re-resolving and re-deriving against the
    WINNER, so a foreachBatch caller never checkpoints a trigger whose
    work was silently dropped. Returns True iff a version committed."""
    for _ in range(_CAS_RETRIES):
        build = derive(store.resolve(root))
        if build is None:
            return False
        try:
            store.commit_snapshot(root, build)
            return True
        except store.CommitConflict:
            continue
    raise store.CommitConflict(
        f"{op} on {root} lost the snapshot CAS {_CAS_RETRIES} times"
    )


def _sweep_stale_staging(root: str) -> None:
    """Remove ``.delta_<uuid>`` staging dirs older than _STAGING_TTL_S.
    A process that dies between _stage_delta and its cleanup leaves one
    behind; a fresh one may belong to a concurrent generation still in
    flight, so only age makes a dir safe to remove."""
    now = time.time()
    for name in os.listdir(root):
        if not name.startswith(".delta_"):
            continue
        path = os.path.join(root, name)
        try:
            stale = now - os.path.getmtime(path) > _STAGING_TTL_S
        except OSError:
            continue  # removed by a concurrent sweep
        if stale:
            shutil.rmtree(path, ignore_errors=True)


def _stage_delta(df: DataFrame, root: str) -> tuple[str, int]:
    """Write a generation's delta ONCE into a staging dir under the root
    (same filesystem, so the commit can HARDLINK the part-file instead of
    running a second Spark write job) and count its rows from the parquet
    FOOTERS (driver-side metadata, no job). Returns (staging_path, rows).

    r14, guide §5: the previous per-trigger shape paid one
    localCheckpoint job to pin the delta, an isEmpty probe, and another
    write job inside the commit — three actions at the ~0.4 s/job floor
    for a micro-batch of a few hundred rows. The staged write pins,
    counts, and publishes with ONE job plus filesystem metadata ops.
    Coalesced to one part-file, so the codes file count grows by one per
    trigger, as the compaction policy assumes. Caller must shutil.rmtree
    the staging dir when done — part-files hardlinked into a committed
    snapshot survive the unlink."""
    import glob

    import pyarrow.parquet as pq

    staging = os.path.join(root, f".delta_{uuid.uuid4().hex}")
    df.coalesce(1).write.parquet(staging)
    n = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(staging, "*.parquet"))
    )
    return staging, n


def append_generation(
    spark: SparkSession, root: str, vectors: DataFrame, assign
) -> bool:
    """Commit ONE append generation (FAISS ``add``): the (vec_id,
    embedding) rows of ``vectors`` that are not live in the current
    snapshot get code rows from ``assign(cur, late)`` — computed against
    the snapshot's FROZEN quantizer artifacts, never retrained — and
    current-codes ∪ delta publishes as the next version. Returns True
    iff a new version was committed.

    ``assign`` is the only kind-specific step (plans/vector_queries:
    ivfpq_assign encodes against the frozen codebooks, routed_assign
    routes through the frozen router). Both are per-row maps, so late
    vectors get exactly the code rows a from-scratch build over the
    grown corpus would give them.

    Exactly-once: duplicates within ``vectors`` collapse (two overlapping
    files landing in one trigger must not commit one vec_id twice), ids
    already live anti-join away BEFORE assign, and an empty delta
    commits NOTHING — so a replayed foreachBatch trigger (checkpoint
    recovery) lands once. A lost CAS re-derives against the winner's
    codes (commit_with_retries): vectors the winner committed drop out,
    only genuinely new ones retry.

    The commit is O(delta): quantizer artifacts, existing codes
    part-files and the staged delta part-file are hardlinked — no Spark
    job runs in the commit. The one exception is RESURRECTION (a
    tombstoned id arriving again — FAISS remove_ids then add): it
    survives the live-id anti-join, and its stale code row and tombstone
    are dropped by a real rewrite."""
    _sweep_stale_staging(root)
    late = vectors.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    staged: list[str] = []

    def derive(cur: str):
        old_codes = spark.read.parquet(os.path.join(cur, "codes"))
        tomb = _read_tombstones(spark, cur)
        live_ids = old_codes.select("vec_id")
        if tomb is not None:
            live_ids = live_ids.join(tomb, "vec_id", "left_anti")
        staging, n_delta = _stage_delta(
            assign(cur, late.join(live_ids, "vec_id", "left_anti")), root
        )
        staged.append(staging)
        if n_delta == 0:
            return None  # replayed batch / nothing new: exactly-once
        delta = spark.read.parquet(staging)
        resurrect = tomb is not None and not (
            delta.select("vec_id").join(tomb, "vec_id", "left_semi").isEmpty()
        )

        def build(data_dir: str) -> None:
            _link_frozen(cur, data_dir)
            codes_dir = os.path.join(data_dir, "codes")
            if not resurrect:
                link_or_copy_parquet(os.path.join(cur, "codes"), codes_dir)
                link_or_copy_parquet(staging, codes_dir)
                if tomb is not None:
                    link_or_copy_parquet(
                        os.path.join(cur, "tombstones"),
                        os.path.join(data_dir, "tombstones"),
                    )
                return
            delta_ids = delta.select("vec_id")
            live_tomb = tomb.join(delta_ids, "vec_id", "left_anti")
            if not live_tomb.isEmpty():
                live_tomb.coalesce(1).write.parquet(
                    os.path.join(data_dir, "tombstones")
                )
            old_codes.join(delta_ids, "vec_id", "left_anti").unionByName(
                delta
            ).write.parquet(codes_dir)

        return build

    try:
        return commit_with_retries(root, "append", derive)
    finally:
        for staging in staged:
            shutil.rmtree(staging, ignore_errors=True)


def delete_generation(
    spark: SparkSession, root: str, keys: DataFrame
) -> bool:
    """Commit ONE delete generation (FAISS ``remove_ids``): tombstone the
    given vec_ids WITHOUT rewriting, re-encoding or re-routing any code
    row. The next version links every artifact of the current one and
    adds the new keys to the ``tombstones`` key set; every serve path
    reads codes through read_live_codes, so deleted vectors stop
    appearing the moment the version commits while in-flight readers of
    the prior version are untouched (snapshot isolation). Returns True
    iff a new version was committed — keys that are unknown or already
    dead commit NOTHING (idempotent under replay, like the append's
    empty-delta skip).

    This is the takedown/GDPR/dedup-rerun shape a 100 TB corpus needs:
    an O(|keys|) key-set write plus hardlinks, no shuffle of the corpus,
    no retrain, no codes rewrite. It is kind-free — the takedown stream
    (streaming/ann_ingest_stream.start_codes_delete_stream) serves IVF-PQ
    and routed roots through this one call; compact folds accumulated
    tombstones back into a clean snapshot."""
    dedup_keys = keys.select("vec_id").dropDuplicates(["vec_id"])

    def derive(cur: str):
        codes = spark.read.parquet(os.path.join(cur, "codes"))
        tomb = _read_tombstones(spark, cur)
        # only ids that are currently LIVE become new tombstones
        new_dead = dedup_keys.join(
            codes.select("vec_id"), "vec_id", "left_semi"
        )
        if tomb is not None:
            new_dead = new_dead.join(tomb, "vec_id", "left_anti")
        new_dead = new_dead.localCheckpoint(eager=True)
        if new_dead.isEmpty():
            return None  # nothing live to delete: idempotent no-op

        def build(data_dir: str) -> None:
            _link_frozen(cur, data_dir)
            link_or_copy_parquet(
                os.path.join(cur, "codes"), os.path.join(data_dir, "codes")
            )
            append_tombstones(
                tomb,
                new_dead,
                os.path.join(cur, "tombstones"),
                os.path.join(data_dir, "tombstones"),
            )

        return build

    return commit_with_retries(root, "delete", derive)


def compact(spark: SparkSession, root: str, force: bool = False) -> bool:
    """Fold a root's accumulated generations into a clean snapshot: codes
    rewritten as exactly the LIVE rows (tombstones anti-joined away), no
    tombstones artifact, quantizer artifacts hardlinked. Both shapes the
    lifecycle accumulates warrant this one real rewrite — O(delta)
    appends grow the codes by one part-file per trigger, and delete
    generations grow a tombstone key set that is the serve anti-join's
    build side. Returns False (no commit) when there is nothing to fold:
    no tombstones and at most one codes part-file, unless ``force``.
    Readers of prior versions keep their snapshot; store.vacuum reclaims
    superseded generations afterwards."""

    def derive(cur: str):
        src_codes = os.path.join(cur, "codes")
        parts = _part_files(src_codes)
        if (
            len(parts) <= 1
            and not force
            and _read_tombstones(spark, cur) is None
        ):
            return None  # already compact
        # fold to a BOUNDED file count sized from the source footprint
        # (metadata only): the parquet scan otherwise keeps roughly one
        # partition per small source file, so the "compacted" write
        # would re-emit the same file count it was meant to fold
        codes_bytes = sum(
            os.path.getsize(os.path.join(src_codes, f)) for f in parts
        )
        n_out = max(1, -(-codes_bytes // _COMPACT_TARGET_BYTES))
        live = read_live_codes(spark, cur)

        def build(data_dir: str) -> None:
            _link_frozen(cur, data_dir)
            # one shuffle of the live rows into ~128 MiB files — the
            # same cost Delta/Iceberg OPTIMIZE pays
            live.repartition(n_out).write.parquet(
                os.path.join(data_dir, "codes")
            )

        return build

    return commit_with_retries(root, "compact", derive)
