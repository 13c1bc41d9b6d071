"""Automated compaction policy over the ANN snapshot store (r11).

The r10 rounds proved the O(delta) generation mechanics (hardlinks +
one appended part-file per trigger) and recorded the maintenance RULE —
compact on tombstone-bytes / file-count footprint, never on serve
latency — but nothing enforced it. These pins drive a long
ingest+delete run through the SAME foreachBatch processor bodies a live
stream executes and assert the policy actually bounds the store:
codes file count never exceeds the threshold across many triggers
(compaction fires from inside the trigger path), the tombstone-bytes
trigger folds deletes away, and the happy path costs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.pipeline import (
    ann_index,
    maintenance,
    store,
)
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq
from projekt_data_engineering_iubh_spark.streaming import (
    ann_ingest_stream as ais,
)

SF = "/root/testdata/sf0.001"


def _codes_files(root):
    d = os.path.join(store.resolve(root), "codes")
    return len([f for f in os.listdir(d) if not f.startswith(("_", "."))])


def _bootstrap(spark, tmp_path):
    root = str(tmp_path / "codes_index")
    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ais.bootstrap_codes_index(
        spark, embs.filter(F.col("vec_id") < 100), root
    )
    return root, embs


def test_ingest_file_count_stays_bounded(spark, tmp_path):
    """A long ingest run with a max_codes_files policy: every trigger
    appends one part-file; the in-trigger maintenance folds the store
    whenever the threshold is reached, so the file count stays <= the
    threshold FOREVER instead of growing one per trigger — and the run
    must fold more than once (a single lucky compaction proves
    nothing about a long-running stream)."""
    root, embs = _bootstrap(spark, tmp_path)
    policy = maintenance.AnnMaintenancePolicy(max_codes_files=4)
    proc = ais.make_codes_batch_processor(root, policy)
    folds = 0
    prev = _codes_files(root)
    for i in range(12):
        lo, hi = 100 + 30 * i, 100 + 30 * (i + 1)
        proc(
            embs.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ),
            i,
        )
        now = _codes_files(root)
        assert now <= policy.max_codes_files, f"trigger {i}: {now} files"
        if now < prev + 1:
            folds += 1
        prev = now
    assert folds >= 2, f"compaction fired {folds}x across 12 triggers"
    # no rows lost across all the folds
    got = {
        r.vec_id
        for r in spark.read.parquet(
            os.path.join(store.resolve(root), "codes")
        ).collect()
    }
    assert got == {r.vec_id for r in embs.filter(
        F.col("vec_id") < 100 + 30 * 12
    ).select("vec_id").collect()}


def test_delete_tombstone_bytes_trigger_folds(spark, tmp_path):
    """The tombstone-bytes trigger: a delete stream under a tiny byte
    threshold folds its tombstones into the codes on the very trigger
    that crosses it — the store returns to the no-tombstones state,
    serving stays correct, and the dead ids stay dead."""
    root, embs = _bootstrap(spark, tmp_path)
    # grow the index first so deletes have something to kill
    ais.make_codes_batch_processor(root)(
        embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 300)), 0
    )
    policy = maintenance.AnnMaintenancePolicy(max_tombstone_bytes=1)
    proc = ais.make_delete_batch_processor(root, policy)
    dead = []
    for i in range(3):
        keys = [(int(v),) for v in range(10 * i, 10 * i + 5)]
        dead += [k[0] for k in keys]
        proc(spark.createDataFrame(keys, "vec_id long"), i)
        # any tombstone footprint crosses 1 byte -> folded immediately
        assert not os.path.isdir(
            os.path.join(store.resolve(root), "tombstones")
        ), f"trigger {i} left tombstones behind"
        live = {
            r.vec_id
            for r in ann_index.read_live_codes(
                spark, store.resolve(root)
            ).collect()
        }
        assert not (set(dead) & live)


def test_maintain_under_threshold_is_metadata_only(spark, tmp_path):
    """Under both thresholds maintain_ann_root measures and does
    NOTHING: no new store version (no compaction commit), correct
    footprint numbers returned. This is the every-trigger happy path —
    it must stay cheap enough to run unconditionally."""
    root, _ = _bootstrap(spark, tmp_path)
    before = store._committed_versions(root)
    res = maintenance.maintain_ann_root(
        spark, root, maintenance.AnnMaintenancePolicy()
    )
    assert store._committed_versions(root) == before
    assert res.compacted is None
    assert res.codes_files == _codes_files(root)
    assert res.tombstone_bytes == 0


def test_tombstone_trigger_wins_over_file_trigger(spark, tmp_path):
    """When both thresholds are crossed, ONE plain compact resolves
    both (the tombstone fold rewrites codes too) — not two commits."""
    root, embs = _bootstrap(spark, tmp_path)
    ais.make_codes_batch_processor(root)(
        embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)), 0
    )
    ann_index.delete_generation(
        spark, root, spark.createDataFrame([(0,), (1,)], "vec_id long")
    )
    before = store._committed_versions(root)
    res = maintenance.maintain_ann_root(
        spark,
        root,
        maintenance.AnnMaintenancePolicy(
            max_tombstone_bytes=1, max_codes_files=1
        ),
    )
    assert res.compacted == "tombstone_bytes"
    after = store._committed_versions(root)
    assert len(after) == len(before) + 1  # exactly one maintenance commit
    assert not os.path.isdir(
        os.path.join(store.resolve(root), "tombstones")
    )


# ---------------------------------------------------------------------------
# Text-tier parity: the LSH signature index's delta-fold policy (r11)
# ---------------------------------------------------------------------------


def _uniq_docs(spark, lo, hi):
    """Distinct, non-near-dup texts so every doc survives the filter and
    appends band rows (one delta file per trigger)."""
    import hashlib

    rows = [
        (
            i,
            " ".join(
                hashlib.sha1(f"{i}:{j}".encode()).hexdigest()
                for j in range(12)
            ),
            "en",
            "src",
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        [(i, t, lang, src, len(t), "train") for i, t, lang, src in rows],
        ["doc_id", "text", "lang", "source", "n_chars", "split"],
    )


def test_signature_index_delta_stays_bounded(spark, tmp_path):
    """A long near-dup streaming run with a SignatureIndexMaintenancePolicy:
    every trigger appends one band-row delta file; the in-trigger
    maintenance folds the delta into the base snapshot whenever the
    file-count threshold is reached, so the live delta stays bounded
    forever instead of growing one file per trigger — with >= 2 folds
    across the run, and zero band rows lost across all of them."""
    from projekt_data_engineering_iubh_spark.pipeline import band_delta
    from projekt_data_engineering_iubh_spark.streaming import (
        neardup_stream as nd,
    )

    idx = str(tmp_path / "sigidx")
    nd.build_signature_index(
        _uniq_docs(spark, 0, 10).select("doc_id", "text"), idx
    )
    policy = maintenance.SignatureIndexMaintenancePolicy(max_delta_files=3)
    proc = nd.make_batch_processor(
        str(tmp_path / "out"), idx, policy=policy
    )
    folds = 0
    for i in range(8):
        proc(_uniq_docs(spark, 10 + 5 * i, 10 + 5 * (i + 1)), i)
        live = len(band_delta.live_files(idx))
        assert live < policy.max_delta_files, f"trigger {i}: {live} live"
        if live == 0:
            folds += 1
    assert folds >= 2, f"delta fold fired {folds}x across 8 triggers"
    # nothing lost: the full index view carries band rows for every doc
    got = {
        r.doc_id
        for r in nd.load_index(spark, idx).select("doc_id").collect()
    }
    assert got == set(range(0, 50))


def test_signature_index_maintain_under_threshold_is_metadata_only(
    spark, tmp_path
):
    """Under both thresholds the policy must not fold (no new snapshot
    version) — the happy path is filesystem metadata only."""
    from projekt_data_engineering_iubh_spark.pipeline import band_delta
    from projekt_data_engineering_iubh_spark.streaming import (
        neardup_stream as nd,
    )

    idx = str(tmp_path / "sigidx2")
    nd.build_signature_index(
        _uniq_docs(spark, 0, 10).select("doc_id", "text"), idx
    )
    proc = nd.make_batch_processor(str(tmp_path / "out2"), idx)
    proc(_uniq_docs(spark, 10, 15), 0)
    before = store._committed_versions(idx)
    res = maintenance.maintain_signature_index(spark, idx)
    assert res.compacted is None
    assert res.delta_files == 1 and res.delta_bytes > 0
    assert store._committed_versions(idx) == before
    assert len(band_delta.live_files(idx)) == 1


def test_maintain_routed_root_folds_on_file_count(
    spark, tmp_path, monkeypatch
):
    """maintain_ann_root on a ROUTED root (r11 #157-#159): the same
    policy object drives ann_index.compact when the codes file count crosses
    the threshold — kind detection from the artifacts present, no
    caller flag — and is a metadata-only no-op under it."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    root = vq._ensure_ivfr_appended_index(spark, SF)  # v1 + v2
    emb = load_table(spark, SF, "embeddings")
    top = emb.agg(F.max("vec_id")).collect()[0][0]
    for i in range(2):
        fresh = emb.limit(3).select(
            (F.col("vec_id") + top + 1 + 10 * i).alias("vec_id"),
            "embedding",
        )
        assert ann_index.append_generation(
            spark, root, fresh, vq.routed_assign
        )
    assert _codes_files(root) == 4  # v1 + three append deltas

    res = maintenance.maintain_ann_root(
        spark, root, maintenance.AnnMaintenancePolicy(max_codes_files=8)
    )
    assert res.compacted is None  # under threshold: no-op
    assert _codes_files(root) == 4

    res = maintenance.maintain_ann_root(
        spark, root, maintenance.AnnMaintenancePolicy(max_codes_files=3)
    )
    assert res.compacted == "codes_files"
    assert _codes_files(root) == 1


def test_signature_maintain_reports_lost_race_distinctly(
    spark, tmp_path, monkeypatch
):
    """A threshold crossing whose fold loses the snapshot CAS must not
    be reported as a fold THIS process performed (r11 ADVICE: cadence
    accounting over-counted) — and must not crash the trigger."""
    from projekt_data_engineering_iubh_spark.streaming import (
        neardup_stream as nd,
    )

    idx = str(tmp_path / "sigidx3")
    nd.build_signature_index(
        _uniq_docs(spark, 0, 10).select("doc_id", "text"), idx
    )
    proc = nd.make_batch_processor(str(tmp_path / "out3"), idx)
    proc(_uniq_docs(spark, 10, 15), 0)

    def _lose(*a, **k):
        raise store.CommitConflict("concurrent fold won")

    monkeypatch.setattr(
        "projekt_data_engineering_iubh_spark.pipeline.delta_index.fold_index",
        _lose,
    )
    res = maintenance.maintain_signature_index(
        spark,
        idx,
        maintenance.SignatureIndexMaintenancePolicy(max_delta_files=1),
    )
    assert res.compacted == "lost_race"


def test_signature_maintain_tolerates_purged_delta_file(
    spark, tmp_path, monkeypatch
):
    """A concurrent fold may purge a delta file between live_files()
    listing and the stat — the byte census must tolerate that like the
    fold protocol's grace window tolerates it for readers (r11 ADVICE:
    FileNotFoundError crashed the streaming trigger)."""
    from projekt_data_engineering_iubh_spark.pipeline import band_delta
    from projekt_data_engineering_iubh_spark.streaming import (
        neardup_stream as nd,
    )

    idx = str(tmp_path / "sigidx4")
    nd.build_signature_index(
        _uniq_docs(spark, 0, 10).select("doc_id", "text"), idx
    )
    proc = nd.make_batch_processor(str(tmp_path / "out4"), idx)
    proc(_uniq_docs(spark, 10, 15), 0)
    real = band_delta.live_files(idx)
    ghost = os.path.join(os.path.dirname(real[0]), "purged-by-fold.parquet")
    monkeypatch.setattr(
        "projekt_data_engineering_iubh_spark.pipeline.band_delta.live_files",
        lambda p: list(real) + [ghost],
    )
    res = maintenance.maintain_signature_index(spark, idx)
    assert res.delta_files == 2  # listing said 2; census survived the ghost
    assert res.delta_bytes == os.path.getsize(real[0])
