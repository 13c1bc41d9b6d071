"""Takedown semantics for the dedup index tiers (r13, VERDICT r12 #2):
the user-visible contract behind the tombstone machinery — a REMOVED
document must stop matching as a near-dup anchor the moment its delete
lands, and a legitimately RE-ADDED one must start matching again.

Surfaces pinned here:

* the streaming text signature index (neardup_stream.delete_docs →
  delta_index tombstone generations, honored by load_index /
  neardup_filter_batch);
* the streaming semantic vector index (vector_stream.delete_vectors,
  honored by semdedup_filter_batch);
* the batch bucketed band index (corpus_store.delete_band_docs sidecar,
  honored by near_matches; compact_band_index applies physically);
* the kind-dispatching takedown stream processor
  (ann_ingest_stream.make_delete_batch_processor routes a band-delta
  root to delta_index.delete_index_keys — one wiring, every tier).

The four-store lifecycle (delete → replay → resurrect → fold) is the
matrix test's job (tests/test_stream_store_matrix.py leg 5); this file
pins the MATCHING behavior those lifecycles exist for.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.pipeline import (
    corpus_store,
    delta_index,
    store,
)
from projekt_data_engineering_iubh_spark.streaming import (
    ann_ingest_stream as ais,
    neardup_stream as nd,
    vector_stream as vs,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


_ANCHOR = "the quick brown fox jumps over the lazy dog " + " ".join(
    f"filler{i}" for i in range(20)
)
_OTHER = "completely different content " + " ".join(
    f"unrelated{i}" for i in range(20)
)


def _filter_ids(spark, batch, idx):
    kept = nd.neardup_filter_batch(batch, nd.load_index(spark, idx))
    return {r.doc_id for r in kept.select("doc_id").collect()}


class TestSignatureIndexTakedown:
    def test_deleted_doc_stops_anchoring_and_resurrects(
        self, spark, tmp_path
    ):
        idx = str(tmp_path / "sig_idx")
        nd.build_signature_index(
            _docs(spark, [(5, _ANCHOR), (6, _OTHER)]), idx
        )
        # doc 5 anchors: a near-dup batch doc is dropped
        assert _filter_ids(spark, _docs(spark, [(100, _ANCHOR)]), idx) == set()

        # GDPR-erase doc 5 → the same content now SURVIVES (the erased
        # doc no longer suppresses near-duplicates of itself)
        assert nd.delete_docs(
            spark, idx, _docs(spark, [(5, "x")]).select("doc_id")
        )
        assert _filter_ids(
            spark, _docs(spark, [(101, _ANCHOR)]), idx
        ) == {101}
        # the untouched anchor still works
        assert _filter_ids(spark, _docs(spark, [(102, _OTHER)]), idx) == set()

        # resurrect doc 5 (the processors' re-add rule) → anchors again
        assert delta_index.resurrect_index_keys(
            spark, idx, _docs(spark, [(5, "x")]).select("doc_id")
        )
        assert _filter_ids(spark, _docs(spark, [(103, _ANCHOR)]), idx) == set()

    def test_fold_applies_delete_physically(self, spark, tmp_path):
        idx = str(tmp_path / "sig_idx2")
        nd.build_signature_index(
            _docs(spark, [(5, _ANCHOR), (6, _OTHER)]), idx
        )
        nd.delete_docs(spark, idx, _docs(spark, [(5, "x")]).select("doc_id"))
        nd.compact_signature_index(spark, idx)
        cur = store.resolve(idx)
        # dead rows left the snapshot files AND the tombstones retired
        # (no listed delta carried doc 5 — nothing to crash-replay)
        snap_ids = {
            r.doc_id
            for r in spark.read.parquet(cur).select("doc_id").collect()
        }
        assert 5 not in snap_ids and 6 in snap_ids
        assert delta_index.read_tombstones(spark, cur) is None
        # resurrect after physical apply is a no-op: the doc is GONE
        assert not delta_index.resurrect_index_keys(
            spark, idx, _docs(spark, [(5, "x")]).select("doc_id")
        )

    def test_delete_covers_unfolded_delta_rows(self, spark, tmp_path):
        """A delete between an append and its fold takes effect
        immediately (the anti-join covers the delta branch)."""
        idx = str(tmp_path / "sig_idx3")
        out = str(tmp_path / "out3")
        nd.build_signature_index(_docs(spark, [(6, _OTHER)]), idx)
        batch = _docs(spark, [(7, _ANCHOR)]).select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit("t").alias("source"),
            F.length("text").alias("n_chars"),
            F.lit("train").alias("split"),
        )
        nd.make_batch_processor(out, idx)(batch, 1)
        # doc 7's band rows live in the DELTA; it anchors
        assert _filter_ids(spark, _docs(spark, [(100, _ANCHOR)]), idx) == set()
        nd.delete_docs(spark, idx, _docs(spark, [(7, "x")]).select("doc_id"))
        assert _filter_ids(
            spark, _docs(spark, [(101, _ANCHOR)]), idx
        ) == {101}
        # the fold right after keeps the delete applied (replay-hazard
        # tombstone retained for the listed file, then retired next fold)
        nd.compact_signature_index(spark, idx)
        assert _filter_ids(
            spark, _docs(spark, [(102, _ANCHOR)]), idx
        ) == {102}


class TestVectorIndexTakedown:
    def test_deleted_vector_stops_suppressing(self, spark, tmp_path):
        idx = str(tmp_path / "vec_idx")
        base = (
            load_table(spark, SF, "embeddings")
            .filter(F.col("vec_id") < 50)
            .select("vec_id", "embedding")
        )
        vs.build_vector_index(base, idx)
        twin = (
            load_table(spark, SF, "embeddings")
            .filter(F.col("vec_id") == 7)
            .select(F.lit(900).alias("vec_id"), "embedding")
        )

        def survivors(df):
            kept = vs.semdedup_filter_batch(
                df, vs.load_index(spark, idx), tau=0.999
            )
            return {r.vec_id for r in kept.select("vec_id").collect()}

        # vec 7's exact twin is suppressed...
        assert survivors(twin) == set()
        # ...until vec 7 is erased...
        assert vs.delete_vectors(
            spark, idx, spark.createDataFrame([(7,)], "vec_id bigint")
        )
        assert survivors(twin) == {900}
        # ...and suppressed again after resurrection
        assert delta_index.resurrect_index_keys(
            spark, idx, spark.createDataFrame([(7,)], "vec_id bigint")
        )
        assert survivors(twin) == set()


class TestBucketedBandIndexTakedown:
    def _fresh_table(self, spark, table):
        """DROP + clear any ORPHANED warehouse location: a crashed prior
        run can leave the managed-table directory on disk while a fresh
        metastore has forgotten the table, and saveAsTable then fails
        LOCATION_ALREADY_EXISTS (observed r13 after an interrupted
        session)."""
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        for pref in ("file://", "file:"):
            if wh.startswith(pref):
                wh = wh[len(pref):]
                break
        shutil.rmtree(os.path.join(wh, table), ignore_errors=True)

    def _matches(self, spark, table, batch):
        hits = corpus_store.near_matches(spark, batch, table)
        return {r.doc_id: r.match_doc_id for r in hits.collect()}

    def test_delete_compact_resurrect(self, spark, tmp_path):
        table = "takedown_bands"
        self._fresh_table(spark, table)
        corpus_store.write_band_index(
            _docs(spark, [(5, _ANCHOR), (6, _OTHER)]), table
        )
        probe = _docs(spark, [(100, _ANCHOR)])
        assert self._matches(spark, table, probe) == {100: 5}

        # O(|keys|) sidecar delete: doc 5 stops anchoring immediately
        corpus_store.delete_band_docs(
            spark, table, _docs(spark, [(5, "x")]).select("doc_id")
        )
        assert self._matches(spark, table, probe) == {}
        # idempotent retry: a duplicate key file changes nothing
        corpus_store.delete_band_docs(
            spark, table, _docs(spark, [(5, "x")]).select("doc_id")
        )
        assert self._matches(spark, table, probe) == {}

        # compaction applies the delete physically and retires the files
        corpus_store.compact_band_index(spark, table)
        assert corpus_store._tombstone_files(spark, table) == []
        base_ids = {
            r.doc_id
            for r in spark.table(table).select("doc_id").distinct().collect()
        }
        assert base_ids == {6}
        assert self._matches(spark, table, probe) == {}

    def test_resurrect_before_compaction(self, spark, tmp_path):
        table = "takedown_bands2"
        self._fresh_table(spark, table)
        corpus_store.write_band_index(
            _docs(spark, [(5, _ANCHOR), (6, _OTHER)]), table
        )
        probe = _docs(spark, [(100, _ANCHOR)])
        corpus_store.delete_band_docs(
            spark, table, _docs(spark, [(5, "x"), (6, "y")]).select("doc_id")
        )
        assert self._matches(spark, table, probe) == {}
        # resurrect doc 5 only: it anchors again, doc 6 stays dead
        assert corpus_store.resurrect_band_docs(
            spark, table, _docs(spark, [(5, "x")]).select("doc_id")
        )
        assert self._matches(spark, table, probe) == {100: 5}
        other_probe = _docs(spark, [(101, _OTHER)])
        assert self._matches(spark, table, other_probe) == {}
        # resurrecting an untombstoned doc is a no-op
        assert not corpus_store.resurrect_band_docs(
            spark, table, _docs(spark, [(42, "z")]).select("doc_id")
        )


class TestTakedownStreamDispatch:
    def test_processor_routes_band_delta_roots(self, spark, tmp_path):
        """ONE delete-stream wiring serves every index family: against a
        band-delta root the processor lands a delta_index tombstone
        generation (and the band policy keeps the store maintained)."""
        from projekt_data_engineering_iubh_spark.pipeline import maintenance

        idx = str(tmp_path / "sig_idx_stream")
        nd.build_signature_index(
            _docs(spark, [(5, _ANCHOR), (6, _OTHER)]), idx
        )
        store.init_store(idx)
        proc = ais.make_delete_batch_processor(
            idx, maintenance.SignatureIndexMaintenancePolicy()
        )
        keys = _docs(spark, [(5, "x")]).select("doc_id")
        proc(keys, 0)
        assert _filter_ids(
            spark, _docs(spark, [(101, _ANCHOR)]), idx
        ) == {101}
        # replay of the trigger: idempotent no-op, view unchanged
        proc(keys, 0)
        assert _filter_ids(
            spark, _docs(spark, [(102, _ANCHOR)]), idx
        ) == {102}

    def test_processor_still_routes_ann_roots(self, spark, tmp_path):
        """The ANN dispatch is untouched: an IVF-PQ root still takes
        ann_index.delete_generation tombstones through the same processor."""
        root = str(tmp_path / "pq_root")
        embs = (
            load_table(spark, SF, "embeddings")
            .filter(F.col("vec_id") < 100)
            .select("vec_id", "embedding")
        )
        ais.bootstrap_codes_index(spark, embs, root)
        from projekt_data_engineering_iubh_spark.pipeline import ann_index

        before = {
            r.vec_id
            for r in ann_index.read_live_codes(spark, store.resolve(root))
            .select("vec_id")
            .collect()
        }
        proc = ais.make_delete_batch_processor(root)
        proc(spark.createDataFrame([(3,), (4,)], "vec_id bigint"), 0)
        after = {
            r.vec_id
            for r in ann_index.read_live_codes(spark, store.resolve(root))
            .select("vec_id")
            .collect()
        }
        assert after == before - {3, 4}
