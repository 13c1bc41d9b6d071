"""Composed incremental corpus ingest (pipeline/ingest.py): exact tier →
near tier → cluster-map merge → bucketed-store appends, end to end over
two batches — including a SECOND batch matching content that arrived via
the FIRST (proving the appends actually protect later triggers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.pipeline import (
    cluster_index as ci,
    corpus_store,
    ingest,
)

# reuse the deterministic bridge fixture (tests/test_cluster_index.py)
_A = "word56 word235 word34 word177 word427 word446 word83 word488"
_B = "word107 word372 word292 word460 word475 word444 word47 word11"

CORPUS = [
    (1, _A, "en", "src0"),
    (2, _A + " extraalpha", "en", "src0"),
    (10, _B, "en", "src0"),
    (11, _B + " extrabeta", "en", "src0"),
    (20, "completely unrelated content about warehouse machinery logs", "en", "src0"),
]

COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows], COLS
    )


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ingest") / "clusters")
    docs = _docs(spark, CORPUS)
    corpus_store.write_bucketed_corpus(docs, "ing_corpus")
    corpus_store.write_band_index(docs, "ing_bands")
    ci.init_cluster_index(spark, docs, root)
    yield ("ing_corpus", "ing_bands", root)
    spark.sql("DROP TABLE IF EXISTS ing_corpus")
    spark.sql("DROP TABLE IF EXISTS ing_bands")


def test_two_batch_ingest_end_to_end(spark, stores):
    """Phases run IN ONE TEST because phase two depends on phase one's
    appends (a split version only passed in file order — review fix)."""
    corpus_table, band_table, root = stores
    batch1 = _docs(
        spark,
        [
            (30, _A, "en", "b1"),                 # exact copy of doc 1
            (31, _B + " extrabeta", "en", "b1"),  # exact copy of doc 11
            (32, _A + " " + _B, "en", "b1"),      # bridge: near-dup of both clusters
            (33, "novel text that matches nothing at all here", "en", "b1"),
        ],
    )
    status, stats = ingest.ingest(
        spark,
        batch1,
        corpus_table=corpus_table,
        band_table=band_table,
        cluster_root=root,
    )
    got = {r.doc_id: (r.status, r.match_doc_id) for r in status.collect()}
    assert got[30] == ("dup_exact", 1)
    assert got[31] == ("dup_exact", 11)
    assert got[32][0] == "dup_near"  # bridges — near-matched, lowest match
    assert got[33] == ("kept", None)
    assert stats.n_batch == 4 and stats.n_kept == 1
    assert stats.n_dup_exact == 2 and stats.n_dup_near == 1

    # only the survivor was appended to both bucketed stores
    assert spark.table(corpus_table).count() == len(CORPUS) + 1
    assert {
        r.doc_id for r in spark.table(corpus_table).select("doc_id").collect()
    } == {1, 2, 10, 11, 20, 33}

    # the bridge doc merged the two clusters in the map (even though it
    # was itself dropped as a near-dup — its cluster membership is the
    # merge information)
    cmap = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, root).collect()
    }
    assert cmap[1] == cmap[2] == cmap[10] == cmap[11] == cmap[32] == 1
    assert cmap[33] == 33 and cmap[20] == 20

    # ---- phase two: a later batch matching phase one's survivor ----
    batch2 = _docs(
        spark,
        [
            (40, "novel text that matches nothing at all here", "en", "b2"),
            (41, "another fresh document with its own words", "en", "b2"),
        ],
    )
    status, stats = ingest.ingest(
        spark,
        batch2,
        corpus_table=corpus_table,
        band_table=band_table,
        cluster_root=root,
    )
    got = {r.doc_id: (r.status, r.match_doc_id) for r in status.collect()}
    # doc 40 exactly duplicates batch ONE's survivor (doc 33) — caught
    # because ingest appended 33 to the bucketed corpus table
    assert got[40] == ("dup_exact", 33)
    assert got[41] == ("kept", None)
    assert stats.n_kept == 1
    assert {
        r.doc_id for r in spark.table(corpus_table).select("doc_id").collect()
    } == {1, 2, 10, 11, 20, 33, 41}
    cmap = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, root).collect()
    }
    assert cmap[40] == 33 and cmap[41] == 41


def test_ingest_cli_end_to_end(spark, tmp_path):
    """The deploy runbook's batch-ingest step: CLI main() in-process
    (borrowed-session guard keeps the test session alive)."""
    import json

    from projekt_data_engineering_iubh_spark.pipeline.ingest import main

    root = str(tmp_path / "cliclusters")
    docs = _docs(spark, CORPUS)
    corpus_store.write_bucketed_corpus(docs, "ing_cli_corpus")
    corpus_store.write_band_index(docs, "ing_cli_bands")
    ci.init_cluster_index(spark, docs, root)
    try:
        batch_path = str(tmp_path / "batch.parquet")
        _docs(
            spark,
            [(60, _A, "en", "cli"), (61, "wholly new cli text content", "en", "cli")],
        ).write.parquet(batch_path)
        rc = main(
            ["ingest.py", batch_path, "ing_cli_corpus", "ing_cli_bands", root]
        )
        assert rc == 0
        assert spark.sparkContext is not None  # borrowed session survives
        assert {
            r.doc_id
            for r in spark.table("ing_cli_corpus").select("doc_id").collect()
        } == {1, 2, 10, 11, 20, 61}
    finally:
        spark.sql("DROP TABLE IF EXISTS ing_cli_corpus")
        spark.sql("DROP TABLE IF EXISTS ing_cli_bands")


def test_intra_batch_duplicates_store_one_copy(spark, tmp_path):
    """Review fix: two identical (and two near-identical) docs arriving
    in ONE batch must store a single copy — batch-internal exact and
    near tiers, greedy min-id convention."""
    root = str(tmp_path / "intraclusters")
    docs = _docs(spark, CORPUS)
    corpus_store.write_bucketed_corpus(docs, "ing_intra_corpus")
    corpus_store.write_band_index(docs, "ing_intra_bands")
    ci.init_cluster_index(spark, docs, root)
    try:
        novel = "fresh crawl content the corpus has never seen"
        batch = _docs(
            spark,
            [
                (70, novel, "en", "b"),
                (71, novel, "en", "b"),             # intra exact dup of 70
                (72, novel + " trailingbit", "en", "b"),  # intra near dup
                (73, "something else entirely new today", "en", "b"),
            ],
        )
        status, stats = ingest.ingest(
            spark,
            batch,
            corpus_table="ing_intra_corpus",
            band_table="ing_intra_bands",
            cluster_root=root,
        )
        got = {r.doc_id: (r.status, r.match_doc_id) for r in status.collect()}
        assert got[70] == ("kept", None)
        assert got[71] == ("dup_exact", 70)
        assert got[72] == ("dup_near", 70)
        assert got[73] == ("kept", None)
        assert stats.n_kept == 2
        stored = {
            r.doc_id
            for r in spark.table("ing_intra_corpus").select("doc_id").collect()
        }
        assert stored == {1, 2, 10, 11, 20, 70, 73}
        # the map still clusters all three variants together
        cmap = {
            r.doc_id: r.cluster_id
            for r in ci.load_cluster_map(spark, root).collect()
        }
        assert cmap[70] == cmap[71] == cmap[72] == 70
    finally:
        spark.sql("DROP TABLE IF EXISTS ing_intra_corpus")
        spark.sql("DROP TABLE IF EXISTS ing_intra_bands")


def test_crash_replay_is_idempotent(spark, tmp_path):
    """Review fix: re-running a batch after a mid-ingest crash must
    converge — no duplicate cluster-map rows, no doc classified as a
    duplicate of ITSELF, survivors stored once."""
    root = str(tmp_path / "replayclusters")
    docs = _docs(spark, CORPUS)
    corpus_store.write_bucketed_corpus(docs, "ing_rp_corpus")
    corpus_store.write_band_index(docs, "ing_rp_bands")
    ci.init_cluster_index(spark, docs, root)
    try:
        batch = _docs(
            spark,
            [(80, "replayable novel content for this test", "en", "b")],
        )
        # simulate the crash: map ingest + band append happened, corpus
        # append did NOT (the documented worst window)
        from projekt_data_engineering_iubh_spark.operators.minhash import (
            band_rows,
            signatures,
        )

        bb = band_rows(signatures(batch))
        ci.ingest_batch(spark, batch, root)
        corpus_store.append_band_index(batch, "ing_rp_bands", bands=bb)

        # full re-run
        status, stats = ingest.ingest(
            spark,
            batch,
            corpus_table="ing_rp_corpus",
            band_table="ing_rp_bands",
            cluster_root=root,
        )
        got = {r.doc_id: (r.status, r.match_doc_id) for r in status.collect()}
        # self-exclusion: its own earlier band rows must not make it a
        # dup of itself
        assert got[80] == ("kept", None)
        # map has exactly ONE row for the doc (idempotent re-ingest)
        rows = (
            ci.load_cluster_map(spark, root)
            .filter(F.col("doc_id") == 80)
            .collect()
        )
        assert len(rows) == 1 and rows[0].cluster_id == 80
        # survivor stored exactly once
        n = (
            spark.table("ing_rp_corpus")
            .filter(F.col("doc_id") == 80)
            .count()
        )
        assert n == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS ing_rp_corpus")
        spark.sql("DROP TABLE IF EXISTS ing_rp_bands")
