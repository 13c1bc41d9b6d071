"""Bucketed corpus store (r4 VERDICT #5): the corpus side of the
incremental exact-dedup join must read pre-bucketed — zero exchange,
zero sort on the big side; only the (small) arriving batch shuffles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.pipeline import corpus, corpus_store

SF_DIR = "/root/testdata/sf0.001"
TABLE = "corpus_bucketed_test"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bcorpus") / "curated")
    corpus.run(spark, SF_DIR, out, bucketed_table=TABLE)
    yield TABLE
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")


def test_corpus_side_join_is_exchange_free(spark, bucketed):
    batch = load_table(spark, SF_DIR, "documents").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m = corpus_store.exact_matches(spark, batch, bucketed)
        plan = m._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # exactly TWO hash exchanges in the whole plan: the batch side
        # shuffling into the corpus's bucketing, and the final groupBy —
        # i.e. ZERO on the corpus branch (its scan feeds the join through
        # a bucket-local sort only)
        assert plan.count("Exchange hashpartitioning") == 2, plan
        # and the corpus scan really is the bucketed read
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_exact_matches_correct_and_batch_side_only_shuffles(spark, bucketed):
    docs = load_table(spark, SF_DIR, "documents")
    # batch = copies of 5 corpus docs (exact dups) + 2 novel docs
    dup = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    novel = docs.sparkSession.createDataFrame(
        [(2_000_000, "novel text never seen one"),
         (2_000_001, "novel text never seen two")],
        ["doc_id", "text"],
    )
    batch = dup.unionByName(novel)
    got = {
        r.doc_id: r.match_doc_id
        for r in corpus_store.exact_matches(spark, batch, bucketed).collect()
    }
    # every duplicated corpus doc that SURVIVED curation matches itself;
    # novel docs produce no row
    table_ids = {
        r.doc_id for r in docs.sparkSession.table(bucketed).select("doc_id").collect()
    }
    for base_id in range(5):
        if base_id in table_ids:
            assert got.get(1_000_000 + base_id) == base_id
    assert 2_000_000 not in got and 2_000_001 not in got


def test_bucketed_write_via_corpus_run_matches_parquet(spark, bucketed):
    t = spark.table(bucketed)
    assert t.count() > 0
    # bucketing column present and equal to md5(text)
    bad = t.filter(F.col("text_hash") != F.md5("text")).count()
    assert bad == 0


def test_band_index_near_tier_exchange_free_and_correct(spark, tmp_path):
    """The NEAR tier counterpart: batch band rows join the band_key-
    bucketed index with zero exchanges on the index side, and the
    matches agree with an inline (unbucketed) computation."""
    docs = load_table(spark, SF_DIR, "documents")
    table = "band_index_test"
    try:
        corpus_store.write_band_index(docs, table)
        # batch: near-identical copies of 3 corpus docs (id-offset,
        # one token appended) + 1 novel doc
        batch = docs.filter(F.col("doc_id") < 3).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extratoken")).alias("text"),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            m = corpus_store.near_matches(spark, batch, table)
            plan = m._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan
            # three exchanges, ALL on the small/batch path: the batch's
            # signature groupBy, the batch side of the join, the final
            # groupBy — the index branch goes FileScan(Bucketed) →
            # Filter/Project → Sort → join with zero exchanges (an
            # unbucketed index adds a fourth)
            assert plan.count("Exchange hashpartitioning") == 3, plan
            got = {r.doc_id: r.match_doc_id for r in m.collect()}
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        # inline reference: same signatures, unbucketed join
        from projekt_data_engineering_iubh_spark.operators.minhash import (
            band_rows,
            signatures as signatures_from,
        )

        bb = band_rows(signatures_from(batch))
        ib = band_rows(signatures_from(docs)).select(
            F.col("doc_id").alias("c_doc"),
            "band_key",
            F.col("minhash").alias("c_minhash"),
        )
        est = F.size(
            F.filter(
                F.zip_with(F.col("minhash"), F.col("c_minhash"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ) / F.lit(16.0)
        ref = (
            bb.join(ib, "band_key")
            .select("doc_id", "c_doc", est.alias("est"))
            .filter(F.col("est") >= 0.5)
            .groupBy("doc_id")
            .agg(F.min("c_doc").alias("match_doc_id"))
        )
        expected = {r.doc_id: r.match_doc_id for r in ref.collect()}
        assert got == expected and len(got) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_band_delta_append_fold_cycle(spark, tmp_path):
    """r5 VERDICT #4 — the batch tier's band appends ride the shared LSM
    delta (pipeline/band_delta.py): an appended batch is visible to
    near_matches BEFORE compaction (via the delta branch — the bucketed
    base branch still joins exchange-free), compact_band_index folds the
    delta into the bucketed table (matches unchanged, table grows), the
    folded file survives one grace cycle, and the NEXT cycle purges it.
    (cluster_index.maintain(band_table=...) drives the same fold — see
    the next test.)"""
    from projekt_data_engineering_iubh_spark.pipeline import band_delta
    from projekt_data_engineering_iubh_spark.operators.minhash import (
        band_rows,
        signatures as signatures_from,
    )

    docs = load_table(spark, SF_DIR, "documents")
    table = "band_delta_cycle_test"
    try:
        corpus_store.write_band_index(docs, table)
        loc = corpus_store.table_location(spark, table)
        base_rows = spark.table(table).count()

        # batch: near-identical copy of corpus doc 0 → lands in the delta
        batch = docs.filter(F.col("doc_id") == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extratoken")).alias("text"),
        )
        corpus_store.append_band_index(batch, table)
        assert len(band_delta.live_files(loc)) == 1
        assert spark.table(table).count() == base_rows  # not in the table yet

        # a SECOND batch near-duplicating the FIRST (still uncompacted)
        # batch must match via the delta branch
        b2 = batch.select(
            (F.col("doc_id") + 1).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" othertoken")).alias("text"),
        )
        pre = {
            r.doc_id: r.match_doc_id
            for r in corpus_store.near_matches(spark, b2, table).collect()
        }
        assert pre.get(1_000_001) == 0  # matches corpus doc 0 (lowest)

        # fold: delta rows land in the bucketed table, matches unchanged
        folded = corpus_store.compact_band_index(spark, table)
        assert folded == 1
        n_batch_bands = band_rows(signatures_from(batch)).count()
        assert spark.table(table).count() == base_rows + n_batch_bands
        assert band_delta.live_files(loc) == []  # folded, grace-retained
        assert len(band_delta.live_files(loc, include_folded=True)) == 1
        post = {
            r.doc_id: r.match_doc_id
            for r in corpus_store.near_matches(spark, b2, table).collect()
        }
        assert post == pre

        # next cycle physically purges the grace-retained file
        assert corpus_store.compact_band_index(spark, table) == 0
        assert band_delta.live_files(loc, include_folded=True) == []
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_maintain_folds_band_table_delta(spark, tmp_path):
    """maintain(band_table=...) is the one maintenance entrypoint for the
    batch producer's delta."""
    from projekt_data_engineering_iubh_spark.pipeline import (
        band_delta,
        cluster_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    table = "band_delta_maintain_test"
    root = str(tmp_path / "cidx")
    try:
        corpus_store.write_band_index(docs, table)
        cluster_index.init_cluster_index(spark, docs, root)
        batch = docs.filter(F.col("doc_id") < 2).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
        )
        corpus_store.append_band_index(batch, table)
        out = cluster_index.maintain(spark, root, band_table=table)
        assert out["band_delta_files_folded"] == 1
        loc = corpus_store.table_location(spark, table)
        assert band_delta.live_files(loc) == []
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_band_delta_racing_append_stays_live(spark, tmp_path):
    """Shared fold invariant, batch-table flavor: an append landing
    BETWEEN the compaction's listing and its fold is not marked folded —
    it stays live (visible to near_matches) and folds on the next cycle.
    No lost rows."""
    from projekt_data_engineering_iubh_spark.pipeline import band_delta

    docs = load_table(spark, SF_DIR, "documents")
    table = "band_delta_race_test"
    try:
        corpus_store.write_band_index(docs, table)
        loc = corpus_store.table_location(spark, table)
        base_rows = spark.table(table).count()

        first = docs.filter(F.col("doc_id") == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        racer = docs.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
        corpus_store.append_band_index(first, table)

        def racing_append():
            corpus_store.append_band_index(racer, table)

        folded = corpus_store.compact_band_index(
            spark, table, _on_listed=racing_append
        )
        assert folded == 1  # only the pre-listing file folded
        live = band_delta.live_files(loc)
        assert len(live) == 1  # the racer stays live
        # the racer's rows are visible to the match tier via the delta
        probe = docs.filter(F.col("doc_id") == 1).select(
            (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
        )
        got = {
            r.doc_id: r.match_doc_id
            for r in corpus_store.near_matches(spark, probe, table).collect()
        }
        assert got.get(3_000_001) == 1  # matches corpus doc 1 (lowest)
        # next cycle folds the racer; nothing lost
        assert corpus_store.compact_band_index(spark, table) == 1
        from projekt_data_engineering_iubh_spark.operators.minhash import (
            band_rows,
            signatures as signatures_from,
        )

        n1 = band_rows(signatures_from(first)).count()
        n2 = band_rows(signatures_from(racer)).count()
        assert spark.table(table).count() == base_rows + n1 + n2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_band_delta_crash_before_ledger_is_idempotent(spark, tmp_path):
    """r6 ADVICE: fold() runs integrate(listed) BEFORE writing the
    .folded.json ledger; a crash between the two leaves the files live,
    so the next cycle re-integrates them. The table-flavor integrate is
    idempotent by construction (anti-join on the (doc_id, band_no) row
    key against the base) — simulate the crash by deleting the ledger
    after a successful fold and re-folding: zero duplicate rows."""
    import os

    from projekt_data_engineering_iubh_spark.pipeline import band_delta

    docs = load_table(spark, SF_DIR, "documents")
    table = "band_delta_crash_test"
    try:
        corpus_store.write_band_index(docs, table)
        loc = corpus_store.table_location(spark, table)
        batch = docs.filter(F.col("doc_id") == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        corpus_store.append_band_index(batch, table)
        assert corpus_store.compact_band_index(spark, table) == 1
        after_fold = spark.table(table).count()

        # crash simulation: integrate committed, ledger write lost
        os.remove(os.path.join(band_delta.appends_dir(loc), band_delta.FOLDED_LEDGER))
        assert len(band_delta.live_files(loc)) == 1  # re-listed as live

        # re-fold: the file is re-integrated but adds zero rows
        assert corpus_store.compact_band_index(spark, table) == 1
        assert spark.table(table).count() == after_fold
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_band_delta_rejects_remote_root(spark):
    """r6 ADVICE (medium): the append-delta mechanism is local-FS-only
    (os.replace + glob). A root with a URI scheme — e.g. the object-store
    warehouse the deploy template recommends — must fail loudly at
    entry, never silently discard a non-empty append."""
    import pytest as _pytest

    from projekt_data_engineering_iubh_spark.pipeline import band_delta

    docs = load_table(spark, SF_DIR, "documents").limit(1)
    with _pytest.raises(ValueError, match="local-filesystem-only"):
        band_delta.append_one(docs, "s3a://bucket/warehouse/band_index")
    with _pytest.raises(ValueError, match="local-filesystem-only"):
        band_delta.live_files("hdfs://nn/warehouse/band_index")


def test_band_delete_raises_when_write_lands_nothing(spark, monkeypatch):
    """A takedown key file lands through band_delta's one atomic-file
    writer: when Spark's write leaves nothing visible on the local
    filesystem, a non-empty delete raises like a delta append does,
    rather than returning with no tombstone written."""
    from pyspark.sql import DataFrameWriter

    from projekt_data_engineering_iubh_spark.pipeline import band_delta

    docs = load_table(spark, SF_DIR, "documents")
    table = "band_delete_lands_nothing_test"
    try:
        corpus_store.write_band_index(docs, table)
        monkeypatch.setattr(DataFrameWriter, "parquet", lambda self, path: None)
        with pytest.raises(RuntimeError, match="not visible"):
            band_delta.append_one(
                docs.select("doc_id"), corpus_store.table_location(spark, table)
            )
        with pytest.raises(RuntimeError, match="not visible"):
            corpus_store.delete_band_docs(
                spark, table, docs.filter(F.col("doc_id") < 3)
            )
        monkeypatch.undo()
        assert corpus_store.band_tombstones(spark, table) is None
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
