"""Streaming corpus curation: multi-drop live run pinned to the batch
quality lane + split, with in-horizon duplicates removed at ingest."""

from __future__ import annotations

import datetime as dt
import glob
import shutil

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.pipeline.corpus import _quality_lane
from projekt_data_engineering_iubh_spark.streaming.corpus_stream import (
    curate_stream,
    start_corpus_stream,
)

SCHEMA = "doc_id long, text string, lang string, ingest_ts timestamp"

GOOD_EN = (
    "the quick brown fox jumps over the lazy dog and the cat is in the "
    "house and the dog is at the door and all of the animals are in the "
    "garden of the old man who is happy to see them every day in summer"
)
GOOD_DE_LOW_Q = "x!!! y??? z###"  # wrong shape: fails quality
GOOD_FR = (
    "the sun is high and the sky is blue and all of the birds are in "
    "the trees and a soft wind is in the grass and the day is long and "
    "the light is warm and everything is quiet in the small village"
)


def _ts(m):
    return dt.datetime(2024, 6, 1, 0, m, 0)


def test_corpus_stream_matches_batch_lane_and_dedups(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()

    def drop(name, rows):
        staging = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    drop(
        "b1",
        [
            (1, GOOD_EN, "en", _ts(0)),
            (2, GOOD_DE_LOW_Q, "de", _ts(1)),   # quality-filtered
            (3, GOOD_FR, "fr", _ts(2)),
            (4, GOOD_EN, "en", _ts(3)),         # in-batch exact dup of 1
            (5, GOOD_EN, "zz", _ts(4)),         # language-filtered
        ],
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = start_corpus_stream(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        dedup_horizon="30 minutes",
    )
    try:
        q.processAllAvailable()
        # cross-batch duplicate (in horizon) + one fresh doc
        drop("b2", [(6, GOOD_FR, "fr", _ts(10)), (7, GOOD_EN + " extra", "en", _ts(11))])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out"))
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 3, 7}  # 2/5 filtered, 4/6 deduped

    # split + partition layout agree with the batch pipeline's contract
    batch = spark.createDataFrame(
        [(1, GOOD_EN, "en", _ts(0)), (3, GOOD_FR, "fr", _ts(2))], SCHEMA
    )
    lane = _quality_lane(batch, ("en", "de", "es", "fr"), 0.5)
    assert {r.doc_id for r in lane.collect()} == {1, 3}
    for r in got.values():
        assert r.split in ("train", "test")
    parts = {p.split("/")[-1] for p in glob.glob(str(tmp_path / "out/split=*"))}
    assert parts <= {"split=train", "split=test"} and parts


def test_curate_stream_batch_mode_same_split(spark):
    """A doc must land in the same split via stream or batch code path
    (same salt + hash); batch mode of curate_stream is plain dedup."""
    rows = [(1, GOOD_EN, "en", _ts(0)), (3, GOOD_FR, "fr", _ts(1))]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {r.doc_id: r.split for r in curate_stream(df).collect()}

    from projekt_data_engineering_iubh_spark.functions import hashing
    from projekt_data_engineering_iubh_spark.plans.text_queries import (
        _SPLIT_PCT_TRAIN,
        _SPLIT_SALT,
    )

    expect = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id",
            F.when(
                hashing.md5_hash60(
                    F.concat(F.lit(_SPLIT_SALT), F.col("doc_id").cast("string"))
                )
                % 100
                < _SPLIT_PCT_TRAIN,
                "train",
            )
            .otherwise("test")
            .alias("s"),
        ).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Streaming NEAR-dup tier (r3 VERDICT #5)
# ---------------------------------------------------------------------------

NEAR_EN = GOOD_EN.replace("every day in summer", "every day in winter")
assert NEAR_EN != GOOD_EN  # near-duplicate, NOT byte-identical
UNRELATED = (
    "numbers and letters form the words of a very different story about "
    "rivers and mountains far away from any garden or village with new "
    "people walking along old roads toward the bright northern coast line"
)


def test_neardup_stream_drops_near_duplicates_across_triggers(spark, tmp_path):
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        build_signature_index,
        start_neardup_corpus_stream,
    )

    src = tmp_path / "src"
    src.mkdir()

    def drop(name, rows):
        staging = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    # the batch pipeline materialized the corpus signature index: doc 1000
    # (GOOD_EN) is already in the corpus
    corpus = spark.createDataFrame([(1000, GOOD_EN, "en", _ts(0))], SCHEMA)
    index_path = str(tmp_path / "sig_index")
    build_signature_index(corpus, index_path)

    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = start_neardup_corpus_stream(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        index_path,
        dedup_horizon="30 minutes",
    )
    try:
        # trigger 1: one unrelated keeper
        drop("b1", [(1, UNRELATED, "en", _ts(1))])
        q.processAllAvailable()
        # trigger 2 (LATER trigger, the VERDICT scenario): a NEAR-duplicate
        # of corpus doc 1000 — few tokens changed, md5 differs, so the
        # exact tier cannot catch it — plus a fresh keeper
        drop("b2", [(2, NEAR_EN, "en", _ts(10)), (3, GOOD_FR, "fr", _ts(11))])
        q.processAllAvailable()
        # trigger 3: a near-dup of a doc the STREAM ingested (doc 3,
        # trigger 2) — the index append keeps protecting later triggers
        near_fr = GOOD_FR.replace("the day is long", "the day is short")
        assert near_fr != GOOD_FR
        drop("b3", [(4, near_fr, "fr", _ts(20))])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r.doc_id for r in out.collect()} == {1, 3}


def test_neardup_index_join_is_equi_join(spark):
    """The scale contract: the per-batch candidate lookup must be a
    hash/merge EQUI-join on the band key — never a nested-loop/cartesian
    pairing against the index."""
    from projekt_data_engineering_iubh_spark.operators.minhash import (
        band_rows,
        signatures as signatures_from,
    )
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        neardup_filter_batch,
    )

    corpus = spark.createDataFrame([(1000, GOOD_EN, "en", _ts(0))], SCHEMA)
    batch = spark.createDataFrame([(2, NEAR_EN, "en", _ts(1))], SCHEMA)
    index = band_rows(signatures_from(corpus))
    plan = (
        neardup_filter_batch(batch, index)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_key" in plan


def test_corpus_stream_cli_near_dup_mode(spark, tmp_path):
    """Deploy-recipe entry point end-to-end (non-blocking drain): one drop
    with a keeper and a near-dup of an indexed corpus doc."""
    from projekt_data_engineering_iubh_spark.streaming.corpus_stream import main
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        build_signature_index,
    )

    src = tmp_path / "incoming"
    src.mkdir()
    staging = tmp_path / "stage_cli"
    spark.createDataFrame(
        [(1, UNRELATED, "en", _ts(1)), (2, NEAR_EN, "en", _ts(2))], SCHEMA
    ).coalesce(1).write.parquet(str(staging))
    part = glob.glob(str(staging / "part-*.parquet"))[0]
    shutil.move(part, str(src / "drop1.parquet"))

    index_path = str(tmp_path / "idx")
    corpus = spark.createDataFrame([(1000, GOOD_EN, "en", _ts(0))], SCHEMA)
    build_signature_index(corpus, index_path)

    out = str(tmp_path / "store")
    assert main(
        ["corpus_stream.py", str(src), out, str(tmp_path / "ckpt"), index_path],
        block=False,
    ) == 0
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1}  # near-dup 2 dropped at ingest


def test_neardup_within_single_trigger_dropped(spark, tmp_path):
    """Two near-dups of EACH OTHER (neither in the index) arriving in the
    same micro-batch: the lower doc_id survives, the higher is dropped by
    the within-batch tier."""
    from projekt_data_engineering_iubh_spark.operators.minhash import (
        band_rows,
        signatures as signatures_from,
    )
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        neardup_filter_batch,
    )

    empty_index = band_rows(
        signatures_from(
            spark.createDataFrame([], SCHEMA).select("doc_id", "text")
        )
    )
    batch = spark.createDataFrame(
        [
            (10, GOOD_EN, "en", _ts(0)),
            (11, NEAR_EN, "en", _ts(1)),     # near-dup of 10, same batch
            (12, UNRELATED, "en", _ts(2)),
        ],
        SCHEMA,
    )
    kept = neardup_filter_batch(batch, empty_index)
    assert {r.doc_id for r in kept.collect()} == {10, 12}

    # and the tier is switchable off (pure index mode)
    kept_off = neardup_filter_batch(batch, empty_index, within_batch=False)
    assert {r.doc_id for r in kept_off.collect()} == {10, 11, 12}


def test_neardup_stream_with_manifest_store_index(spark, tmp_path):
    """The composition the resolver routing exists for: the signature
    index maintained as a manifest store (batch compaction commits
    snapshots) while the stream reads it per trigger."""
    from projekt_data_engineering_iubh_spark.pipeline import store
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        build_signature_index,
        start_neardup_corpus_stream,
    )

    index_path = str(tmp_path / "idx")
    corpus = spark.createDataFrame([(1000, GOOD_EN, "en", _ts(0))], SCHEMA)
    build_signature_index(corpus, index_path)
    store.init_store(index_path)  # batch tier migrated the index

    src = tmp_path / "src"
    src.mkdir()
    staging = tmp_path / "stage_ms"
    spark.createDataFrame(
        [(1, NEAR_EN, "en", _ts(1)), (2, UNRELATED, "en", _ts(2))], SCHEMA
    ).coalesce(1).write.parquet(str(staging))
    part = glob.glob(str(staging / "part-*.parquet"))[0]
    shutil.move(part, str(src / "b1.parquet"))

    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = start_neardup_corpus_stream(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), index_path
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r.doc_id for r in out.collect()} == {2}  # near-dup of 1000 dropped
    # the stream's index append landed in the delta area, visible through
    # the full index view (snapshot ∪ delta)
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        load_index,
    )

    assert store.is_store(index_path)
    assert load_index(spark, index_path).where(F.col("doc_id") == 2).count() > 0


def test_batch_processor_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the same (batch, id) —
    the crash-before-checkpoint scenario — must not duplicate store rows
    (dynamic partition overwrite on the _ingest_batch column)."""
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        build_signature_index,
        make_batch_processor,
    )

    index_path = str(tmp_path / "idx")
    build_signature_index(
        spark.createDataFrame([(1000, GOOD_EN, "en", _ts(0))], SCHEMA), index_path
    )
    out = str(tmp_path / "store")
    process = make_batch_processor(out, index_path)

    from projekt_data_engineering_iubh_spark.streaming.corpus_stream import (
        curate_stream,
    )

    batch = curate_stream(
        spark.createDataFrame(
            [(1, UNRELATED, "en", _ts(1)), (3, GOOD_FR, "fr", _ts(2))], SCHEMA
        )
    )
    process(batch, 7)
    process(batch, 7)  # the retry
    got = spark.read.parquet(out)
    assert sorted(r.doc_id for r in got.collect()) == [1, 3]  # no dups

    # a LATER batch with a genuinely new doc appends alongside (no clobber)
    fresh = (
        "a completely different report describes the harvest of apples "
        "and pears in the northern orchards where the weather was cold "
        "and the workers finished early before the first snow arrived"
    )
    batch2 = curate_stream(
        spark.createDataFrame([(5, fresh, "en", _ts(10))], SCHEMA)
    )
    process(batch2, 8)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 3, 5]


def test_index_compaction_never_loses_racing_appends(spark, tmp_path):
    """compact_signature_index folds exactly the delta files it listed;
    an append landing between listing and commit survives in the delta
    and stays visible through load_index()."""
    from projekt_data_engineering_iubh_spark.operators import minhash as mh
    from projekt_data_engineering_iubh_spark.pipeline import band_delta
    from projekt_data_engineering_iubh_spark.streaming import neardup_stream as ns

    index_path = str(tmp_path / "idx")
    ns.build_signature_index(
        spark.createDataFrame([(1000, GOOD_EN, "en", _ts(0))], SCHEMA), index_path
    )

    def delta_append(doc_id, text):
        import os, uuid, glob as g, shutil

        delta = band_delta.appends_dir(index_path)
        os.makedirs(delta, exist_ok=True)
        tmp = os.path.join(delta, f".tmp-{uuid.uuid4().hex}")
        mh.band_rows(
            mh.signatures(
                spark.createDataFrame([(doc_id, text)], "doc_id long, text string")
            )
        ).coalesce(1).write.parquet(tmp)
        os.replace(
            g.glob(os.path.join(tmp, "part-*.parquet"))[0],
            os.path.join(delta, f"{uuid.uuid4().hex}.parquet"),
        )
        shutil.rmtree(tmp, ignore_errors=True)

    delta_append(1, UNRELATED)

    raced: list[int] = []

    def racing_append():  # fired AFTER listing, BEFORE the fold commits
        delta_append(2, GOOD_FR)
        raced.append(2)

    ns.compact_signature_index(spark, index_path, _on_listed=racing_append)
    assert raced == [2]

    idx = ns.load_index(spark, index_path)
    got = {r.doc_id for r in idx.select("doc_id").distinct().collect()}
    assert got == {1000, 1, 2}  # folded + racing append both visible
    # doc 1's bands were folded into the snapshot; doc 2's stay in delta
    from projekt_data_engineering_iubh_spark.pipeline import store

    snap = spark.read.parquet(store.resolve(index_path))
    assert {r.doc_id for r in snap.select("doc_id").distinct().collect()} == {1000, 1}
    assert len(band_delta.live_files(index_path)) == 1  # live: the racing append

    # folded files get a one-compaction grace window: still on disk
    # (ledgered, invisible to live listings) until the NEXT compaction
    assert len(band_delta.live_files(index_path, include_folded=True)) == 2
    ns.compact_signature_index(spark, index_path)
    # doc 1's folded file was purged (its window ended); doc 2's file was
    # folded THIS cycle, so it stays on disk in its own grace window
    assert band_delta.live_files(index_path) == []
    assert len(band_delta.live_files(index_path, include_folded=True)) == 1
    final = ns.load_index(spark, index_path)
    assert {r.doc_id for r in final.select("doc_id").distinct().collect()} == {
        1000, 1, 2,
    }


def test_signature_compaction_crash_before_ledger_is_idempotent(spark, tmp_path):
    """r6 ADVICE: snapshot-flavor fold crash between integrate and the
    ledger write re-integrates the same files next cycle; the anti-join
    on (doc_id, band_no) keeps the snapshot duplicate-free."""
    import os

    from projekt_data_engineering_iubh_spark.operators import minhash as mh
    from projekt_data_engineering_iubh_spark.pipeline import band_delta, store
    from projekt_data_engineering_iubh_spark.streaming import neardup_stream as ns

    index_path = str(tmp_path / "idx")
    ns.build_signature_index(
        spark.createDataFrame([(1000, GOOD_EN, "en", _ts(0))], SCHEMA), index_path
    )
    band_delta.append_one(
        mh.band_rows(
            mh.signatures(
                spark.createDataFrame([(1, GOOD_FR)], "doc_id long, text string")
            )
        ),
        index_path,
    )
    ns.compact_signature_index(spark, index_path)
    snap = spark.read.parquet(store.resolve(index_path))
    rows_after_fold = snap.count()

    # crash simulation: snapshot committed, ledger write lost
    os.remove(
        os.path.join(band_delta.appends_dir(index_path), band_delta.FOLDED_LEDGER)
    )
    assert len(band_delta.live_files(index_path)) == 1

    ns.compact_signature_index(spark, index_path)
    snap2 = spark.read.parquet(store.resolve(index_path))
    assert snap2.count() == rows_after_fold
    assert (
        snap2.groupBy("doc_id", "band_no").count().filter(F.col("count") > 1).count()
        == 0
    )
