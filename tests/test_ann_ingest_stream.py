"""Streaming ANN codes ingest: multi-drop live run growing the IVF-PQ
serving index without retrain — per-trigger append generations over the
snapshot store, codes pinned byte-identical to a from-scratch batch
encode against the bootstrap codebooks, replayed triggers land once."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.operators import kmeans as km
from projekt_data_engineering_iubh_spark.pipeline import ann_index, store
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq
from projekt_data_engineering_iubh_spark.streaming import (
    ann_ingest_stream as ais,
)

SF = "/root/testdata/sf0.001"
SCHEMA = "vec_id long, embedding array<float>, label int"


def _drop(spark, src_dir, tmp_path, name, df):
    staging = tmp_path / f"stage_{name}"
    df.coalesce(1).write.parquet(str(staging))
    part = glob.glob(str(staging / "part-*.parquet"))[0]
    shutil.move(part, str(src_dir / f"{name}.parquet"))


def test_codes_ingest_stream_matches_batch_encode(spark, tmp_path):
    root = str(tmp_path / "codes_index")
    src = tmp_path / "src"
    src.mkdir()

    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    base = embs.filter(F.col("vec_id") < 100)
    ais.bootstrap_codes_index(spark, base, root)
    assert store._committed_versions(root) == [1]

    q = ais.start_codes_ingest_stream(
        spark.readStream.schema(SCHEMA).parquet(str(src)),
        str(tmp_path / "ckpt"),
        root,
    )
    try:
        _drop(
            spark, src, tmp_path, "b1",
            embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 300)),
        )
        q.processAllAvailable()
        _drop(spark, src, tmp_path, "b2",
              embs.filter(F.col("vec_id") >= 300))
        q.processAllAvailable()
    finally:
        q.stop()

    assert store._committed_versions(root) == [1, 2, 3]

    # ground truth: from-scratch batch encode of the FULL corpus against
    # the BOOTSTRAP (v1) codebooks — the frozen-books contract
    v1 = os.path.join(root, "v00000001")
    coarse = sorted(
        spark.read.parquet(os.path.join(v1, "coarse")).collect(),
        key=lambda r: r.cell,
    )
    cells = [r.cell for r in coarse]
    cqs = [list(r.cq) for r in coarse]
    brows = spark.read.parquet(os.path.join(v1, "books")).collect()
    books = [[None] * vq._PQ_CODES for _ in range(vq._PQ_COS_M)]
    for r in brows:
        books[r.m][r.code] = list(r.cq)
    books = [[cq for cq in bk if cq is not None] for bk in books]
    qv = embs.select(
        "vec_id", km.quantize_normalized(F.col("embedding")).alias("qemb")
    )
    want = sorted(
        tuple(r)
        for r in vq._ivfpq_encode_residuals(
            vq._ivfpq_residuals(qv, cells, cqs),
            books,
            vq.EMB_DIM // vq._PQ_COS_M,
        )
        .drop("qemb")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(store.resolve(root), "codes")
        ).collect()
    )
    assert got == want

    # codebooks frozen across the whole streamed chain
    for v in (2, 3):
        bv = sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(root, f"v{v:08d}", "books")
            ).collect()
        )
        assert bv == sorted(tuple(r) for r in brows)


def test_codes_ingest_replayed_trigger_lands_once(spark, tmp_path):
    """Structured Streaming replays a trigger when the process dies
    between the snapshot commit and the checkpoint write; the anti-join
    + empty-delta skip must make the replay a no-op (no duplicate
    codes, no empty snapshot version)."""
    root = str(tmp_path / "codes_index")
    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ais.bootstrap_codes_index(
        spark, embs.filter(F.col("vec_id") < 100), root
    )
    proc = ais.make_codes_batch_processor(root)
    batch = embs.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 200)
    )
    proc(batch, 0)
    assert store._committed_versions(root) == [1, 2]
    n = spark.read.parquet(
        os.path.join(store.resolve(root), "codes")
    ).count()
    proc(batch, 0)  # the replay
    assert store._committed_versions(root) == [1, 2]
    assert (
        spark.read.parquet(
            os.path.join(store.resolve(root), "codes")
        ).count()
        == n
    )
    # an empty trigger commits nothing either
    proc(batch.filter(F.lit(False)), 1)
    assert store._committed_versions(root) == [1, 2]


def test_delete_stream_tombstones_exactly_once(spark, tmp_path):
    """The takedown-key stream (r10): each drop of vec_id keys commits
    one tombstone generation; the serving view loses exactly those ids
    the moment the version commits; a REPLAYED drop (same keys arriving
    again — checkpoint recovery or a duplicate upstream request)
    commits NOTHING; and a concurrent codes-ingest appender composes
    through the CAS retry (delete + append interleave on one root)."""
    root = str(tmp_path / "codes_index")
    ingest_src = tmp_path / "ingest_src"
    delete_src = tmp_path / "delete_src"
    ingest_src.mkdir()
    delete_src.mkdir()

    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ais.bootstrap_codes_index(
        spark, embs.filter(F.col("vec_id") < 100), root
    )

    qi = ais.start_codes_ingest_stream(
        spark.readStream.schema(SCHEMA).parquet(str(ingest_src)),
        str(tmp_path / "ckpt_i"),
        root,
    )
    qd = ais.start_codes_delete_stream(
        spark.readStream.schema("vec_id long").parquet(str(delete_src)),
        str(tmp_path / "ckpt_d"),
        root,
    )

    def live_ids():
        return {
            r.vec_id
            for r in ann_index.read_live_codes(
                spark, store.resolve(root)
            ).collect()
        }

    try:
        # grow: ingest [100, 300)
        _drop(
            spark, ingest_src, tmp_path, "i1",
            embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 300)),
        )
        qi.processAllAvailable()
        grown = live_ids()
        assert grown == set(range(300)) & {
            r.vec_id for r in embs.select("vec_id").collect()
        }

        # shrink: takedown drop for ids [50, 150) step 4
        dead = list(range(50, 150, 4))
        _drop(
            spark, delete_src, tmp_path, "d1",
            spark.createDataFrame([(i,) for i in dead], "vec_id long"),
        )
        qd.processAllAvailable()
        after_delete = live_ids()
        assert after_delete == grown - set(dead)
        v_after = store._committed_versions(root)

        # replay: the SAME keys dropped again commit nothing
        _drop(
            spark, delete_src, tmp_path, "d1_replay",
            spark.createDataFrame([(i,) for i in dead], "vec_id long"),
        )
        qd.processAllAvailable()
        assert store._committed_versions(root) == v_after
        assert live_ids() == after_delete

        # interleave: ingest the rest while tombstones are live; the
        # delete's keys stay dead (none of them are in this delta) and
        # the new vectors land
        _drop(spark, ingest_src, tmp_path, "i2",
              embs.filter(F.col("vec_id") >= 300))
        qi.processAllAvailable()
        final = live_ids()
        assert final == {
            r.vec_id for r in embs.select("vec_id").collect()
        } - set(dead)
    finally:
        qi.stop()
        qd.stop()

    # compact folds the tombstones away; serving view unchanged
    assert ann_index.compact(spark, root) is True
    assert live_ids() == final


def test_routed_ingest_stream_matches_one_pass_routing(spark, tmp_path):
    """Streaming ROUTED ingest (r11): multi-drop live run growing the
    routed root through the frozen stored router, with a maintenance
    policy bounding the codes file count from inside the trigger path.
    Ground truth: the stream-grown codes must equal a ONE-PASS routing
    of the full corpus through the v1 router (per-row routing is
    independent + router frozen ⇒ zero drift), and replayed work lands
    exactly once (three drops → exactly three new versions... minus
    compactions, so assert on content, not version count)."""
    from projekt_data_engineering_iubh_spark.pipeline import maintenance

    root = str(tmp_path / "routed_index")
    src = tmp_path / "rsrc"
    src.mkdir()

    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    base = embs.filter(F.col("vec_id") < 200)
    ais.bootstrap_routed_index(spark, base, root)
    assert store._committed_versions(root) == [1]

    policy = maintenance.AnnMaintenancePolicy(max_codes_files=3)
    q = ais.start_routed_ingest_stream(
        spark.readStream.schema(SCHEMA).parquet(str(src)),
        str(tmp_path / "rckpt"),
        root,
        policy=policy,
    )
    try:
        for i, (lo, hi) in enumerate(((200, 300), (300, 420), (420, 10**9))):
            _drop(
                spark, src, tmp_path, f"rb{i}",
                embs.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
                ),
            )
            q.processAllAvailable()
            n_files = len([
                f
                for f in os.listdir(
                    os.path.join(store.resolve(root), "codes")
                )
                if not f.startswith(("_", "."))
            ])
            assert n_files <= policy.max_codes_files, f"drop {i}: {n_files}"
    finally:
        q.stop()

    # ground truth: one-pass routing of the FULL corpus through the v1
    # router artifacts — the frozen-router zero-drift contract
    v1 = os.path.join(root, "v00000001")
    router = km.TwoLevelRouter(
        spark.read.parquet(os.path.join(v1, "supers")),
        spark.read.parquet(os.path.join(v1, "cent_super")),
    )
    qv = embs.select(
        "vec_id", km.quantize(F.col("embedding")).alias("qemb")
    )
    want = sorted(
        (r.vec_id, r.cell)
        for r in km.route_top_cells(router, qv, "vec_id", [], 1).collect()
    )
    got = sorted(
        (r.vec_id, r.cell)
        for r in spark.read.parquet(
            os.path.join(store.resolve(root), "codes")
        ).collect()
    )
    assert got == want


def test_bootstrap_is_idempotent_on_grown_roots(spark, tmp_path):
    """Review fix (r11): a restarting app's natural 'bootstrap then
    start stream' sequence must NOT re-commit a base-only snapshot over
    streamed appends — for BOTH tiers, re-bootstrapping an existing
    root is a no-op (appended vectors stay in the serving view)."""
    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    base = embs.filter(F.col("vec_id") < 100)
    late = embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))

    pq_root = str(tmp_path / "pq_root")
    ais.bootstrap_codes_index(spark, base, pq_root)
    assert ann_index.append_generation(spark, pq_root, late, vq.ivfpq_assign)
    v = store.current_version(pq_root)
    ais.bootstrap_codes_index(spark, base, pq_root)  # restart sequence
    assert store.current_version(pq_root) == v
    got = spark.read.parquet(
        os.path.join(store.resolve(pq_root), "codes")
    ).count()
    assert got == 150  # appends survived the re-bootstrap

    r_root = str(tmp_path / "r_root")
    ais.bootstrap_routed_index(spark, base, r_root)
    assert ann_index.append_generation(spark, r_root, late, vq.routed_assign)
    v = store.current_version(r_root)
    ais.bootstrap_routed_index(spark, base, r_root)
    assert store.current_version(r_root) == v
    got = spark.read.parquet(
        os.path.join(store.resolve(r_root), "codes")
    ).count()
    assert got == 150


def test_routed_delete_stream_grow_takedown_replay_compact(spark, tmp_path):
    """The takedown stream against a ROUTED root (r12): the SAME
    start_codes_delete_stream wiring dispatches to the routed tombstone
    generation (ann_index.delete_generation is kind-free),
    so one delete-stream deployment serves both index tiers. Drive the
    full streaming lifecycle live: grow through the routed ingest,
    takedown keys spanning both generations, replay the drop (commits
    nothing), then the maintenance policy's tombstone-bytes trigger
    folds the tombstones away through ann_index.compact from INSIDE a
    trigger."""
    from projekt_data_engineering_iubh_spark.pipeline import maintenance

    root = str(tmp_path / "routed_del_index")
    ingest_src = tmp_path / "rdi_src"
    delete_src = tmp_path / "rdd_src"
    ingest_src.mkdir()
    delete_src.mkdir()

    embs = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ais.bootstrap_routed_index(
        spark, embs.filter(F.col("vec_id") < 200), root
    )

    qi = ais.start_routed_ingest_stream(
        spark.readStream.schema(SCHEMA).parquet(str(ingest_src)),
        str(tmp_path / "rdi_ckpt"),
        root,
    )
    # tombstone-bytes threshold of 1: ANY tombstone footprint folds on
    # the next delete trigger — proves the routed tombstone trigger
    # fires from the stream path (r12 maintenance wiring)
    fold_policy = maintenance.AnnMaintenancePolicy(max_tombstone_bytes=1)
    qd = ais.start_codes_delete_stream(
        spark.readStream.schema("vec_id long").parquet(str(delete_src)),
        str(tmp_path / "rdd_ckpt"),
        root,
    )

    def live_ids():
        return {
            r.vec_id
            for r in ann_index.read_live_codes(
                spark, store.resolve(root)
            ).collect()
        }

    try:
        _drop(spark, ingest_src, tmp_path, "rg1",
              embs.filter(F.col("vec_id") >= 200))
        qi.processAllAvailable()
        grown = live_ids()
        assert grown == {r.vec_id for r in embs.select("vec_id").collect()}

        dead = sorted(grown)[100:260:4]  # spans base + streamed
        _drop(
            spark, delete_src, tmp_path, "rd1",
            spark.createDataFrame([(int(i),) for i in dead], "vec_id long"),
        )
        qd.processAllAvailable()
        after = live_ids()
        assert after == grown - set(dead)
        v_after = store._committed_versions(root)

        # replay: same keys again commit nothing
        _drop(
            spark, delete_src, tmp_path, "rd1_replay",
            spark.createDataFrame([(int(i),) for i in dead], "vec_id long"),
        )
        qd.processAllAvailable()
        assert store._committed_versions(root) == v_after
        assert live_ids() == after
    finally:
        qi.stop()
        qd.stop()

    # maintenance folds the routed tombstones away (the trigger-path
    # call is maintain_ann_root — run it exactly as the processor does)
    res = maintenance.maintain_ann_root(spark, root, fold_policy)
    assert res.compacted == "tombstone_bytes"
    cur = store.resolve(root)
    import os as _os

    assert not _os.path.isdir(_os.path.join(cur, "tombstones"))
    assert live_ids() == after
