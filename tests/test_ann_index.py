"""Build/serve split of the trained ANN indexes (r7 VERDICT #2).

The oracle hash already certifies each entry against DuckDB; these pins
state the claims the split itself exists for: (1) serving from the
stored index returns EXACTLY the inline-trained variant's rows, (2) the
build is memoized — a second serve call touches the committed snapshot,
it does not retrain, (3) a corpus re-write routes to a fresh root
(build-if-stale), and (4) a lost commit race is harmless.
"""

from __future__ import annotations

import os
import shutil

import pytest

from projekt_data_engineering_iubh_spark.pipeline import ann_index, store
from projekt_data_engineering_iubh_spark.plans import all_queries
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq

SF = "/root/testdata/sf0.001"
_Q = all_queries()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_serve_equals_inline_trained(spark):
    assert _rows(_Q["emb_ivf_serve"].fn(spark, SF)) == _rows(
        _Q["emb_ivf_ann_trained"].fn(spark, SF)
    )


def test_ivfpq_serve_equals_inline_residual(spark):
    assert _rows(_Q["emb_ivfpq_serve"].fn(spark, SF)) == _rows(
        _Q["emb_ivfpq_residual"].fn(spark, SF)
    )


def test_build_is_memoized_and_stale_corpus_rebuilds(spark, tmp_path):
    # private corpus copy so this test owns the mtime
    corpus = tmp_path / "sf"
    corpus.mkdir()
    src = os.path.join(SF, "embeddings.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, corpus / "embeddings.parquet")
    else:
        shutil.copy(src, corpus / "embeddings.parquet")
    sf_dir = str(corpus)

    root1 = vq._ensure_ivft_index(spark, sf_dir)
    assert store.is_store(root1)
    v1 = store.current_version(root1)
    # second ensure: same root, same committed version — no retrain
    assert vq._ensure_ivft_index(spark, sf_dir) == root1
    assert store.current_version(root1) == v1

    # corpus re-write (file touched) -> DIFFERENT root
    os.utime(corpus / "embeddings.parquet")
    root2 = vq._ensure_ivft_index(spark, sf_dir)
    assert root2 != root1
    assert store.is_store(root2)

    # in-place CONTENT rewrite inside a part-file directory, with the
    # directory mtime pinned back — the r8 digest (bare dir mtime) served
    # a stale index here; the r9 fingerprint folds every file's
    # (name, size, mtime) so the root must still change
    tblpath = corpus / "embeddings.parquet"
    if os.path.isdir(tblpath):
        dir_stat = os.stat(tblpath)
        part = next(
            p for p in sorted(tblpath.iterdir()) if p.suffix == ".parquet"
        )
        os.utime(part, (part.stat().st_atime, part.stat().st_mtime + 7))
        os.utime(tblpath, (dir_stat.st_atime, dir_stat.st_mtime))
        assert vq._ensure_ivft_index(spark, sf_dir) != root2
    else:
        # single-file corpus: a same-mtime SIZE change must still move
        # the root (content identity, not timestamps alone)
        before = ann_index.index_root(
            sf_dir, "embeddings.parquet", "probe", ("k",)
        )
        st = os.stat(tblpath)
        with open(tblpath, "ab") as f:
            f.write(b"\0")
        os.utime(tblpath, (st.st_atime, st.st_mtime))
        after = ann_index.index_root(
            sf_dir, "embeddings.parquet", "probe", ("k",)
        )
        with open(tblpath, "r+b") as f:
            f.truncate(st.st_size)  # restore valid parquet bytes
        os.utime(tblpath, (st.st_atime, st.st_mtime))
        assert after != before

    # the artifacts themselves are identical (same bytes trained): the
    # staleness key is conservative, not semantic
    c1 = sorted(
        tuple(r)
        for r in ann_index.read_artifact(spark, root1, "centroids").collect()
    )
    c2 = sorted(
        tuple(r)
        for r in ann_index.read_artifact(spark, root2, "centroids").collect()
    )
    assert c1 == c2


def test_commit_race_lost_is_success(spark, tmp_path, monkeypatch):
    """A builder that loses the commit race must still return a usable
    root (the winner's snapshot is byte-identical by determinism)."""
    calls = {"n": 0}
    real = store.commit_snapshot

    def racing_commit(path, write_fn, **kw):
        calls["n"] += 1
        real(path, lambda d: None)  # the "other" builder wins first
        raise store.CommitConflict("simulated lost race")

    monkeypatch.setattr(ann_index.store, "commit_snapshot", racing_commit)
    root = ann_index.ensure(
        str(tmp_path), "nope.parquet", "t", (1,), lambda d: None
    )
    assert calls["n"] == 1
    assert store.is_store(root)


def test_serve_entries_registered_with_inline_oracles():
    assert _Q["emb_ivf_serve"].oracle == _Q["emb_ivf_ann_trained"].oracle
    assert _Q["emb_ivfpq_serve"].oracle == _Q["emb_ivfpq_residual"].oracle


def test_vacuum_stale_removes_only_old_roots(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    old = ann_index.ensure(str(tmp_path), "a.parquet", "x", (1,), lambda d: None)
    new = ann_index.ensure(str(tmp_path), "b.parquet", "y", (2,), lambda d: None)
    # age the old root's manifest far past the TTL
    os.utime(os.path.join(old, store.MANIFEST_FILE), (1, 1))
    removed = ann_index.vacuum_stale(ttl_seconds=3600)
    assert removed == [old]
    assert not os.path.exists(old) and store.is_store(new)
    # a removed root self-heals on the next ensure
    again = ann_index.ensure(
        str(tmp_path), "a.parquet", "x", (1,), lambda d: None
    )
    assert again == old and store.is_store(again)


def test_client_cache_is_bounded():
    vq._IVFPQ_CLIENT_CACHE.clear()
    for i in range(vq._CLIENT_CACHE_CAP * 2):
        vq._IVFPQ_CLIENT_CACHE.get((f"root{i}",), lambda _k, i=i: (i,))
    entries = vq._IVFPQ_CLIENT_CACHE._entries
    assert len(entries) == vq._CLIENT_CACHE_CAP
    # newest entries survive, oldest evicted
    assert (f"root{vq._CLIENT_CACHE_CAP * 2 - 1}",) in entries
    assert ("root0",) not in entries
    vq._IVFPQ_CLIENT_CACHE.clear()


def test_bucketed_serve_join_is_exchange_free(spark):
    """The 100 TB serve layout the docstrings promise, proven on the
    physical plan: corpus and codes co-bucketed by vec_id join with
    ZERO Exchange and ZERO Sort nodes (bucket + sortBy satisfy the
    sort-merge requirements from storage), and the full IVF serve plan
    on top adds only its broadcast probe and top-k window shuffle."""
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table
    from projekt_data_engineering_iubh_spark.functions import vectors as vx

    root = vq._ensure_ivft_index(spark, SF)
    corpus = (
        load_table(spark, SF, "embeddings")
        .withColumn("nrm", vx.norm(F.col("embedding")))
    )
    codes = ann_index.read_artifact(spark, root, "codes")
    ann_index.write_bucketed_serving(spark, corpus, codes, "ann_bsrv")
    # at fixture scale the planner would broadcast (and disable bucketed
    # reading); pin the sort-merge path the layout exists for, as the
    # other bucketing tests do
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cells = ann_index.bucketed_serve_cells(spark, "ann_bsrv")
        plan = cells._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # the claim that matters at 100 TB: ZERO exchanges — both sides
        # read their buckets in place (SelectedBucketsCount in the scan).
        # Local per-bucket Sort nodes remain: Spark only elides them
        # when each bucket is a single file, which parallel writers
        # don't guarantee; a sort inside a partition is cheap and
        # cluster-local, unlike the shuffle this layout removes.
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan, plan

        out = vq._ivft_search(cells)
        rows = sorted(tuple(r) for r in out.collect())
        want = sorted(
            tuple(r) for r in _Q["emb_ivf_serve"].fn(spark, SF).collect()
        )
        assert rows == want
        full = out._jdf.queryExecution().executedPlan().toString()
        # an AQE dump repeats the tree under "== Initial Plan ==" —
        # count exchanges in the executed (final) section only
        full = full.split("== Initial Plan ==")[0]
        # the only hash exchange is the top-k window's
        import re

        shuffles = re.findall(
            r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)",
            full,
        )
        assert len(shuffles) <= 1, full
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("ann_bsrv_corpus", "ann_bsrv_codes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lifecycle_under_corpus_churn(spark, tmp_path, monkeypatch):
    """Composed lifecycle (r8 VERDICT #7): a corpus rewrite mid-serve
    must (1) leave an in-flight reader of the OLD index unaffected
    (snapshot isolation: its root directory is immutable once
    committed), (2) route the next ensure() to a FRESH root and build
    it, and (3) let vacuum_stale reclaim the abandoned root afterwards
    without touching the live one."""
    import time

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()

    corpus = tmp_path / "sf"
    corpus.mkdir()
    src = os.path.join(SF, "embeddings.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, corpus / "embeddings.parquet")
    else:
        shutil.copy(src, corpus / "embeddings.parquet")
    sf_dir = str(corpus)

    # serve v1 and keep the OLD reader's lineage alive
    old_root = vq._ensure_ivft_index(spark, sf_dir)
    old_reader = ann_index.read_artifact(spark, old_root, "codes")
    before = sorted(tuple(r) for r in old_reader.collect())

    # corpus rewrite mid-serve (touch = new content identity)
    os.utime(corpus / "embeddings.parquet")
    new_root = vq._ensure_ivft_index(spark, sf_dir)
    assert new_root != old_root
    assert store.is_store(new_root)

    # the old reader still answers, identically — nothing mutated its root
    assert sorted(tuple(r) for r in old_reader.collect()) == before
    assert store.is_store(old_root)

    # age out ONLY the abandoned root: backdate it, vacuum, live survives
    manifest = os.path.join(old_root, store.MANIFEST_FILE)
    past = time.time() - 10 * 86400
    os.utime(manifest, (past, past))
    removed = ann_index.vacuum_stale(ttl_seconds=86400)
    assert old_root in removed
    assert not os.path.exists(old_root)
    assert store.is_store(new_root)

    # the fresh root serves the same logical answers (same corpus bytes)
    new_rows = sorted(
        tuple(r)
        for r in ann_index.read_artifact(spark, new_root, "codes").collect()
    )
    assert new_rows == before


def test_append_serve_grows_index_without_retrain(spark, tmp_path, monkeypatch):
    """FAISS-`add` lifecycle pins (r9): the appended index root has
    exactly two committed versions; the codebooks (coarse + books) are
    BYTE-IDENTICAL between v1 and v2 (frozen — append never retrains);
    v2's codes = v1's codes plus one row per late vector; and the
    late vectors' codes equal a from-scratch encode against the same
    frozen books (the oracle certifies this end-to-end; here it is
    pinned structurally)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    sf = SF

    root = vq._ensure_ivfpq_appended_index(spark, sf)
    versions = store._committed_versions(root)
    assert versions == [1, 2], versions

    def artifact(version, name):
        import os as _os

        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                _os.path.join(root, f"v{version:08d}", name)
            ).collect()
        )

    assert artifact(1, "coarse") == artifact(2, "coarse")
    assert artifact(1, "books") == artifact(2, "books")

    v1_codes = artifact(1, "codes")
    v2_codes = artifact(2, "codes")
    assert set(v1_codes) <= set(v2_codes)
    v1_ids = {r[0] for r in v1_codes}
    late_ids = {r[0] for r in v2_codes} - v1_ids
    assert v1_ids == set(range(vq._APPEND_CUT)) & {
        r[0] for r in v2_codes
    }
    assert all(i >= vq._APPEND_CUT for i in late_ids)

    # idempotency: a second ensure neither retrains nor re-appends
    assert vq._ensure_ivfpq_appended_index(spark, sf) == root
    assert store._committed_versions(root) == [1, 2]


def test_bucketed_refine_join_shuffles_only_the_shortlist(spark):
    """The refine stage's deployment claim, proven on the physical plan
    (r9, NEXT headroom #1): against a vec_id-bucketed corpus, the
    exact-refine join's CORPUS side reads its buckets in place — the
    joined plan adds exactly ONE Exchange over the shortlist plan's own
    (re-keying the tiny shortlist to vec_id), never a corpus shuffle.
    Unbucketed local parquet made the 400k refine scan-bound (1.69 s,
    BASELINE.md r9); this is the layout that removes that term."""
    import re as _re

    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    # a previous session's warehouse dir survives while the catalog
    # entry does not (fresh metastore) — overwrite then hits
    # LOCATION_ALREADY_EXISTS; clear both sides first
    spark.sql("DROP TABLE IF EXISTS ann_refine_corpus")
    wh = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        "ann_refine_corpus",
    )
    if os.path.isdir(wh):
        shutil.rmtree(wh, ignore_errors=True)
    load_table(spark, SF, "embeddings").write.mode("overwrite").bucketBy(
        16, "vec_id"
    ).sortBy("vec_id").saveAsTable("ann_refine_corpus")

    short = vq._ivfpq_serve_lean_impl(
        spark, SF, True, vq._PQ_COS_M, topk=vq._RR_SHORTLIST
    ).select("query_id", F.col("neighbor_id").alias("vec_id"))

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        return len(_re.findall(r"\bExchange hashpartitioning", plan)), plan

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        n_short, _ = n_exchanges(short)
        joined = spark.table("ann_refine_corpus").join(short, "vec_id")
        n_joined, plan = n_exchanges(joined)
        assert "SortMergeJoin" in plan, plan
        assert n_joined == n_short + 1, (n_short, n_joined, plan)
        assert "SelectedBucketsCount" in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)
        )


def test_multi_generation_append_chain(spark, tmp_path, monkeypatch):
    """Production ingest calls the append per delta batch: chain THREE
    generations on one root (train on [0,100), append [100,300), then
    [300,...)), and pin that (1) versions accumulate [1,2,3], (2) the
    codebooks never move across the whole chain, (3) the final codes
    equal the entry's single-append v2 codes exactly (two appends of a
    partition == one append of their union — the union is associative
    because encode is per-row against frozen literals), and (4)
    store.vacuum with retention keeps the chain serveable while
    reclaiming the oldest generation."""
    import os as _os

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()

    # reference: the entry's own two-version lifecycle (v2 = all codes)
    ref_root = vq._ensure_ivfpq_appended_index(spark, SF)
    ref_codes = sorted(
        tuple(r)
        for r in spark.read.parquet(
            _os.path.join(store.resolve(ref_root), "codes")
        ).collect()
    )

    # chained: same v1, two partial append generations
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx2"))
    chain_root = None
    # build v1 only: run ensure but stop it appending by pre-claiming —
    # simpler: call ensure on a FRESH base dir, then vacuum v2 away is
    # not possible (manifest points at v2); instead build v1 via the
    # same ensure and chain on TOP of its v2 with a disjoint split:
    # v3 = re-encode of [100,300) ∪ [300,..) is idempotent against v2,
    # so instead chain from scratch with partial generations.
    from projekt_data_engineering_iubh_spark.pipeline import ann_index as ai

    # v1: train+encode [0,100) — reuse the entry's build via ensure()
    # with the append suppressed by monkeypatching the generation call
    called = {}
    real_gen = vq.ivfpq_append_generation
    monkeypatch.setattr(
        vq, "ivfpq_append_generation",
        lambda *a, **kw: called.setdefault("skip", True),
    )
    chain_root = vq._ensure_ivfpq_appended_index(spark, SF)
    monkeypatch.setattr(vq, "ivfpq_append_generation", real_gen)
    assert store._committed_versions(chain_root) == [1]

    real_gen(spark, SF, chain_root, lo=100, hi=300)
    assert store._committed_versions(chain_root) == [1, 2]
    real_gen(spark, SF, chain_root, lo=300)
    assert store._committed_versions(chain_root) == [1, 2, 3]

    def artifact(name):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                _os.path.join(store.resolve(chain_root), name)
            ).collect()
        )

    chain_codes = artifact("codes")
    assert chain_codes == ref_codes  # two partial appends == one full

    # codebooks frozen across every generation
    for v in (1, 2, 3):
        books_v = sorted(
            tuple(r)
            for r in spark.read.parquet(
                _os.path.join(chain_root, f"v{v:08d}", "books")
            ).collect()
        )
        if v == 1:
            books1 = books_v
        else:
            assert books_v == books1

    # vacuum with retention: v1 reclaimed, current chain serveable
    removed = store.vacuum(chain_root, keep=2)
    assert any("v00000001" in r for r in removed), removed
    assert artifact("codes") == ref_codes
    assert not _os.path.isdir(_os.path.join(chain_root, "v00000001"))


def test_quantize_zero_norm_vector_is_all_zero_codes_both_engines(spark):
    """ADVICE r9: x/0 is NULL in Spark but engine-version-dependent in
    DuckDB (NULL or inf) — a zero embedding silently dropped out of the
    index on one engine only. greatest(norm, 1e-30) pins BOTH engines to
    the exact all-zeros code (every element of a zero-norm vector is 0,
    so 0/eps quantizes to 0 bit-identically)."""
    import duckdb
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.operators import kmeans as km

    df = spark.createDataFrame(
        [(0, [0.0] * vq.EMB_DIM), (1, [0.5] * vq.EMB_DIM)],
        "vec_id int, embedding array<float>",
    ).select(
        "vec_id", km.quantize_normalized(F.col("embedding")).alias("q")
    )
    rows = {r.vec_id: list(r.q) for r in df.collect()}
    assert rows[0] == [0] * vq.EMB_DIM  # no NULLs, no silent drop
    assert all(v is not None for v in rows[1])

    con = duckdb.connect()
    try:
        expr = km.quantize_normalized_sql("embedding")
        zeros = ", ".join(["0.0"] * vq.EMB_DIM)
        (dq,) = con.execute(
            f"SELECT {expr} FROM (SELECT [{zeros}]::FLOAT[] AS embedding)"
        ).fetchone()
        assert list(dq) == [0] * vq.EMB_DIM
    finally:
        con.close()


def test_append_retries_through_commit_conflict(spark, tmp_path, monkeypatch):
    """ADVICE r9 (high): losing the snapshot CAS must NOT lose the
    batch's vectors — foreachBatch checkpoints the trigger as done, so a
    swallowed CommitConflict is permanent data loss. Simulate a
    concurrent appender winning mid-commit: the first commit attempt
    sees a competing generation land and raises CommitConflict; the
    append must re-resolve the WINNER's snapshot, anti-join away what
    the winner already encoded, and commit the remainder — final codes
    equal the full single-append reference, nothing lost, nothing
    duplicated."""
    import os as _os

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    ref_root = vq._ensure_ivfpq_appended_index(spark, SF)
    ref_codes = sorted(
        tuple(r)
        for r in spark.read.parquet(
            _os.path.join(store.resolve(ref_root), "codes")
        ).collect()
    )

    # fresh root at v1 only (suppress the entry's own append)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx2"))
    real_gen = vq.ivfpq_append_generation
    monkeypatch.setattr(vq, "ivfpq_append_generation", lambda *a, **k: None)
    root = vq._ensure_ivfpq_appended_index(spark, SF)
    monkeypatch.setattr(vq, "ivfpq_append_generation", real_gen)
    assert store._committed_versions(root) == [1]

    real_commit = store.commit_snapshot
    state = {"conflicted": False}

    def racing_commit(r, build):
        if not state["conflicted"]:
            state["conflicted"] = True
            # the concurrent winner lands [100, 200) first (its own
            # commit passes through — the flag is already set) ...
            real_gen(spark, SF, r, lo=100, hi=200)
            # ... and our CAS loses
            raise store.CommitConflict("simulated lost CAS")
        return real_commit(r, build)

    monkeypatch.setattr(store, "commit_snapshot", racing_commit)
    try:
        assert real_gen(spark, SF, root, lo=100) is True
    finally:
        monkeypatch.setattr(store, "commit_snapshot", real_commit)

    # winner's v2 + our retried v3; union == the one-shot reference
    assert store._committed_versions(root) == [1, 2, 3]
    codes = sorted(
        tuple(r)
        for r in spark.read.parquet(
            _os.path.join(store.resolve(root), "codes")
        ).collect()
    )
    assert codes == ref_codes
    ids = [c[0] for c in codes]
    assert len(ids) == len(set(ids))


def test_append_delta_dedups_within_one_batch(spark, tmp_path, monkeypatch):
    """ADVICE r9: two dropped files overlapping in ONE trigger deliver
    the same vec_id twice inside a single delta; the anti-join only
    guards against already-COMMITTED ids, so both rows used to survive
    and commit duplicate code rows. The delta is deduped on vec_id
    before the anti-join."""
    import os as _os

    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    real_gen = vq.ivfpq_append_generation
    monkeypatch.setattr(vq, "ivfpq_append_generation", lambda *a, **k: None)
    root = vq._ensure_ivfpq_appended_index(spark, SF)
    monkeypatch.setattr(vq, "ivfpq_append_generation", real_gen)

    late = (
        load_table(spark, SF, "embeddings")
        .filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
        .select("vec_id", "embedding")
    )
    doubled = late.unionByName(late)  # overlapping files, one trigger
    assert real_gen(spark, SF, root, vectors=doubled) is True
    ids = [
        r.vec_id
        for r in spark.read.parquet(
            _os.path.join(store.resolve(root), "codes")
        )
        .select("vec_id")
        .collect()
    ]
    assert len(ids) == len(set(ids))
    assert sorted(i for i in ids if i >= 100) == list(range(100, 150))


def test_append_refuses_raw_metric_roots(spark, tmp_path, monkeypatch):
    """ADVICE r9: appending to a root built with another geometry or
    metric used to corrupt codes SILENTLY (books rows only fill m<4,
    argmin over empty codebooks). The meta artifact makes it loud: the
    raw (unnormalized) M=4 root is refused with a clear error, as is any
    legacy root without a meta artifact."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    raw_root = vq._ensure_ivfpq_index(spark, SF, normalized=False)
    with pytest.raises(ValueError, match="not an appendable"):
        vq.ivfpq_append_generation(spark, SF, raw_root, lo=100)


def test_append_derives_geometry_from_meta(spark, tmp_path, monkeypatch):
    """A normalized root built with a DIFFERENT geometry than the
    module's cosine default (M=4 vs _PQ_COS_M=16) appends correctly:
    the encoder reads (pq_m, pq_codes) from the snapshot's meta, not
    from the hard-coded constants — fresh vectors land as 4-subspace
    codes with no empty-codebook argmin."""
    import os as _os

    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    root = vq._ensure_ivfpq_index(spark, SF, normalized=True, pq_m=4)
    fresh = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id") < 20)
        .select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    )
    assert vq.ivfpq_append_generation(spark, SF, root, vectors=fresh) is True
    codes = spark.read.parquet(_os.path.join(store.resolve(root), "codes"))
    assert "c3" in codes.columns and "c4" not in codes.columns
    new = codes.filter(codes.vec_id >= 10_000_000).collect()
    assert len(new) == 20
    for r in new:
        assert all(
            getattr(r, f"c{m}") is not None for m in range(4)
        ), r


def test_delete_readd_compact_lifecycle(spark, tmp_path, monkeypatch):
    """The full FAISS remove_ids lifecycle over the snapshot store
    (r10): (1) a delete generation tombstones keys WITHOUT touching any
    code row (codes byte-identical across the delete commit, tombstones
    artifact appears); (2) serve excludes tombstoned ids the moment the
    version commits while a reader holding the PRIOR version still sees
    them (snapshot isolation); (3) re-appending a tombstoned id
    RESURRECTS it (tombstone dropped, code row refreshed — FAISS
    remove_ids then add); (4) compaction folds tombstones into a clean
    full snapshot whose serving view is unchanged; (5) deleting unknown
    or already-dead keys commits NOTHING (idempotent under replay)."""
    import os as _os

    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    root = vq._ensure_ivfpq_appended_index(spark, SF)  # v1 + v2 (all codes)
    v2 = store.resolve(root)

    def codes_rows(snap):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(_os.path.join(snap, "codes")).collect()
        )

    def live_ids(snap):
        return {r.vec_id for r in vq.read_live_codes(spark, snap).collect()}

    all_rows = codes_rows(v2)
    all_ids = {r[0] for r in all_rows}
    dead = sorted(all_ids)[50:150:2]  # spans train + appended generations

    # (1) delete generation: codes untouched, tombstones appear
    keys = spark.createDataFrame([(i,) for i in dead], "vec_id long")
    assert vq.ivfpq_delete_generation(spark, root, keys) is True
    v3 = store.resolve(root)
    assert v3 != v2
    assert codes_rows(v3) == all_rows  # no code row rewritten
    assert live_ids(v3) == all_ids - set(dead)
    # (2) snapshot isolation: the in-flight v2 reader still sees them
    assert live_ids(v2) == all_ids

    # (5) idempotency: unknown + already-dead keys commit nothing
    again = spark.createDataFrame(
        [(dead[0],), (10_000_000,)], "vec_id long"
    )
    assert vq.ivfpq_delete_generation(spark, root, again) is False
    assert store.resolve(root) == v3

    # (3) re-add resurrects: append the first 5 dead ids again
    readd = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id").isin([int(i) for i in dead[:5]]))
        .select("vec_id", "embedding")
    )
    assert vq.ivfpq_append_generation(spark, None, root, vectors=readd) is True
    v4 = store.resolve(root)
    assert live_ids(v4) == all_ids - set(dead[5:])
    # resurrected codes equal their original encode (frozen books)
    orig = {r[0]: r for r in all_rows}
    for r in codes_rows(v4):
        if r[0] in set(dead[:5]):
            assert r == orig[r[0]]
    # no duplicate rows
    v4_ids = [r[0] for r in codes_rows(v4)]
    assert len(v4_ids) == len(set(v4_ids))

    # (4) compact: tombstones folded away, serving view unchanged
    before = live_ids(v4)
    assert vq.ivfpq_compact(spark, root) is True
    v5 = store.resolve(root)
    assert not _os.path.isdir(_os.path.join(v5, "tombstones"))
    assert {r[0] for r in codes_rows(v5)} == before
    assert live_ids(v5) == before
    # compacting a compact index is a no-op
    assert vq.ivfpq_compact(spark, root) is False
    assert store.resolve(root) == v5


def _inodes(d):
    return {
        os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    }


def test_generation_commits_are_o_delta_hardlinks(spark, tmp_path, monkeypatch):
    """r10: snapshot generations must publish as hardlinks + appended
    delta part-files, never a full codes rewrite — at 100 TB a
    per-trigger O(corpus) write is the difference between an ingest tier
    and a nightly batch job. Pins: (1) an append's new codes dir SHARES
    every previous part-file inode and adds delta files; (2) a delete's
    codes dir is inode-identical (no code byte moved) and its tombstones
    dir links prior generations' key files; (3) compact(force=True) with
    zero tombstones collapses the accumulated small files into a fresh
    write (no shared inodes) with identical content."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    root = vq._ensure_ivfpq_appended_index(spark, SF)  # v1 + v2

    v2 = store.resolve(root)
    v2_inodes = _inodes(os.path.join(v2, "codes"))

    # (1) append generation: old part-files linked, delta appended
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    top = emb.agg(F.max("vec_id")).collect()[0][0]
    fresh = emb.limit(3).select(
        (F.col("vec_id") + top + 1).alias("vec_id"), "embedding"
    )
    assert vq.ivfpq_append_generation(spark, None, root, vectors=fresh)
    v3 = store.resolve(root)
    v3_inodes = _inodes(os.path.join(v3, "codes"))
    assert v2_inodes <= v3_inodes, "append rewrote existing codes files"
    assert len(v3_inodes) > len(v2_inodes), "append added no delta file"
    for name in ("coarse", "books", "meta"):
        assert _inodes(os.path.join(v3, name)) == _inodes(
            os.path.join(v2, name)
        ), name

    # (2) delete generation: codes inode-identical, tombstones linked
    dead = spark.createDataFrame([(0,), (2,)], "vec_id long")
    assert vq.ivfpq_delete_generation(spark, root, dead)
    v4 = store.resolve(root)
    assert _inodes(os.path.join(v4, "codes")) == v3_inodes
    t4 = _inodes(os.path.join(v4, "tombstones"))
    more = spark.createDataFrame([(4,)], "vec_id long")
    assert vq.ivfpq_delete_generation(spark, root, more)
    v5 = store.resolve(root)
    assert t4 <= _inodes(os.path.join(v5, "tombstones"))
    assert _inodes(os.path.join(v5, "codes")) == v3_inodes

    # (3) force-compact with no tombstones: small files collapse
    assert vq.ivfpq_compact(spark, root)  # folds the tombstones first
    v6 = store.resolve(root)
    assert vq.ivfpq_compact(spark, root) is False  # nothing to fold
    before = _rows(spark.read.parquet(os.path.join(v6, "codes")))
    assert vq.ivfpq_compact(spark, root, force=True)
    v7 = store.resolve(root)
    assert _rows(spark.read.parquet(os.path.join(v7, "codes"))) == before
    assert not (_inodes(os.path.join(v7, "codes")) & v3_inodes)


def _part_files(d):
    return [f for f in os.listdir(d) if not f.startswith(("_", "."))]


def test_delta_file_growth_is_bounded(spark, tmp_path, monkeypatch):
    """r11 (ADVICE): file-count growth of the O(delta) generations is
    BOUNDED — (1) one append trigger adds exactly ONE codes part-file
    (the delta is coalesced before the append write; without it a
    32-partition micro-batch adds up to 32 files per trigger and the
    'grows by one per trigger' compaction story is off by cpus);
    (2) frequent small delete generations fold the (tiny) tombstone key
    set into one rewrite once the linked dir crosses the threshold, so
    tombstone file count stays <= _TOMBSTONE_FOLD_FILES instead of
    growing one file per takedown trigger forever."""
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    vq._IVFPQ_CLIENT_CACHE.clear()
    root = vq._ensure_ivfpq_appended_index(spark, SF)  # v1 + v2

    emb = load_table(spark, SF, "embeddings")
    top = emb.agg(F.max("vec_id")).collect()[0][0]

    # (1) a many-partition delta still lands as ONE appended part-file
    before = _part_files(os.path.join(store.resolve(root), "codes"))
    fresh = (
        emb.limit(8)
        .select((F.col("vec_id") + top + 1).alias("vec_id"), "embedding")
        .repartition(8)
    )
    assert vq.ivfpq_append_generation(spark, None, root, vectors=fresh)
    after = _part_files(os.path.join(store.resolve(root), "codes"))
    assert len(after) == len(before) + 1

    # (2) tombstone generations fold at the threshold
    live = sorted(
        r.vec_id
        for r in vq.read_live_codes(spark, store.resolve(root)).collect()
    )
    n_gens = vq._TOMBSTONE_FOLD_FILES + 3
    for i in range(n_gens):
        keys = spark.createDataFrame([(int(live[i]),)], "vec_id long")
        assert vq.ivfpq_delete_generation(spark, root, keys)
        n_tomb = len(
            _part_files(os.path.join(store.resolve(root), "tombstones"))
        )
        assert n_tomb <= vq._TOMBSTONE_FOLD_FILES, (
            f"gen {i}: {n_tomb} tombstone files"
        )
    # every deleted key is still dead after the folds
    final = store.resolve(root)
    dead_now = {
        r.vec_id
        for r in spark.read.parquet(
            os.path.join(final, "tombstones")
        ).collect()
    }
    assert set(live[:n_gens]) <= dead_now


def test_routed_append_is_o_delta_with_frozen_router(
    spark, tmp_path, monkeypatch
):
    """r11 routed-root append (#159): (1) the two-version lifecycle
    commits the even half as ONE appended part-file with every v1 codes
    part-file HARDLINKED (same inode — O(delta) commit, the #150
    publish discipline on the router tier); (2) the router artifacts
    are linked too, never rewritten — one router in the root's lineage
    BY CONSTRUCTION; (3) a replayed append of the same vectors commits
    nothing (exactly-once under foreachBatch replay)."""
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    root = vq._ensure_ivfr_appended_index(spark, SF)
    assert store.current_version(root) == 2
    cur = store.resolve(root)
    versions = sorted(
        d for d in os.listdir(root) if d.startswith("v") and d[1:].isdigit()
    )
    assert len(versions) == 2
    v1_dir = os.path.join(root, versions[0])

    # (1) codes: v2 = hardlinks of v1's part-files + exactly one delta
    c1, c2 = os.path.join(v1_dir, "codes"), os.path.join(cur, "codes")
    f1, f2 = _part_files(c1), _part_files(c2)
    assert len(f2) == len(f1) + 1
    for name in f1:
        assert name in f2
        assert (
            os.stat(os.path.join(c1, name)).st_ino
            == os.stat(os.path.join(c2, name)).st_ino
        ), name

    # (2) router artifacts linked across versions
    for art in ("supers", "cent_super", "centroids"):
        d1, d2 = os.path.join(v1_dir, art), os.path.join(cur, art)
        a1, a2 = _part_files(d1), _part_files(d2)
        assert a1 == a2, art
        for name in a1:
            assert (
                os.stat(os.path.join(d1, name)).st_ino
                == os.stat(os.path.join(d2, name)).st_ino
            ), art

    # (3) replay: same even vectors -> empty delta -> no commit
    late = load_table(spark, SF, "embeddings").filter(
        F.col("vec_id") % 2 == 0
    )
    assert not vq.ivfr_append_generation(spark, SF, root, vectors=late)
    assert store.current_version(root) == 2

    # the grown index covers the whole corpus, one code row per vector
    n = load_table(spark, SF, "embeddings").count()
    assert (
        spark.read.parquet(os.path.join(cur, "codes")).count() == n
    )


def test_routed_compact_folds_small_files_router_intact(
    spark, tmp_path, monkeypatch
):
    """ivfr_compact: after a chain of O(delta) appends the codes dir
    holds one file per trigger; compaction folds them into a BOUNDED
    count (sized from bytes, not source file count), the router
    artifacts stay hardlinked (immutable across the lineage), the
    row set is unchanged, and an already-compact root is a no-op."""
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    root = vq._ensure_ivfr_appended_index(spark, SF)
    emb = load_table(spark, SF, "embeddings")
    top = emb.agg(F.max("vec_id")).collect()[0][0]
    for i in range(3):  # three more append generations
        fresh = emb.limit(4).select(
            (F.col("vec_id") + top + 1 + 10 * i).alias("vec_id"),
            "embedding",
        )
        assert vq.ivfr_append_generation(spark, SF, root, vectors=fresh)
    cur = store.resolve(root)
    before_files = _part_files(os.path.join(cur, "codes"))
    assert len(before_files) >= 4
    before_rows = spark.read.parquet(os.path.join(cur, "codes")).count()
    sup_ino = {
        f: os.stat(os.path.join(cur, "supers", f)).st_ino
        for f in _part_files(os.path.join(cur, "supers"))
    }

    assert vq.ivfr_compact(spark, root)
    cur2 = store.resolve(root)
    after_files = _part_files(os.path.join(cur2, "codes"))
    assert len(after_files) == 1  # tiny corpus: one ~128 MiB bucket
    assert (
        spark.read.parquet(os.path.join(cur2, "codes")).count()
        == before_rows
    )
    for f, ino in sup_ino.items():
        assert os.stat(os.path.join(cur2, "supers", f)).st_ino == ino

    assert not vq.ivfr_compact(spark, root)  # already compact: no-op


def test_routed_delete_readd_compact_lifecycle(spark, tmp_path, monkeypatch):
    """The FAISS remove_ids lifecycle on the ROUTED tier (r12 — before
    this, a takedown against a routed root meant a full rebuild):
    (1) ivfr_delete_generation tombstones keys WITHOUT touching any code
    row (codes byte-identical across the commit, tombstones artifact
    appears, router artifacts hardlinked); (2) the routed serving view
    (read_live_codes) excludes tombstoned ids the moment the version
    commits while a reader holding the PRIOR version still sees them;
    (3) re-appending a tombstoned id RESURRECTS it through the FROZEN
    router (tombstone dropped, code row identical to its original
    routing); (4) ivfr_compact folds tombstones into a clean snapshot
    with an unchanged serving view; (5) unknown/already-dead keys
    commit NOTHING (idempotent under replay)."""
    import os as _os

    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    root = vq._ensure_ivfr_appended_index(spark, SF)  # v1 + v2 (all codes)
    v2 = store.resolve(root)

    def codes_rows(snap):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(_os.path.join(snap, "codes")).collect()
        )

    def live_ids(snap):
        return {r.vec_id for r in vq.read_live_codes(spark, snap).collect()}

    all_rows = codes_rows(v2)
    all_ids = {r[0] for r in all_rows}
    dead = sorted(all_ids)[40:120:2]  # spans trained + appended halves

    # (1) delete generation: codes untouched, tombstones appear,
    # router artifacts inode-identical (nothing rewritten)
    keys = spark.createDataFrame([(i,) for i in dead], "vec_id long")
    assert vq.ivfr_delete_generation(spark, root, keys) is True
    v3 = store.resolve(root)
    assert v3 != v2
    assert codes_rows(v3) == all_rows  # no code row rewritten
    assert live_ids(v3) == all_ids - set(dead)
    for art in ("supers", "cent_super", "centroids", "codes"):
        assert _inodes(_os.path.join(v2, art)) <= _inodes(
            _os.path.join(v3, art)
        ), art
    # (2) snapshot isolation: the in-flight v2 reader still sees them
    assert live_ids(v2) == all_ids

    # (5) idempotency: unknown + already-dead keys commit nothing
    again = spark.createDataFrame([(dead[0],), (10_000_000,)], "vec_id long")
    assert vq.ivfr_delete_generation(spark, root, again) is False
    assert store.resolve(root) == v3

    # (3) re-add resurrects through the frozen router
    readd = (
        load_table(spark, SF, "embeddings")
        .filter(F.col("vec_id").isin([int(i) for i in dead[:5]]))
        .select("vec_id", "embedding")
    )
    assert vq.ivfr_append_generation(spark, None, root, vectors=readd) is True
    v4 = store.resolve(root)
    assert live_ids(v4) == all_ids - set(dead[5:])
    orig = {r[0]: r for r in all_rows}
    for r in codes_rows(v4):
        if r[0] in set(dead[:5]):
            assert r == orig[r[0]]  # frozen router: same cell as before
    v4_ids = [r[0] for r in codes_rows(v4)]
    assert len(v4_ids) == len(set(v4_ids))  # no duplicate rows

    # (4) compact: tombstones folded away, serving view unchanged
    before = live_ids(v4)
    assert vq.ivfr_compact(spark, root) is True
    v5 = store.resolve(root)
    assert not _os.path.isdir(_os.path.join(v5, "tombstones"))
    assert {r[0] for r in codes_rows(v5)} == before
    assert live_ids(v5) == before
    # compacting a compact root is a no-op
    assert vq.ivfr_compact(spark, root) is False
    assert store.resolve(root) == v5


def test_delete_generation_dispatches_by_root_kind(
    spark, tmp_path, monkeypatch
):
    """vq.delete_generation (the takedown stream's entry point) must
    pick the tier from the stored artifacts: a routed root gets a
    tombstone generation with its router hardlinked; the same call
    shape works against an IVF-PQ root (covered live by the delete
    stream test) — here we pin the routed branch specifically."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    root = vq._ensure_ivfr_appended_index(spark, SF)
    cur = store.resolve(root)
    some = spark.read.parquet(os.path.join(cur, "codes")).limit(7)
    assert vq.delete_generation(spark, root, some.select("vec_id")) is True
    cur2 = store.resolve(root)
    assert os.path.isdir(os.path.join(cur2, "tombstones"))
    dead = {r.vec_id for r in some.collect()}
    live = {
        r.vec_id for r in vq.read_live_codes(spark, cur2).collect()
    }
    assert dead.isdisjoint(live)
