"""Incremental transitive-cluster maintenance (r4 VERDICT #3).

The critical case: a NEW doc that bridges two existing near-dup clusters
must merge them in the persisted cluster map — and the post-ingest map
must equal a from-scratch run of the registered ``docs_dedup_clusters``
query on the union corpus (same min-representative convention).

Fixture texts are deterministic: the bridge doc X concatenates the two
cluster cores A and B, and the token sets were searched offline (under
the engine's exact md5/universal-hash constants) so that X's signature
agrees with A's on ≥ 8 of 16 slots including one full band AND with B's
likewise, while A and B share neither (est 0, no common band). That
makes X a ≥ 0.5-est LSH candidate of both clusters and the clusters
non-candidates of each other — the bridge shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.pipeline import cluster_index as ci

# offline-searched token cores (see module docstring)
_A = "word56 word235 word34 word177 word427 word446 word83 word488"
_B = "word107 word372 word292 word460 word475 word444 word47 word11"

CORPUS = [
    (1, _A, "en", "src0"),
    (2, _A + " extraalpha", "en", "src0"),  # near-dup of 1
    (10, _B, "en", "src0"),
    (11, _B + " extrabeta", "en", "src0"),  # near-dup of 10
    (20, "completely unrelated content about warehouse machinery logs", "en", "src0"),
    (21, "tiny", "en", "src0"),  # <3 tokens: sentinel, always a singleton
]
BRIDGE = [(30, _A + " " + _B, "en", "batch1")]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("clidx") / "index")
    ci.init_cluster_index(spark, _docs(spark, CORPUS), root)
    return root


def test_init_builds_expected_clusters(spark, index_root):
    got = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, index_root).collect()
    }
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 20: 20, 21: 21}


def test_bridge_batch_merges_two_clusters(spark, index_root):
    new_map = ci.ingest_batch(spark, _docs(spark, BRIDGE), index_root)
    got = {r.doc_id: r.cluster_id for r in new_map.collect()}
    # doc 30 bridges {1,2} and {10,11}: ONE merged cluster labeled by the
    # global minimum member (1); untouched clusters keep their labels
    assert got == {1: 1, 2: 1, 10: 1, 11: 1, 30: 1, 20: 20, 21: 21}
    # and the persisted map agrees with what was returned
    persisted = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, index_root).collect()
    }
    assert persisted == got


def test_post_ingest_map_equals_from_scratch_clusters(
    spark, index_root, tmp_path
):
    """The done-criterion: incremental map == the registered
    docs_dedup_clusters query run from scratch on the union corpus."""
    import os

    from projekt_data_engineering_iubh_spark.plans.text_queries import (
        docs_dedup_clusters,
    )

    union_dir = str(tmp_path / "union")
    os.makedirs(union_dir, exist_ok=True)
    _docs(spark, CORPUS + BRIDGE).write.mode("overwrite").parquet(
        os.path.join(union_dir, "documents.parquet")
    )
    scratch = {
        r.doc_id: r.cluster_id
        for r in docs_dedup_clusters(spark, union_dir).collect()
    }
    incremental = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, index_root).collect()
    }
    assert incremental == scratch


def test_followup_batch_sees_merged_cluster(spark, index_root):
    """A later doc matching either old cluster's content lands in the
    MERGED cluster (the index's band rows + relabeled map serve it)."""
    new_map = ci.ingest_batch(
        spark, _docs(spark, [(40, _B + " extrabeta", "en", "batch2")]),
        index_root,
    )
    got = {r.doc_id: r.cluster_id for r in new_map.collect()}
    assert got[40] == 1  # matched b-side content -> merged cluster label
    # singleton + sentinel still untouched
    assert got[20] == 20 and got[21] == 21


def test_cluster_map_commits_are_versioned(spark, index_root):
    """Review fix: the map persists through the snapshot store — every
    ingest is an atomic manifest commit (no torn reads), and prior maps
    stay time-travelable until vacuum."""
    from projekt_data_engineering_iubh_spark.pipeline import store

    clusters_dir = ci._clusters_dir(index_root)
    assert store.is_store(clusters_dir)
    # module fixture ran init + two ingests by the time this test runs
    assert store.current_version(clusters_dir) >= 3
    v1 = store.read(spark, clusters_dir, version=1)
    assert {r.doc_id for r in v1.collect()} == {1, 2, 10, 11, 20, 21}


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_randomized_ingest_equals_from_scratch(spark, tmp_path, seed):
    """Randomized equivalence: for seeded random corpora with planted
    near-dup groups, bridges, and novel docs split across init + TWO
    ingest batches, the incremental map must equal a from-scratch CC over
    the union's band graph (same machinery, same tau) — the general form
    of the deterministic bridge test."""
    import random

    from projekt_data_engineering_iubh_spark.operators.connected_components import (
        connected_components,
    )
    from projekt_data_engineering_iubh_spark.operators.minhash import (
        band_rows,
        signatures as signatures_from,
    )

    rng = random.Random(seed)
    pool = [f"w{seed}x{i}" for i in range(400)]
    bases = [" ".join(rng.sample(pool, 8)) for _ in range(6)]

    def member(gid, i):
        return bases[gid] + f" uniq{gid}x{i}"

    rows, next_id = [], 0

    def add(text):
        nonlocal next_id
        rows.append((next_id, text, "en", "gen"))
        next_id += 1

    for g in range(6):
        for i in range(rng.randint(1, 3)):
            add(member(g, i))
    for _ in range(4):
        add(" ".join(rng.sample(pool, 7)))  # novel singletons
    n_corpus = next_id
    # batches: more members, bridges (concat of two bases), novelties
    for _ in range(3):
        g = rng.randrange(6)
        add(member(g, 90 + rng.randrange(100)))
    g1, g2 = rng.sample(range(6), 2)
    add(bases[g1] + " " + bases[g2])  # bridge
    add(" ".join(rng.sample(pool, 7)))
    n_b1 = next_id
    for _ in range(2):
        g = rng.randrange(6)
        add(member(g, 200 + rng.randrange(100)))
    g3, g4 = rng.sample(range(6), 2)
    add(bases[g3] + " " + bases[g4])  # second bridge
    n_b2 = next_id

    corpus = _docs(spark, rows[:n_corpus])
    b1 = _docs(spark, rows[n_corpus:n_b1])
    b2 = _docs(spark, rows[n_b1:n_b2])

    root = str(tmp_path / f"ridx{seed}")
    ci.init_cluster_index(spark, corpus, root)
    ci.ingest_batch(spark, b1, root)
    ci.ingest_batch(spark, b2, root)
    incremental = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, root).collect()
    }

    union = _docs(spark, rows)
    scratch_comp = connected_components(
        union.select("doc_id"),
        ci._pairs_within(band_rows(signatures_from(union)), ci.DEFAULT_TAU),
        id_col="doc_id",
        src_col="src",
        dst_col="dst",
        component_col="cluster_id",
    )
    scratch = {r.doc_id: r.cluster_id for r in scratch_comp.collect()}
    assert incremental == scratch


def test_maintain_dedups_bands_and_vacuums_map(spark, tmp_path):
    """Upkeep: duplicate band rows from a crash-retry re-append are
    compacted away; superseded map snapshots are vacuumed; matching
    still works afterwards."""
    root = str(tmp_path / "maintidx")
    corpus = _docs(spark, CORPUS)
    ci.init_cluster_index(spark, corpus, root)
    b1 = _docs(spark, BRIDGE)
    ci.ingest_batch(spark, b1, root)
    # simulate a crash-retry: re-append the batch's OWN band rows (a
    # retried ingest_batch writes byte-identical ranked rows — r6: the
    # index schema carries rn, so the duplicates must too; appending
    # rank-less rows would be a corrupted index, not a crash artifact)
    dup_rows = (
        spark.read.parquet(ci._bands_dir(root))
        .join(b1.select("doc_id"), "doc_id", "left_semi")
        .localCheckpoint(eager=True)  # snapshot before appending to source
    )
    dup_rows.write.mode("append").parquet(ci._bands_dir(root))
    ci.ingest_batch(
        spark, _docs(spark, [(40, _B + " extrabeta", "en", "b2")]), root
    )

    stats = ci.maintain(spark, root, keep=2)
    assert stats["band_rows_after"] < stats["band_rows_before"]
    assert stats["map_snapshots_removed"] >= 1

    # post-maintenance: the map still reads, and a new near-dup batch
    # still matches via the compacted bands
    cmap = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, root).collect()
    }
    assert cmap[40] == 1
    m2 = ci.ingest_batch(
        spark, _docs(spark, [(50, _A + " extraalpha", "en", "b3")]), root
    )
    got = {r.doc_id: r.cluster_id for r in m2.collect()}
    assert got[50] == 1


def test_streaming_processor_maintains_cluster_map(spark, tmp_path):
    """The streaming near-dup tier can maintain the cluster map per
    trigger (make_batch_processor cluster_root=...): a trigger whose doc
    bridges two existing clusters merges them, and a replayed trigger
    (foreachBatch at-least-once) leaves the map unchanged."""
    from projekt_data_engineering_iubh_spark.streaming import neardup_stream as nd

    root = str(tmp_path / "streamclusters")
    corpus = _docs(spark, CORPUS)
    ci.init_cluster_index(spark, corpus, root)
    idx = str(tmp_path / "sigidx")
    nd.build_signature_index(corpus.select("doc_id", "text"), idx)

    proc = nd.make_batch_processor(
        str(tmp_path / "out"), idx, cluster_root=root
    )
    # the curated-stream schema carries (doc_id, text, lang, source,
    # n_chars, split); build a matching static batch
    batch = _docs(spark, BRIDGE).withColumn("split", F.lit("train"))
    proc(batch, 0)
    cmap = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, root).collect()
    }
    assert cmap[1] == cmap[2] == cmap[10] == cmap[11] == cmap[30] == 1

    # replayed trigger: idempotent — same map, one row per doc
    proc(batch, 0)
    rows = ci.load_cluster_map(spark, root).collect()
    assert len(rows) == len(set(r.doc_id for r in rows))
    cmap2 = {r.doc_id: r.cluster_id for r in rows}
    assert cmap2 == cmap


def test_nonmonotone_batch_is_rejected(spark, tmp_path):
    """Exact capped parity requires append-only ids (module contract):
    a batch containing an id at or below the stored maximum raises."""
    root = str(tmp_path / "monoidx")
    ci.init_cluster_index(spark, _docs(spark, CORPUS), root)
    stale = [(5, "some entirely novel content never seen before", "en", "late")]
    with pytest.raises(ValueError, match="non-monotone"):
        ci.ingest_batch(spark, _docs(spark, stale), root)


def test_above_cap_ingest_equals_from_scratch(spark, tmp_path):
    """r5 VERDICT #3 (exact above-cap parity): the adversarial template
    cluster — every planted doc funneled into ONE band bucket per band,
    occupancy far above LSH_MAX_BUCKET — split across init + two ingest
    batches must yield EXACTLY the registered docs_dedup_clusters map of
    the union corpus. Before r6 the ingest path was only ≥-connective
    above the cap; per-bucket ranks in the band index now apply the same
    capped candidate rule incrementally."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from scale_sweep import ADV_OFFSET, plant_template_cluster

    from projekt_data_engineering_iubh_spark.catalog import load_table
    from projekt_data_engineering_iubh_spark.plans.text_queries import (
        LSH_MAX_BUCKET,
        docs_dedup_clusters,
    )

    n = 120  # planted cluster size; init slice alone exceeds the cap
    adv = str(tmp_path / "adv")
    plant_template_cluster(spark, "/root/testdata/sf0.001", adv, n)
    docs = load_table(spark, adv, "documents")

    init_hi = ADV_OFFSET + 60  # 60 planted docs in init: occupancy > cap
    b1_hi = ADV_OFFSET + 90
    assert 60 > LSH_MAX_BUCKET
    root = str(tmp_path / "advidx")
    ci.init_cluster_index(spark, docs.filter(F.col("doc_id") < init_hi), root)
    ci.ingest_batch(
        spark,
        docs.filter(
            (F.col("doc_id") >= init_hi) & (F.col("doc_id") < b1_hi)
        ),
        root,
    )
    ci.ingest_batch(spark, docs.filter(F.col("doc_id") >= b1_hi), root)

    incremental = {
        r.doc_id: r.cluster_id
        for r in ci.load_cluster_map(spark, root).collect()
    }
    scratch = {
        r.doc_id: r.cluster_id
        for r in docs_dedup_clusters(spark, adv).collect()
    }
    assert incremental == scratch
    # the parity is non-vacuous: the planted docs really did collapse
    planted = [c for d, c in scratch.items() if d >= ADV_OFFSET]
    assert len(set(planted)) < len(planted)


def test_maintain_prunes_orphan_band_rows(spark, tmp_path):
    """r6 ADVICE: a crashed, never-retried ingest appends band rows
    BEFORE the map commit — those orphan doc_ids are invisible to
    matching (cluster join drops them) but inflate later batches'
    observed bucket occupancy. maintain() must prune band rows whose
    doc_id is absent from the committed cluster map."""
    root = str(tmp_path / "orphidx")
    corpus = _docs(spark, CORPUS)
    ci.init_cluster_index(spark, corpus, root)

    # simulate the crash: band rows for doc 99 land, the map never does
    from projekt_data_engineering_iubh_spark.operators.minhash import (
        band_rows,
        signatures as signatures_from,
    )

    orphan = _docs(spark, [(99, _A + " orphantoken", "en", "crashed")])
    ob = band_rows(signatures_from(orphan)).withColumn(
        "rn", F.lit(1).cast("long")
    )
    ob.write.mode("append").parquet(ci._bands_dir(root))
    n_orphan = ob.count()
    assert n_orphan > 0

    stats = ci.maintain(spark, root, keep=2)
    assert stats["band_rows_after"] == stats["band_rows_before"] - n_orphan
    remaining = spark.read.parquet(ci._bands_dir(root))
    assert remaining.filter(F.col("doc_id") == 99).count() == 0

    # matching still works post-prune
    m = ci.ingest_batch(
        spark, _docs(spark, [(100, _A + " extraalpha", "en", "b9")]), root
    )
    got = {r.doc_id: r.cluster_id for r in m.collect()}
    assert got[100] == 1
