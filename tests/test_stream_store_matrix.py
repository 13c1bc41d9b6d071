"""ONE lifecycle contract for all four stream-maintained index stores
(r12, VERDICT r11 #5): the text signature index and the semantic vector
index (band-delta tiers, unified behind pipeline/delta_index.py) plus
the IVF-PQ codes root and the routed root (snapshot-generation tiers,
unified behind streaming/ann_ingest_stream._make_append_processor).

The r11 review found the same bootstrap bug independently on two tiers;
this matrix makes the contract a single parameterized test instead of
four hand-rolled copies. Pins, per store:

1. bootstrap → N policy-driven triggers keeps the policed file count
   bounded (the fold/compaction fires from INSIDE the trigger path) and
   every trigger's new ids land in the view;
2. replaying the last trigger (foreachBatch at-least-once) adds no new
   KEYS to the view — band tiers may land advisory duplicate files,
   which the fold dedups (asserted in 4); snapshot tiers commit nothing;
3. a restart-shaped RE-BOOTSTRAP never loses streamed rows: band tiers
   REFUSE while live delta exists (rebuilding would orphan appends),
   snapshot tiers NO-OP on an existing root (the r11 bug class);
4. after the final fold the view's keys are exactly the one-delivery
   expectation, with no duplicates;
5. (r13, VERDICT r12 #2) the DELETE leg: tombstoning the last trigger's
   doc-level ids removes exactly their keys from the view; replaying
   the delete commits nothing new; re-ingesting the same batch
   RESURRECTS the ids (the processors' resurrect path on band tiers,
   the append re-add rule on ANN tiers); the final fold returns the
   view to the one-delivery keys with no duplicates — all four stores,
   one contract.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.pipeline import (
    ann_index,
    maintenance,
    store,
)
from projekt_data_engineering_iubh_spark.streaming import (
    ann_ingest_stream as ais,
    neardup_stream as nd,
    vector_stream as vs,
)

SF = "/root/testdata/sf0.001"
N_TRIGGERS = 6
THRESHOLD = 3


def _docs(spark, lo, hi):
    # pairwise-unique docs (no near-dups), the test_ann_maintenance shape
    return spark.createDataFrame(
        [
            (
                i,
                f"unique document {i} " + " ".join(
                    f"tok{i}w{j}" for j in range(12)
                ),
                "en",
                "matrix",
                60,
                "train",
            )
            for i in range(lo, hi)
        ],
        ["doc_id", "text", "lang", "source", "n_chars", "split"],
    )


def _embs(spark, lo, hi):
    return (
        load_table(spark, SF, "embeddings")
        .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select("vec_id", "embedding")
    )


@dataclass
class Adapter:
    name: str
    bootstrap: Callable = None  # (spark, tmp) -> ctx
    batch: Callable = None  # (spark, i) -> (df, id_set) for i >= 1
    trigger: Callable = None  # (spark, ctx, df, i), policy enforced
    policed_files: Callable = None  # (ctx) -> int
    view_keys: Callable = None  # (spark, ctx) -> list of key tuples
    rebootstrap: Callable = None  # (spark, ctx) -> "refused" | "noop"
    fold: Callable = None  # (spark, ctx)
    delete: Callable = None  # (spark, ctx, ids) -> bool (tombstone ids)
    band: bool = False  # band-delta tier (advisory at-least-once delta)


def _doc_batch(spark, i):
    lo, hi = 20 + 10 * (i - 1), 20 + 10 * i
    return _docs(spark, lo, hi), set(range(lo, hi))


def _emb_batch(spark, i):
    df = _embs(spark, 100 + 30 * (i - 1), 100 + 30 * i)
    return df, {r.vec_id for r in df.select("vec_id").collect()}


def _neardup_adapter():
    ad = Adapter("neardup", band=True)
    policy = maintenance.SignatureIndexMaintenancePolicy(
        max_delta_files=THRESHOLD
    )

    def bootstrap(spark, tmp):
        idx = str(tmp / "neardup_idx")
        nd.build_signature_index(
            _docs(spark, 0, 20).select("doc_id", "text"), idx
        )
        return {"idx": idx, "tmp": tmp}

    def trigger(spark, ctx, df, i):
        nd.make_batch_processor(
            str(ctx["tmp"] / "nd_out"), ctx["idx"], policy=policy
        )(df, i)

    def rebootstrap(spark, ctx):
        try:
            nd.build_signature_index(
                _docs(spark, 0, 20).select("doc_id", "text"), ctx["idx"]
            )
        except RuntimeError:
            return "refused"
        return "rebuilt"

    ad.bootstrap = bootstrap
    ad.batch = _doc_batch
    ad.trigger = trigger
    ad.rebootstrap = rebootstrap
    ad.view_keys = lambda spark, ctx: [
        tuple(r)
        for r in nd.load_index(spark, ctx["idx"])
        .select("doc_id", "band_no")
        .collect()
    ]
    ad.fold = lambda spark, ctx: nd.compact_signature_index(
        spark, ctx["idx"]
    )
    ad.delete = lambda spark, ctx, ids: nd.delete_docs(
        spark, ctx["idx"],
        spark.createDataFrame([(i,) for i in ids], "doc_id bigint"),
    )
    return ad


def _vector_adapter():
    ad = Adapter("vector", band=True)
    policy = maintenance.SignatureIndexMaintenancePolicy(
        max_delta_files=THRESHOLD
    )

    def bootstrap(spark, tmp):
        idx = str(tmp / "vector_idx")
        vs.build_vector_index(_embs(spark, 0, 100), idx)
        return {"idx": idx, "tmp": tmp}

    def trigger(spark, ctx, df, i):
        # tau > 1: nothing can drop (cosine <= 1), so the expected key
        # set is deterministic — the matrix tests the LIFECYCLE; the
        # dedup gate has its own tests (test_vector_stream.py)
        vs.make_batch_processor(
            str(ctx["tmp"] / "vs_out"), ctx["idx"], tau=2.0, policy=policy
        )(df, i)

    def rebootstrap(spark, ctx):
        try:
            vs.build_vector_index(_embs(spark, 0, 100), ctx["idx"])
        except RuntimeError:
            return "refused"
        return "rebuilt"

    ad.bootstrap = bootstrap
    ad.batch = _emb_batch
    ad.trigger = trigger
    ad.rebootstrap = rebootstrap
    ad.view_keys = lambda spark, ctx: [
        (r.vec_id,)
        for r in vs.load_index(spark, ctx["idx"]).select("vec_id").collect()
    ]
    ad.fold = lambda spark, ctx: vs.compact_vector_index(spark, ctx["idx"])
    ad.delete = lambda spark, ctx, ids: vs.delete_vectors(
        spark, ctx["idx"],
        spark.createDataFrame([(i,) for i in ids], "vec_id bigint"),
    )
    return ad


def _band_live_files(ctx):
    from projekt_data_engineering_iubh_spark.pipeline import band_delta

    return len(band_delta.live_files(ctx["idx"]))


def _ann_adapter(name, bootstrap_fn, proc_factory, compact_fn):
    ad = Adapter(name)
    policy = maintenance.AnnMaintenancePolicy(max_codes_files=THRESHOLD)

    def bootstrap(spark, tmp):
        root = str(tmp / f"{name}_root")
        bootstrap_fn(spark, _embs(spark, 0, 100), root)
        return {"root": root}

    def trigger(spark, ctx, df, i):
        proc_factory(ctx["root"], policy)(df, i)

    def policed_files(ctx):
        d = os.path.join(store.resolve(ctx["root"]), "codes")
        return len(
            [f for f in os.listdir(d) if not f.startswith(("_", "."))]
        )

    def rebootstrap(spark, ctx):
        before = store._committed_versions(ctx["root"])
        bootstrap_fn(spark, _embs(spark, 0, 100), ctx["root"])
        assert store._committed_versions(ctx["root"]) == before
        return "noop"

    ad.bootstrap = bootstrap
    ad.batch = _emb_batch
    ad.trigger = trigger
    ad.policed_files = policed_files
    ad.rebootstrap = rebootstrap
    ad.view_keys = lambda spark, ctx: [
        (r.vec_id,)
        for r in ann_index.read_live_codes(spark, store.resolve(ctx["root"]))
        .select("vec_id")
        .collect()
    ]
    ad.fold = lambda spark, ctx: compact_fn(spark, ctx["root"])
    ad.delete = lambda spark, ctx, ids: ann_index.delete_generation(
        spark, ctx["root"],
        spark.createDataFrame([(i,) for i in ids], "vec_id bigint"),
    )
    return ad


def _adapters():
    nd_ad = _neardup_adapter()
    nd_ad.policed_files = _band_live_files
    vs_ad = _vector_adapter()
    vs_ad.policed_files = _band_live_files
    ivfpq = _ann_adapter(
        "ivfpq",
        ais.bootstrap_codes_index,
        ais.make_codes_batch_processor,
        lambda spark, root: ann_index.compact(spark, root, force=True),
    )
    routed = _ann_adapter(
        "routed",
        ais.bootstrap_routed_index,
        ais.make_routed_batch_processor,
        ann_index.compact,
    )
    return [nd_ad, vs_ad, ivfpq, routed]


@pytest.mark.parametrize("ad", _adapters(), ids=lambda a: a.name)
def test_stream_store_lifecycle_matrix(ad, spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    ctx = ad.bootstrap(spark, tmp_path)
    expected = set(ad.view_keys(spark, ctx))

    # (1) N policy-driven triggers: new ids land; file count bounded
    last = None
    for i in range(1, N_TRIGGERS + 1):
        df, ids = ad.batch(spark, i)
        before = set(ad.view_keys(spark, ctx))
        ad.trigger(spark, ctx, df, i)
        after = set(ad.view_keys(spark, ctx))
        new = after - before
        assert {k[0] for k in new} == ids, f"{ad.name}: trigger {i}"
        expected = after
        last = (df, i)
        assert ad.policed_files(ctx) <= THRESHOLD, (
            f"{ad.name}: trigger {i} left {ad.policed_files(ctx)} "
            f"policed files (> {THRESHOLD})"
        )

    # (2) replay of the last trigger adds no new KEYS
    ad.trigger(spark, ctx, *last)
    assert set(ad.view_keys(spark, ctx)) == expected

    # (3) restart-shaped re-bootstrap never loses streamed rows. Band
    # tiers refuse while live delta exists — guarantee one is live by
    # replaying once more if the policy folded everything (the refuse
    # path is the contract under test; rebuild-after-full-fold is the
    # legal batch re-materialization, not a restart hazard).
    if ad.band and ad.policed_files(ctx) == 0:
        ad.trigger(spark, ctx, *last)
    outcome = ad.rebootstrap(spark, ctx)
    assert outcome in ("refused", "noop"), (
        f"{ad.name}: re-bootstrap was '{outcome}' — a rebuild here "
        "would drop streamed rows"
    )
    assert set(ad.view_keys(spark, ctx)) == expected

    # (4) final fold: exactly the one-delivery keys, no duplicates
    ad.fold(spark, ctx)
    keys = ad.view_keys(spark, ctx)
    assert set(keys) == expected
    assert len(keys) == len(set(keys)), f"{ad.name}: duplicate keys"

    # (5) delete leg (r13): tombstone the last batch's ids — exactly
    # their keys leave the view, O(|keys|) commit, no index rewrite
    last_df, last_ids = ad.batch(spark, N_TRIGGERS)
    assert ad.delete(spark, ctx, sorted(last_ids)) is True
    after_del = set(ad.view_keys(spark, ctx))
    assert after_del == {k for k in expected if k[0] not in last_ids}, (
        f"{ad.name}: delete removed the wrong keys"
    )

    # replaying the delete (foreachBatch at-least-once) commits nothing:
    # every key is already dead — the idempotent no-op contract
    assert ad.delete(spark, ctx, sorted(last_ids)) is False
    assert set(ad.view_keys(spark, ctx)) == after_del

    # re-ingesting the same batch RESURRECTS the ids: band processors
    # drop the tombstones before appending, ANN appends re-add a dead
    # id and drop its tombstone (the FAISS remove_ids-then-add shape)
    ad.trigger(spark, ctx, last_df, N_TRIGGERS + 1)
    assert set(ad.view_keys(spark, ctx)) == expected, (
        f"{ad.name}: re-ingest after delete did not resurrect"
    )

    # final fold: deletes/resurrections collapse to the one-delivery
    # keys with no duplicate rows left behind
    ad.fold(spark, ctx)
    keys = ad.view_keys(spark, ctx)
    assert set(keys) == expected
    assert len(keys) == len(set(keys)), f"{ad.name}: duplicates post-delete"
