"""Default-run smoke test of the ANN snapshot lifecycle.

The full lifecycle suites (test_ann_index.py, test_ann_ingest_stream.py,
test_ann_maintenance.py, ...) are gated behind SPARK_GRAFT_FULL_TESTS.
This file keeps one short pass over the shared generation code in every
default run, for both root kinds: a tiny synthetic corpus bootstrapped
through the streaming bootstrap, then append -> delete -> compact
through pipeline/ann_index's kind-free entry points, with the two
exactly-once properties a foreachBatch sink needs: a replayed trigger
commits nothing, and a lost snapshot CAS is retried, not dropped.
"""

from __future__ import annotations

import os
import random
import time

import pytest

from projekt_data_engineering_iubh_spark.pipeline import ann_index, store
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq
from projekt_data_engineering_iubh_spark.streaming import (
    ann_ingest_stream as ais,
)

_N_BASE, _N_LATE = 64, 32

_KINDS = {
    "ivfpq": (ais.bootstrap_codes_index, vq.ivfpq_assign),
    "routed": (ais.bootstrap_routed_index, vq.routed_assign),
}


def _vectors(spark, lo, hi):
    rows = []
    for i in range(lo, hi):
        rnd = random.Random(i)
        rows.append((i, [rnd.gauss(0.0, 1.0) for _ in range(vq.EMB_DIM)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _live_ids(spark, root):
    return {
        r.vec_id
        for r in ann_index.read_live_codes(spark, store.resolve(root))
        .select("vec_id")
        .collect()
    }


def _bootstrap(spark, tmp_path, kind):
    bootstrap, assign = _KINDS[kind]
    root = str(tmp_path / f"{kind}_root")
    bootstrap(spark, _vectors(spark, 0, _N_BASE), root)
    assert store._committed_versions(root) == [1]
    return root, assign


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_append_delete_compact_lifecycle(kind, spark, tmp_path, monkeypatch):
    t0 = time.time()
    root, assign = _bootstrap(spark, tmp_path, kind)
    late = _vectors(spark, _N_BASE, _N_BASE + _N_LATE)

    # append through one forced lost CAS: the generation re-resolves,
    # re-derives and commits once — nothing lost, nothing duplicated
    real_commit = store.commit_snapshot
    calls = []

    def lose_first(path, build, **kw):
        calls.append(path)
        if len(calls) == 1:
            raise store.CommitConflict("forced lost CAS")
        return real_commit(path, build, **kw)

    monkeypatch.setattr(store, "commit_snapshot", lose_first)
    assert ann_index.append_generation(spark, root, late, assign) is True
    monkeypatch.setattr(store, "commit_snapshot", real_commit)
    assert len(calls) == 2
    assert store._committed_versions(root) == [1, 2]
    everyone = set(range(_N_BASE + _N_LATE))
    assert _live_ids(spark, root) == everyone
    codes = spark.read.parquet(os.path.join(store.resolve(root), "codes"))
    assert codes.count() == len(everyone)

    # a replayed trigger commits nothing
    assert ann_index.append_generation(spark, root, late, assign) is False
    assert store._committed_versions(root) == [1, 2]

    # delete spanning the bootstrap and the appended generation
    dead = list(range(0, _N_BASE + _N_LATE, 7))
    keys = spark.createDataFrame([(i,) for i in dead], "vec_id long")
    assert ann_index.delete_generation(spark, root, keys) is True
    assert _live_ids(spark, root) == everyone - set(dead)
    assert ann_index.delete_generation(spark, root, keys) is False

    # compact folds tombstones and small files; a second one is a no-op
    assert ann_index.compact(spark, root) is True
    cur = store.resolve(root)
    assert not os.path.isdir(os.path.join(cur, "tombstones"))
    assert _live_ids(spark, root) == everyone - set(dead)
    assert ann_index.compact(spark, root) is False
    assert store._committed_versions(root) == [1, 2, 3, 4]
    print(f"\n{kind} lifecycle smoke: {time.time() - t0:.1f} s")


def test_append_sweeps_only_stale_staging_dirs(spark, tmp_path):
    """A process killed between a generation's staged write and its
    cleanup leaves a `.delta_<uuid>` dir under the root. The next
    generation removes it once it is older than the staging TTL, and
    leaves a fresh one alone: it may belong to a concurrent generation
    that has not committed yet."""
    root, assign = _bootstrap(spark, tmp_path, "routed")
    stale = os.path.join(root, ".delta_stale")
    fresh = os.path.join(root, ".delta_fresh")
    for d in (stale, fresh):
        os.makedirs(d)
        open(os.path.join(d, "part-00000.parquet"), "wb").close()
    old = time.time() - 2 * ann_index._STAGING_TTL_S
    os.utime(stale, (old, old))

    late = _vectors(spark, _N_BASE, _N_BASE + 4)
    assert ann_index.append_generation(spark, root, late, assign) is True
    assert not os.path.exists(stale)
    assert os.path.isdir(fresh)
    staging = [n for n in os.listdir(root) if n.startswith(".delta_")]
    assert staging == [".delta_fresh"]
