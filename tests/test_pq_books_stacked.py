"""The r13 stacked PQ-book trainer must be BIT-IDENTICAL to the
sequential per-subspace km.kmeans_train path it replaced (and the
literal-centroid Lloyd loop must be bit-identical to the lazy
assign/update chain): the IVF-PQ oracles re-derive the sequential
arithmetic, so any divergence anywhere in the stacked loop is a
hash mismatch on every ADC entry."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table, spread
from projekt_data_engineering_iubh_spark.operators import kmeans as km
from projekt_data_engineering_iubh_spark.plans import vector_queries as vq

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def res(spark):
    e = spread(load_table(spark, SF, "embeddings"))
    qv = e.select(
        "vec_id", km.quantize_normalized(F.col("embedding")).alias("qemb")
    )
    coarse = (
        km.kmeans_train(qv, vq._KM_K, vq._KM_ITERS, vq.EMB_DIM)
        .orderBy("cell")
        .collect()
    )
    cells = [r.cell for r in coarse]
    cqs = [list(r.cq) for r in coarse]
    return vq._ivfpq_residuals(qv, cells, cqs).localCheckpoint(eager=True)


def _sequential_books(res, pq_m, pq_codes, iters, subdim):
    """The pre-r13 shape: one km.kmeans_train per subspace."""
    book_cells, books = [], []
    for m in range(pq_m):
        subv = res.select(
            "vec_id", F.slice("remb", m * subdim + 1, subdim).alias("qemb")
        )
        cents = (
            km.kmeans_train(subv, pq_codes, iters, subdim)
            .orderBy("cell")
            .collect()
        )
        book_cells.append([r.cell for r in cents])
        books.append([list(r.cq) for r in cents])
    return book_cells, books


def test_stacked_books_equal_sequential(res):
    seq_cells, seq_books = _sequential_books(
        res, vq._PQ_M, vq._PQ_CODES, vq._PQT_ITERS, vq.EMB_DIM // vq._PQ_M
    )
    stk_cells, stk_books = vq._train_books(
        res, vq._PQ_M, vq._PQ_CODES, vq._PQT_ITERS, vq.EMB_DIM // vq._PQ_M
    )
    assert stk_cells == seq_cells
    assert stk_books == seq_books


def test_literal_trainer_equals_lazy_chain(spark):
    """km.kmeans_train's per-round literal loop == the lazy
    assign_cells/update_centroids chain, bit for bit (the arithmetic
    the DuckDB kmeans CTEs replicate)."""
    e = load_table(spark, SF, "embeddings")
    qv = e.select("vec_id", km.quantize(F.col("embedding")).alias("qemb"))

    def lazy_train(vectors, k, iters, dim):
        cents = vectors.filter(F.col("vec_id") < k).select(
            F.col("vec_id").cast("int").alias("cell"),
            F.col("qemb").alias("cq"),
        )
        for _ in range(iters):
            cents = km.update_centroids(km.assign_cells(vectors, cents), dim)
        return cents

    for k, iters in [(8, 3), (5, 0)]:
        a = sorted(
            (r.cell, list(r.cq)) for r in lazy_train(qv, k, iters, 64).collect()
        )
        b = sorted(
            (r.cell, list(r.cq))
            for r in km.kmeans_train(qv, k, iters, 64).collect()
        )
        assert a == b, f"k={k} iters={iters}"


def _derived_vs_self_collected(res, seed_rows, coarse_cqs, pq_m, pq_codes,
                               iters, subdim):
    seeds = vq._book_seeds(seed_rows, coarse_cqs, pq_m, pq_codes, subdim)
    derived = vq._train_books(
        res, pq_m, pq_codes, iters, subdim, seeds=seeds
    )
    collected = vq._train_books(res, pq_m, pq_codes, iters, subdim)
    assert derived == collected, f"iters={iters}"


def test_derived_seeds_equal_self_collected(spark):
    """_ivfpq_train's driver-side book seeds (the widened seed collect +
    vq._book_seeds) train the same books as _train_books' own seed
    collect over the Spark-computed residuals."""
    e = spread(load_table(spark, SF, "embeddings"))
    qv = e.select(
        "vec_id", km.quantize_normalized(F.col("embedding")).alias("qemb")
    ).localCheckpoint(eager=True)
    seed_rows = sorted(
        qv.filter(F.col("vec_id") < max(vq._KM_K, vq._PQ_CODES)).collect(),
        key=lambda r: r.vec_id,
    )
    cents = km._train_literal(
        qv,
        [(int(r.vec_id), list(r.qemb)) for r in seed_rows
         if r.vec_id < vq._KM_K],
        vq._KM_ITERS,
        vq.EMB_DIM,
    )
    cells, cqs = [c for c, _ in cents], [list(q) for _, q in cents]
    res = vq._ivfpq_residuals(qv, cells, cqs).localCheckpoint(eager=True)
    for iters in (0, vq._PQT_ITERS):
        _derived_vs_self_collected(
            res, seed_rows, cqs, vq._PQ_M, vq._PQ_CODES, iters,
            vq.EMB_DIM // vq._PQ_M,
        )


def test_derived_seeds_equal_self_collected_on_coarse_tie(spark):
    """A seed vector exactly equidistant from two coarse centroids: both
    paths must break the tie to the lower cell, or the seed residual
    (hence every book) differs."""
    dim, pq_m, pq_codes = 8, 2, 4
    cells, cqs = [3, 7], [[0] * dim, [2] * dim]
    rng = random.Random(7)
    vecs = [(0, [1] * dim), (1, [0, 2] * (dim // 2)), (2, [2] * dim)]
    vecs += [
        (i, [rng.randrange(-3, 6) for _ in range(dim)]) for i in range(3, 40)
    ]
    vecs[5] = (5, [1] * dim)  # a tied non-seed row as well
    qv = spark.createDataFrame(vecs, "vec_id long, qemb array<bigint>")
    res = vq._ivfpq_residuals(qv, cells, cqs).localCheckpoint(eager=True)
    tied = {r.vec_id: r.cell for r in res.filter("vec_id IN (0, 1, 5)").collect()}
    assert tied == {0: 3, 1: 3, 5: 3}
    seed_rows = sorted(
        qv.filter(F.col("vec_id") < pq_codes).collect(),
        key=lambda r: r.vec_id,
    )
    for iters in (0, 2):
        _derived_vs_self_collected(
            res, seed_rows, cqs, pq_m, pq_codes, iters, dim // pq_m
        )
