"""Arrow-batched numpy similarity kernels (Pandas-UDF path).

The third contender in the dot-product implementation space, next to the
two JVM-side shapes already measured (NEXT.md perf fact #1):

1. interpreted HOF fold (``functions/vectors.py`` — zip_with+aggregate):
   2·dim interpreted dispatches per row, but stays inside the JVM row
   pipeline with zero serialization;
2. codegen'd fixed-dim expression tree: blows whole-stage codegen into
   interpreted fallback at dim 64 (measured 7× slower; rejected);
3. THIS module: Arrow-batch the array column to Python and run the dot
   products as one numpy matmul per batch — pays one Arrow round-trip,
   then ~C-speed BLAS on a dense (batch × dim) matrix.

Measured (local[8], 20k corpus × 20 queries = 400k pair cosines, cached
input, min of 3, 2026-08-13 — NEXT.md r4 facts):

    dim    HOF fold   numpy pandas-UDF
     64      1.42 s       0.59 s      ← numpy 2.4×
    256      5.00 s       0.96 s      ← numpy 5.2×
   1024     18.35 s       4.60 s      ← numpy 4.0×

In the PAIR-cosine shape numpy wins at every dim — the 2·dim interpreted
dispatches per pair dwarf one Arrow round-trip even at dim 64. (This does
NOT overturn NEXT.md fact #1, which is about the per-ROW 8-plane bucket
assignment in emb_lsh_ann_pairs: each row is touched once there, so the
compute per Arrow-transferred byte is far smaller — measured on the
sf0.1 embeddings table, HOF buckets in 0.175 s vs 0.260 s for a numpy
matmul mapInPandas. The mapInPandas time is mostly a fixed per-task cost,
not compute: a Python task's ``importlib.invalidate_caches()`` re-reads
every zip on the worker's path on Python 3.11, ~250 ms per task
(cProfile of ``pyspark.worker.main``; ``functions/zipimport_cache.py``
removes it for the package's own UDFs).) The engine still keeps the
HOF fold for every oracle-checked query — the fold is the only formulation whose operation
ORDER DuckDB can reproduce bit-identically — and offers this kernel for
high-dim production columns where a documented ~1 ULP summation-order
difference is acceptable.

Numeric contract: numpy sums products pairwise/SIMD-reordered, not
strictly left-to-right, so results differ from the HOF fold by O(dim·eps)
relative error (observed ≤ 2e-16 at dim 64). Exactness-vs-oracle is the
one thing this path gives up — which is why no registry entry uses it as
the compare side; ``tests/test_similarity_variant.py`` pins equality to
the HOF path within that documented tolerance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _stack(s: pd.Series) -> np.ndarray:
    """Series-of-arrays → dense (n, dim) float64 matrix.

    Arrow hands list<float> columns to the UDF as a Series of numpy
    object arrays; fixed dimension is the operator contract (same as the
    HOF path, where zip_with would silently truncate ragged pairs).
    """
    return np.stack(s.to_numpy()).astype(np.float64, copy=False)


# DoubleType() (not the "double" DDL string): the decorator runs at import
# time, and parsing a DDL string needs an active SparkContext this module
# must not require.
@pandas_udf(DoubleType())
def dot_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    A, B = _stack(a), _stack(b)
    return pd.Series(np.einsum("ij,ij->i", A, B))


@pandas_udf(DoubleType())
def cosine_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    A, B = _stack(a), _stack(b)
    num = np.einsum("ij,ij->i", A, B)
    den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
        np.einsum("ij,ij->i", B, B)
    )
    return pd.Series(num / den)


def dot(a: Column, b: Column) -> Column:
    """Drop-in signature parity with functions/vectors.py:dot."""
    return dot_pd(a, b)


def cosine(a: Column, b: Column) -> Column:
    return cosine_pd(a, b)


def knn_brute_pandas(
    spark, sf_dir: str, *, k: int = 10, n_queries: int = 5
) -> DataFrame:
    """emb_knn_brute re-expressed on the numpy kernel: same broadcast
    query set, same per-query top-k window, cosine computed by
    :func:`cosine_pd` instead of the HOF fold. Exists for the equality
    test and the dim-crossover bench — the registry entry stays on the
    fold (oracle bit-exactness, see module docstring).
    """
    from projekt_data_engineering_iubh_spark.catalog import load_table, spread

    e = spread(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_pd(F.col("qe"), F.col("embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
