"""Similarity-search operators over the `embeddings` table.

Brute-force cosine top-k is the correctness baseline; the LSH
(random-hyperplane) bucketing is the linear-time ANN scale path — at 100 TB
signatures compute in one pass and candidate generation is an equi-join on
the bucket id, never an O(n²) cross join.

Determinism: every dot product casts float→double per element and folds
strictly left-to-right (functions/vectors.py), and the LSH hyperplanes are
md5-seeded literals generated in Python and embedded identically in the
Spark plan and the DuckDB oracle — so similarities are bit-identical and
rankings tie out exactly.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict
from collections.abc import Hashable
from concurrent.futures import Future

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table, spread
from projekt_data_engineering_iubh_spark.functions import vectors as vx
from projekt_data_engineering_iubh_spark.plans.registry import register

EMB_DIM = 64
N_PLANES = 8


def _plane(j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^EMB_DIM."""
    out = []
    for i in range(EMB_DIM):
        h = int(hashlib.md5(f"plane_{j}_{i}".encode()).hexdigest()[:8], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


PLANES = [_plane(j) for j in range(N_PLANES)]


# ---------------------------------------------------------------------------
# LSH (random hyperplane) — the ANN scale path
# ---------------------------------------------------------------------------


def _plane_dot_spark(j: int) -> F.Column:
    plane = F.array(*[F.lit(v) for v in PLANES[j]])
    prods = F.zip_with(
        F.col("embedding"), plane, lambda x, y: x.cast("double") * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _plane_dot_sql(j: int) -> str:
    lits = "[" + ", ".join(repr(v) for v in PLANES[j]) + "]"
    prods = (
        f"list_transform(range(1, len(embedding) + 1), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ({lits})[i])"
    )
    return f"list_reduce({prods}, (x, y) -> x + y)"


def _bucket_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN {_plane_dot_sql(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    return f"({terms})"


def _with_bucket(e: DataFrame) -> DataFrame:
    bucket = None
    for j in range(N_PLANES):
        term = F.when(_plane_dot_spark(j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return e.withColumn("bucket", bucket.cast("int"))


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (the ANN correctness baseline)
# ---------------------------------------------------------------------------

_KNN_K = 10
_KNN_QUERIES = 5

_KNN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < {_KNN_QUERIES}),
c AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {vx.cosine_sql('qe', 'embedding')} AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
),
r AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM c
)
SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= {_KNN_K}
"""


@register("emb_knn_brute", oracle=_KNN_SQL, headline=True)
def emb_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set against the corpus
    (one scan, no shuffle of the big side), then per-query top-k window.

    Norms are hoisted to per-vector columns before the join — a cosine per
    pair would refold each vector's norm inside an interpreted lambda,
    tripling the per-pair work. Identical arithmetic (same fold per
    vector), so the oracle is unchanged."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    q = e.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KNN_K)
    )


# ---------------------------------------------------------------------------
# Cosine near-duplicate detection (label-blocked)
# ---------------------------------------------------------------------------

# Candidates come from 2 OR-amplified LSH band-tables (planes 0-3 →
# low 4 bucket bits, planes 4-7 → high 4 bits) intersected with the
# label key; the most-similar candidate pair per label wins. Both
# engines compute the same md5-seeded buckets, so the result is
# deterministic — unlike "LSH as an approximation of the all-pairs
# top-1", which would hash-mismatch whenever the true top pair lands
# in disjoint buckets.
_NEARDUP_SQL = f"""
WITH b AS (
  SELECT vec_id, label, embedding, CAST({_bucket_sql()} AS INTEGER) AS bucket
  FROM embeddings
),
bands AS (
  SELECT vec_id, label, embedding, bucket, 0 AS band_no, bucket & 15 AS bkey FROM b
  UNION ALL
  SELECT vec_id, label, embedding, bucket, 1, bucket >> 4 FROM b
),
p AS (
  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         {vx.cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
  FROM bands a JOIN bands b
    ON a.label = b.label AND a.band_no = b.band_no AND a.bkey = b.bkey
   AND a.vec_id < b.vec_id
  WHERE a.band_no = 0 OR (a.bucket & 15) != (b.bucket & 15)
),
r AS (
  SELECT label, vec_a, vec_b, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY label
             ORDER BY cos_sim DESC, vec_a, vec_b) AS rn
  FROM p
)
SELECT label, vec_a, vec_b, cos_sim FROM r WHERE rn = 1
"""


@register("emb_cosine_neardup", oracle=_NEARDUP_SQL, driver=False)
def emb_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: most-similar LSH-candidate pair per label.

    Round 1 shipped this as all-pairs within label blocks — O(n²/|labels|)
    pair materialization, a scale-killer when the label vocabulary is
    small (VERDICT r1 #4). Candidates now come from the random-hyperplane
    buckets (two 4-bit band-tables, OR-amplified) intersected with the
    label, so the join is an equi-join on (label, band, bucket-bits) and
    the pair count tracks bucket occupancy, not block size². Pairs
    agreeing on both bands are kept at their first agreeing band (same
    dedup-without-distinct trick as the MinHash LSH join)."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    b = _with_bucket(e)
    band = F.explode(
        F.array(
            F.struct(
                F.lit(0).alias("band_no"),
                F.col("bucket").bitwiseAND(F.lit(15)).alias("bkey"),
            ),
            F.struct(
                F.lit(1).alias("band_no"),
                F.shiftright("bucket", 4).alias("bkey"),
            ),
        )
    )
    bands = b.select(
        "vec_id", "label", "embedding", "nrm", "bucket", band.alias("band")
    ).select(
        "vec_id", "label", "embedding", "nrm", "bucket",
        "band.band_no", "band.bkey",
    )
    a = bands.alias("a")
    c = bands.alias("c")
    pairs = (
        a.join(
            c,
            (F.col("a.label") == F.col("c.label"))
            & (F.col("a.band_no") == F.col("c.band_no"))
            & (F.col("a.bkey") == F.col("c.bkey"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        # first-agreeing-band dedup: a band-1 match only survives if the
        # pair did NOT already agree on band 0
        .filter(
            (F.col("a.band_no") == 0)
            | (
                F.col("a.bucket").bitwiseAND(F.lit(15))
                != F.col("c.bucket").bitwiseAND(F.lit(15))
            )
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("c.vec_id").alias("vec_b"),
            (
                vx.dot(F.col("a.embedding"), F.col("c.embedding"))
                / (F.col("a.nrm") * F.col("c.nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("cos_sim"), F.asc("vec_a"), F.asc("vec_b")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_ARRAY_FUNCS_SQL = f"""
SELECT vec_id, label,
       CAST(len(embedding) AS INTEGER) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_elem,
       CAST(embedding[len(embedding)] AS DOUBLE) AS last_elem,
       CAST(list_min(embedding) AS DOUBLE) AS min_elem,
       CAST(list_max(embedding) AS DOUBLE) AS max_elem,
       {vx.norm_sql('embedding')} AS l2_norm,
       CAST({_bucket_sql()} AS INTEGER) AS bucket
FROM embeddings
"""


@register("emb_array_funcs", oracle=_ARRAY_FUNCS_SQL)
def emb_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector derived-feature surface, one driver entry (registry
    curation): array functions (size, element access, min/max, L2 norm)
    plus the random-hyperplane LSH bucket assignment (8 planes → 256
    buckets; md5-seeded hyperplane literals shared with the oracle)."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    emb = F.col("embedding")
    return _with_bucket(e).select(
        "vec_id",
        "label",
        F.size(emb).alias("dim"),
        F.element_at(emb, 1).cast("double").alias("first_elem"),
        F.element_at(emb, F.size(emb)).cast("double").alias("last_elem"),
        F.array_min(emb).cast("double").alias("min_elem"),
        F.array_max(emb).cast("double").alias("max_elem"),
        vx.norm(emb).alias("l2_norm"),
        "bucket",
    )


# Hot-bucket skew guard (r4 VERDICT #1), same shape as the text LSH cap
# (operators/minhash.py::LSH_MAX_BUCKET): each member pairs only with
# its bucket's ANN_MAX_BUCKET smallest vec_ids, bounding an adversarial
# B-member bucket (e.g. thousands of duplicated vectors hashing to one
# code) at B·cap pairs instead of B²/2. Buckets at or under the cap are
# bit-identical to the uncapped all-pairs join — the cap is sized well
# above every measured occupancy (sf0.1 max 23; 3× sweep ≈ 70) so the
# birthday-law capacity model and the recall harness are unaffected at
# test scales, while the production guard still bounds true skew. The
# cap is mirrored in the oracle, so both engines implement identical
# semantics at ANY occupancy.
ANN_MAX_BUCKET = 128

_LSH_ANN_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, CAST({_bucket_sql()} AS INTEGER) AS bucket
  FROM embeddings
), b_rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
  FROM b
)
SELECT x.bucket, x.vec_id AS vec_a, y.vec_id AS vec_b,
       {vx.cosine_sql('x.embedding', 'y.embedding')} AS cos_sim
FROM b_rn x JOIN b_rn y
  ON x.bucket = y.bucket AND x.vec_id < y.vec_id AND x.rn <= {ANN_MAX_BUCKET}
"""


# occupancy-probe memo: the probe's answer is a pure function of the
# table's bytes and the plane/cap constants, so repeated plan builds in
# one process (bench min-of-3, dashboard refreshes) skip the extra job.
# Keyed by (absolute table path, directory mtime): any Spark re-write of
# the dataset deletes/creates part files and bumps the dir mtime.
_OCC_CACHE: dict[tuple, int] = {}


def _max_occupancy(spark: SparkSession, sf_dir: str) -> int:
    """Max LSH-bucket occupancy of the embeddings table — one aggregate
    over at most 2^N_PLANES groups. Runs on the scan's NATURAL
    partitioning (no spread()): at cluster scale parquet splits give the
    parallelism, and locally the fixed cost of the repartition exchange
    exceeds the serial fold over the small table (measured 0.60 s with
    spread vs 0.29 s without at sf0.1)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        key = (os.path.abspath(path), os.path.getmtime(path), N_PLANES)
    except OSError:
        key = None
    if key is not None and key in _OCC_CACHE:
        return _OCC_CACHE[key]
    row = (
        _with_bucket(load_table(spark, sf_dir, "embeddings"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
    )
    occ = int(row["mx"]) if row["mx"] is not None else 0
    if key is not None:
        _OCC_CACHE[key] = occ
    return occ


@register("emb_lsh_ann_pairs", oracle=_LSH_ANN_SQL, headline=True)
def emb_lsh_ann_pairs(
    spark: SparkSession, sf_dir: str, max_bucket: int = ANN_MAX_BUCKET
) -> DataFrame:
    """ANN candidate pairs: equi-join on LSH bucket, exact cosine on the
    survivors — linear-time ANN (the brute-force top-k's scale-out path).
    The bucket self-join carries the ANN_MAX_BUCKET hot-bucket guard
    (see constant above): left side restricted to each bucket's first
    `max_bucket` members by vec_id, turning adversarial bucket blowup
    from quadratic to linear while leaving every normal bucket's output
    bit-identical.

    Runtime occupancy probe (round 7): before planning, one aggregate
    over at most 2^N_PLANES bucket counts decides whether ANY bucket
    exceeds the cap. When none does — the overwhelmingly common case,
    and always true at the test scales (sf0.1 max occupancy 23 vs cap
    128) — the guard is a provable no-op and the plan drops the
    row_number windows + two-sided rn predicate entirely: one equi-join
    of two identical branches (exchange reuse computes the 8 hyperplane
    dot-products once), no window sort, no WindowGroupLimit stages. When
    a bucket IS oversized, the capped plan runs and matches the capped
    oracle at any occupancy. Both branches produce bit-identical output
    for the occupancy the probe observed, so the switch is invisible to
    the oracle. At cluster scale the probe is a map-side-combined
    aggregate into ≤256 groups — negligible next to the join it
    de-risks; locally one natural-partitioning bucket pass (~0.29 s at
    sf0.1, memoized per table mtime — see _max_occupancy) traded
    against ~0.6 s of window/stage overhead."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    b = _with_bucket(e).select("vec_id", "embedding", "nrm", "bucket")
    max_occ = _max_occupancy(spark, sf_dir)
    if max_occ <= max_bucket:
        x = b.alias("x")
        y = b.alias("y")
        return x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        ).select(
            F.col("x.bucket").alias("bucket"),
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            (
                vx.dot(F.col("x.embedding"), F.col("y.embedding"))
                / (F.col("x.nrm") * F.col("y.nrm"))
            ).alias("cos_sim"),
        )
    w = Window.partitionBy("bucket").orderBy("vec_id")
    # rn rides on BOTH sides and the cap predicate references both
    # (least(x.rn, y.rn) = x.rn because vec_id order ⇒ rn order), so
    # Catalyst cannot push it into one side — a single-side filter makes
    # the sides' plans differ, breaking exchange reuse and re-running the
    # 8 hyperplane dot-products per reference (measured 0.80 s → 1.19 s at
    # sf0.1; an eager-checkpoint variant measured 1.42 s). With identical
    # sides the bucket assignment computes once, the window's
    # (bucket, vec_id) sort satisfies the sort-merge join's requirement,
    # and the join OUTPUT from an oversized bucket stays ≤ B·cap — the
    # cosine evaluation + materialization that dominates pair cost. The
    # residual B² cheap rn-comparisons inside one degenerate bucket are
    # the accepted trade; the production lever for sustained bucket skew
    # is plane scaling (see the capacity-law notes / tools/scale_sweep.py).
    b = b.withColumn("rn", F.row_number().over(w))
    x = b.alias("x")
    y = b.alias("y")
    return x.join(
        y,
        (F.col("x.bucket") == F.col("y.bucket"))
        & (F.col("x.vec_id") < F.col("y.vec_id"))
        & (F.least(F.col("x.rn"), F.col("y.rn")) <= F.lit(max_bucket)),
    ).select(
        F.col("x.bucket").alias("bucket"),
        F.col("x.vec_id").alias("vec_a"),
        F.col("y.vec_id").alias("vec_b"),
        (
            vx.dot(F.col("x.embedding"), F.col("y.embedding"))
            / (F.col("x.nrm") * F.col("y.nrm"))
        ).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN (coarse quantizer + in-cell search; local-only: past the
# 50-entry driver budget; oracle-verified by tests/test_oracle_differential)
# ---------------------------------------------------------------------------

N_CENTROIDS = 16
_IVF_K = 10
_IVF_QUERIES = 5


def _centroid(j: int) -> list[float]:
    """Deterministic pseudo-random centroid in [-1, 1]^EMB_DIM (the coarse
    quantizer a real IVF would get from k-means; fixed seeds keep both
    engines and every run identical)."""
    out = []
    for i in range(EMB_DIM):
        h = int(hashlib.md5(f"centroid_{j}_{i}".encode()).hexdigest()[:8], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


CENTROIDS = [_centroid(j) for j in range(N_CENTROIDS)]


def _dist_spark(j: int) -> F.Column:
    c = F.array(*[F.lit(v) for v in CENTROIDS[j]])
    sq = F.zip_with(
        F.col("embedding"),
        c,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)


def _dist_sql(j: int) -> str:
    lits = "[" + ", ".join(repr(v) for v in CENTROIDS[j]) + "]"
    sq = (
        f"list_transform(range(1, len(embedding) + 1), "
        f"i -> (CAST(embedding[i] AS DOUBLE) - ({lits})[i])"
        f" * (CAST(embedding[i] AS DOUBLE) - ({lits})[i]))"
    )
    return f"list_reduce({sq}, (x, y) -> x + y)"


def _with_cell(e: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, strict
    left-to-right fold on both engines → bit-identical distances; ties
    break to the lowest centroid index via first-position-of-min).

    The 16 distance folds are projected into ONE array column first and
    the argmin reads that column — referencing the fold expression from
    the argmin directly would re-evaluate it per comparison (no CSE in
    interpreted higher-order functions)."""
    dists = e.withColumn(
        "_dists", F.array(*[_dist_spark(j) for j in range(N_CENTROIDS)])
    )
    return dists.withColumn(
        "cell",
        (F.array_position(F.col("_dists"), F.array_min("_dists")) - 1).cast("int"),
    ).drop("_dists")


_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id, embedding,
         [{", ".join(_dist_sql(j) for j in range(N_CENTROIDS))}] AS d
  FROM embeddings
), cells AS (
  SELECT vec_id, embedding,
         CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cell
  FROM c
), q AS (
  SELECT vec_id AS query_id, embedding AS qe, cell FROM cells
  WHERE vec_id < {_IVF_QUERIES}
), cand AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, q.cell,
         {vx.cosine_sql('qe', 'e.embedding')} AS cos_sim
  FROM q JOIN cells e ON e.cell = q.cell AND e.vec_id != q.query_id
), r AS (
  SELECT query_id, neighbor_id, cell, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM cand
)
SELECT query_id, neighbor_id, cell, cos_sim, rn FROM r WHERE rn <= {_IVF_K}
"""


@register("emb_ivf_ann", oracle=_IVF_SQL)
def emb_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: coarse-quantize every vector to its nearest centroid,
    then search only the query's own cell (nprobe=1) with exact cosine +
    per-query top-k. The inverted-file counterpart to the random-hyperplane
    LSH path: at scale the corpus is stored partitioned by cell, a query
    probes 1/N_CENTROIDS of the data, and the candidate join is an
    equi-join on the cell id — never an all-pairs scan."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    cells = _with_cell(e)
    q = cells.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("cell").alias("qcell"),
    )
    cand = cells.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_K)
    )


# ---------------------------------------------------------------------------
# IVF multi-probe (nprobe > 1) — the recall fix for cell boundaries
# ---------------------------------------------------------------------------

_IVF_NPROBE = 4

_IVF_MP_SQL = f"""
WITH c AS (
  SELECT vec_id, embedding,
         [{", ".join(_dist_sql(j) for j in range(N_CENTROIDS))}] AS d
  FROM embeddings
), cells AS (
  SELECT vec_id, embedding,
         CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cell
  FROM c
), q0 AS (
  SELECT vec_id AS query_id, embedding AS qe, d FROM c
  WHERE vec_id < {_IVF_QUERIES}
), qcells AS (
  SELECT query_id, qe, d, unnest(range(0, {N_CENTROIDS})) AS pcell FROM q0
), probes AS (
  SELECT query_id, qe, CAST(pcell AS INTEGER) AS pcell
  FROM (
    SELECT query_id, qe, pcell,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY q0d, pcell) AS pr
    FROM (SELECT query_id, qe, pcell, d[pcell + 1] AS q0d FROM qcells)
  ) WHERE pr <= {_IVF_NPROBE}
), cand AS (
  SELECT p.query_id, e.vec_id AS neighbor_id, e.cell,
         {vx.cosine_sql('p.qe', 'e.embedding')} AS cos_sim
  FROM probes p JOIN cells e
    ON e.cell = p.pcell AND e.vec_id != p.query_id
), r AS (
  SELECT query_id, neighbor_id, cell, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM cand
)
SELECT query_id, neighbor_id, cell, cos_sim, rn FROM r WHERE rn <= {_IVF_K}
"""


@register("emb_ivf_ann_multiprobe", oracle=_IVF_MP_SQL)
def emb_ivf_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with nprobe={_IVF_NPROBE}: each query searches its
    nprobe NEAREST cells instead of only its own — the standard recall
    fix for true neighbors that sit just across a Voronoi boundary
    (nprobe=1's known failure mode; see emb_ivf_ann). Probe selection is
    plain relational algebra on both engines: explode the per-query
    centroid-distance array into (query, cell, dist) rows, rank by
    (dist, cell), keep nprobe. Cost scales as nprobe/N_CENTROIDS of the
    corpus per query, still an equi-join on the cell id — never
    all-pairs; the corpus side is untouched (same cell-partitioned
    storage story)."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    dists = F.array(*[_dist_spark(j) for j in range(N_CENTROIDS)])
    withd = e.withColumn("_dists", dists)
    cells = withd.withColumn(
        "cell",
        (F.array_position(F.col("_dists"), F.array_min("_dists")) - 1).cast(
            "int"
        ),
    ).drop("_dists")
    q0 = withd.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.posexplode("_dists").alias("pcell", "q0d"),
    )
    pw = Window.partitionBy("query_id").orderBy("q0d", "pcell")
    probes = (
        q0.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("query_id", "qe", "qnrm", F.col("pcell").cast("int").alias("pcell"))
    )
    cand = cells.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_K)
    )


# ---------------------------------------------------------------------------
# Large-to-large kNN JOIN (batch-inference shape: the query side is itself
# a corpus-sized table, so nothing can broadcast)
# ---------------------------------------------------------------------------

_KJ_K = 10
_KJ_NPROBE = 2
_KJ_SLICES = 4

_KJ_SQL = f"""
WITH c AS (
  SELECT vec_id, embedding,
         [{", ".join(_dist_sql(j) for j in range(N_CENTROIDS))}] AS d
  FROM embeddings
), cells AS (
  SELECT vec_id, embedding,
         CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS cell
  FROM c WHERE vec_id % 2 = 1
), q0 AS (
  SELECT vec_id AS query_id, embedding AS qe, d FROM c
  WHERE vec_id % 2 = 0
), qcells AS (
  SELECT query_id, qe, d, unnest(range(0, {N_CENTROIDS})) AS pcell FROM q0
), probes AS (
  SELECT query_id, qe, CAST(pcell AS INTEGER) AS pcell
  FROM (
    SELECT query_id, qe, pcell,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY q0d, pcell) AS pr
    FROM (SELECT query_id, qe, pcell, d[pcell + 1] AS q0d FROM qcells)
  ) WHERE pr <= {_KJ_NPROBE}
), cand AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         {vx.cosine_sql('p.qe', 'e.embedding')} AS cos_sim
  FROM probes p JOIN cells e ON e.cell = p.pcell
), r AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM cand
)
SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= {_KJ_K}
"""


@register("emb_knn_join_shuffled", oracle=_KJ_SQL, driver=False)
def emb_knn_join_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN JOIN of two corpus-sized tables (offline batch inference: every
    even vec_id queries the odd-vec_id corpus for its top-k neighbors).

    Every other ANN entry broadcasts its query set — correct when |Q| is a
    handful of point lookups, impossible when Q is 100M rows of its own.
    This is the shuffled shape that survives that regime:

    - both sides coarse-quantize to the shared 16-centroid codebook; the
      query side probes its nprobe=2 nearest cells (same recall
      fix as emb_ivf_ann_multiprobe, same relational probe selection);
    - candidate generation is a sort-merge equi-join on (cell, slice) —
      `.hint("merge")` pins the shuffled strategy so the plan at test
      scale IS the plan at 100 TB (no size-based broadcast flip);
    - the corpus side is salted into 4 hash slices and the
      query side replicates across them, so one hot Voronoi cell splits
      into 4 bounded partitions instead of one straggler —
      classic replicate-one-side skew salting, invisible to results (the
      oracle knows nothing about slices).

    Per-query top-k is a window over query_id; cost per query is
    nprobe/N_CENTROIDS of the corpus, shuffle volume is one pass over each
    table — never all-pairs."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    withd = e.withColumn(
        "_dists", F.array(*[_dist_spark(j) for j in range(N_CENTROIDS)])
    )
    corp = (
        withd.filter(F.col("vec_id") % 2 == 1)
        .withColumn(
            "cell",
            (F.array_position(F.col("_dists"), F.array_min("_dists")) - 1)
            .cast("int"),
        )
        .withColumn("slice", (F.col("vec_id") % _KJ_SLICES).cast("int"))
        .select("vec_id", "embedding", "nrm", "cell", "slice")
    )
    q0 = withd.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.posexplode("_dists").alias("pcell", "q0d"),
    )
    pw = Window.partitionBy("query_id").orderBy("q0d", "pcell")
    probes = (
        q0.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= _KJ_NPROBE)
        .select(
            "query_id", "qe", "qnrm",
            F.col("pcell").cast("int").alias("pcell"),
        )
        .withColumn(
            "qslice",
            F.explode(F.array(*[F.lit(s) for s in range(_KJ_SLICES)])),
        )
    )
    cand = probes.join(
        corp.hint("merge"),
        (F.col("pcell") == F.col("cell")) & (F.col("qslice") == F.col("slice")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KJ_K)
    )


# ---------------------------------------------------------------------------
# Trained, scale-sized kNN JOIN: cells ∝ corpus via the Lloyd trainer,
# assignment through the two-level coarse router (the production shape)
# ---------------------------------------------------------------------------

_KJT_K = 10
_KJT_NPROBE = 4
_KJT_SLICES = 4
_KJT_MIN_CELLS = 8
_KJT_TARGET_CELL = 64  # corpus vectors per trained cell (cells ∝ n)
_KJT_ITERS = 2


def _kjt_sql() -> str:
    """The full trained-join oracle: ranked-seed Lloyd training over the
    corpus half with DATA-DEPENDENT k (scalar subquery — cells ∝ n so
    the same SQL string is the right geometry at every sf), the
    two-level router CTEs over the trained centroids, both sides routed
    through that SAME router, candidate equi-join on cell, exact-cosine
    top-k."""
    from projekt_data_engineering_iubh_spark.operators import kmeans as _km

    corpus_src = (
        f"SELECT vec_id, {_km.quantize_sql('embedding')} AS qemb"
        f" FROM embeddings WHERE vec_id % 2 = 1"
    )
    k_sql = (
        f"SELECT greatest({_KJT_MIN_CELLS}, COUNT(*) // {_KJT_TARGET_CELL})"
        f" FROM tjqv"
    )
    train, cent = _km.kmeans_train_ranked_sql_ctes(
        corpus_src, k_sql, _KJT_ITERS, EMB_DIM, "tj"
    )
    router, supers, cs = _km.router_sql_ctes(cent, EMB_DIM, "tjr")
    corp_route, corp_cells = _km.route_top_cells_sql(
        "tjqv", "vec_id", [], 1, supers, cs, EMB_DIM, "tjc"
    )
    qsrc = (
        f"tjq AS (SELECT vec_id AS query_id,"
        f" {_km.quantize_sql('embedding')} AS qemb"
        f" FROM embeddings WHERE vec_id % 2 = 0)"
    )
    q_route, q_cells = _km.route_top_cells_sql(
        "tjq", "query_id", [], _KJT_NPROBE, supers, cs, EMB_DIM, "tjp"
    )
    return f"""WITH {train},
{router},
{corp_route},
{qsrc},
{q_route},
tjcand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {vx.cosine_sql('qq.embedding', 'ee.embedding')} AS cos_sim
  FROM {q_cells} p
  JOIN {corp_cells} c ON c.cell = p.cell
  JOIN embeddings ee ON ee.vec_id = c.vec_id
  JOIN embeddings qq ON qq.vec_id = p.query_id
), tjrank AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM tjcand
)
SELECT query_id, neighbor_id, cos_sim, rn FROM tjrank WHERE rn <= {_KJT_K}
"""


@register("emb_knn_join_trained", oracle=_kjt_sql())
def emb_knn_join_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN JOIN in its PRODUCTION geometry (r11): emb_knn_join_shuffled
    proved the shuffled sort-merge shape but kept the oracle-dictated
    FIXED 16 cells — the configuration tools/knn_join_scale.py measured
    as quadratic (1.71B candidate pairs at a 100k corpus). This entry is
    the scale-sized variant the r10 law demands:

    - cells ∝ corpus (one trained cell per ~64 corpus vectors, floor 8)
      from the exact fixed-point Lloyd trainer with RANKED seeds
      (operators/kmeans.py::kmeans_train_ranked — the corpus half's ids
      are odd, so dense-id seeding can't apply), k resolved from a
      corpus count on both engines (scalar subquery in the oracle);
    - BOTH sides are assigned through the SAME two-level coarse router
      (operators/kmeans.py::train_router / route_top_cells — √k supers
      trained over the centroid table, ~(√k + 2k/√k) folds per vector
      instead of k): the r10 measurement showed join recall needs router
      CONSISTENCY, not argmin fidelity (recall held 0.140 vs 0.156 under
      60.7% routing disagreement), so sharing the router is enforced
      here by construction and pinned in tests/test_kmeans_router.py;
    - queries probe their nprobe=4 nearest routed cells — the coverage
      lever that buys recall back at a pair budget that stays LINEAR in
      the corpus (cand/query ≈ nprobe × 64 regardless of n);
    - candidate generation keeps #152's shuffled skew-proof tail:
      sort-merge equi-join on (cell, slice), corpus salted into 4 hash
      slices with query-side replication, `.hint("merge")` pinning the
      no-broadcast strategy; exact-cosine re-rank of the candidates is
      the refine stage (per-query top-k window).

    The oracle replicates ALL of it — training, router, routing,
    join, refine — so the hash match certifies the approximate index
    construction itself, not just the final join algebra."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        vx.norm(F.col("embedding")).alias("nrm"),
        km.quantize(F.col("embedding")).alias("qemb"),
    )
    corpus = e.filter(F.col("vec_id") % 2 == 1)
    # k from a MATERIALIZED corpus count: one scalar job, never
    # data-sized driver state (same collect class as the codebook reads)
    n = corpus.count()
    k = max(_KJT_MIN_CELLS, n // _KJT_TARGET_CELL)
    # No localCheckpoint on the trainer/router artifacts (r14): since
    # the r13 eager literal trainer they are LOCAL RELATIONS with no
    # lineage to re-execute — pinning them paid three checkpoint jobs
    # per build and turned train_router's k-row collect into a cluster
    # job instead of the LocalTableScan driver fast-path.
    cents = km.kmeans_train_ranked(
        corpus.select("vec_id", "qemb"), k, _KJT_ITERS, EMB_DIM
    )
    router = km.train_router(cents, EMB_DIM)
    corp = km.route_top_cells(
        router, corpus, "vec_id", ["embedding", "nrm"], 1
    ).withColumn("slice", (F.col("vec_id") % _KJT_SLICES).cast("int"))
    q = e.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("qemb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    probes = (
        km.route_top_cells(router, q, "query_id", ["qe", "qnrm"], _KJT_NPROBE)
        .withColumnRenamed("cell", "pcell")
        .withColumn(
            "qslice",
            F.explode(F.array(*[F.lit(s) for s in range(_KJT_SLICES)])),
        )
    )
    cand = probes.join(
        corp.hint("merge"),
        (F.col("pcell") == F.col("cell"))
        & (F.col("qslice") == F.col("slice")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KJT_K)
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization + ADC top-k (the compressed-index search path)
# ---------------------------------------------------------------------------

_SQ_K = 10
_SQ_QUERIES = 5

_SQ_SQL = f"""
WITH u AS (
  SELECT vec_id, {vx.norm_sql('embedding')} AS nrm,
         list_transform(embedding,
                        x -> CAST(x AS DOUBLE) / {vx.norm_sql('embedding')})
           AS unit
  FROM embeddings
), s AS (
  SELECT MAX(list_max(list_transform(unit, x -> abs(x)))) AS amax FROM u
), q8 AS (
  SELECT vec_id, unit,
         list_transform(unit, x -> CAST(least(greatest(
             floor(x / amax * 127.0 + 0.5), -127.0), 127.0) AS INTEGER))
           AS qcode,
         amax
  FROM u CROSS JOIN s
), qq AS (
  SELECT vec_id AS query_id, unit AS qunit FROM u
  WHERE vec_id < {_SQ_QUERIES}
), cand AS (
  SELECT qq.query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(range(1, len(qunit) + 1),
             i -> qunit[i] * (CAST(qcode[i] AS DOUBLE) * amax / 127.0)),
             (x, y) -> x + y) AS adc_cos,
         list_reduce(list_transform(range(1, len(qunit) + 1),
             i -> qunit[i] * unit[i]), (x, y) -> x + y) AS exact_cos
  FROM qq JOIN q8 c ON c.vec_id != qq.query_id
), r AS (
  SELECT query_id, neighbor_id, adc_cos, exact_cos,
         abs(adc_cos - exact_cos) AS abs_err,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_cos DESC, neighbor_id) AS INTEGER) AS rn
  FROM cand
)
SELECT query_id, neighbor_id, adc_cos, exact_cos, abs_err, rn
FROM r WHERE rn <= {_SQ_K}
"""


@register("emb_quantize_int8", oracle=_SQ_SQL, driver=False)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) similarity search with asymmetric distance
    computation: unit-normalize every vector, quantize corpus vectors to
    int8 codes with one corpus-wide scale (max |element|), keep queries
    full-precision, and rank by the ADC dot product (query float × dequantized
    code) — the memory/recall trade a compressed 100 TB vector index makes
    (4× smaller than float32; recall loss visible in abs_err vs the exact
    cosine, computed alongside).

    Scale shape: the scale factor is one order-independent MAX aggregate
    (exact on doubles → deterministic) broadcast back over the corpus;
    quantization is a map-side projection; candidate scoring is the same
    broadcast-queries-vs-corpus scan as emb_knn_brute, followed by the
    per-query top-k window. At scale the int8 codes — not the float
    arrays — are what the index stores and shuffles.
    """
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    u = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double") / F.col("nrm")
        ).alias("unit"),
    )
    s = u.agg(
        F.max(
            F.array_max(F.transform("unit", lambda x: F.abs(x)))
        ).alias("amax")
    )
    q8 = u.crossJoin(F.broadcast(s)).select(
        "vec_id",
        "unit",
        F.transform(
            "unit",
            lambda x: F.least(
                F.greatest(
                    F.floor(x / F.col("amax") * F.lit(127.0) + F.lit(0.5)),
                    F.lit(-127.0),
                ),
                F.lit(127.0),
            ).cast("int"),
        ).alias("qcode"),
        "amax",
    )
    qq = u.filter(F.col("vec_id") < _SQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("qunit")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("qunit"),
            F.col("qcode"),
            lambda x, y: x * (y.cast("double") * F.col("amax") / F.lit(127.0)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact = F.aggregate(
        F.zip_with(F.col("qunit"), F.col("unit"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cand = q8.join(
        F.broadcast(qq), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc_cos"),
        exact.alias("exact_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("abs_err", F.abs(F.col("adc_cos") - F.col("exact_cos")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SQ_K)
        .select(
            "query_id", "neighbor_id", "adc_cos", "exact_cos", "abs_err", "rn"
        )
    )


# ---------------------------------------------------------------------------
# Product-quantization geometry (the 100 TB vector-index memory lever),
# shared by the IVF-PQ family below
# ---------------------------------------------------------------------------

_PQ_M = 4  # subvectors
_PQ_SUBDIM = EMB_DIM // _PQ_M
_PQ_CODES = 16  # centroids per sub-codebook → 4 bits/subvector
_PQ_K = 10
_PQ_QUERIES = 5


def _pq_sub_sql(src_expr: str, m: int, subdim: int | None = None) -> str:
    sd = _PQ_SUBDIM if subdim is None else subdim
    return f"({src_expr})[{m * sd + 1}:{(m + 1) * sd}]"


# ---------------------------------------------------------------------------
# Lloyd k-means training (the IVF coarse quantizer, actually trained)
# ---------------------------------------------------------------------------

from projekt_data_engineering_iubh_spark.operators import kmeans as km

_KM_K = 8
_KM_ITERS = 3

_KM_CTES, _KM_FINAL = km.kmeans_sql_ctes(_KM_K, _KM_ITERS, EMB_DIM)

_KMEANS_SQL = f"""{_KM_CTES}
SELECT vec_id, cell, dist FROM {_KM_FINAL}
"""


@register("emb_kmeans", oracle=_KMEANS_SQL, driver=False)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means over the embedding corpus: 3 assign/update rounds from
    deterministic seeds (the k lowest vec_ids), output the final
    (vec_id, cell, dist) assignment — the trained counterpart of the
    fixed pseudo-random CENTROIDS the IVF queries quantize against.

    Exact fixed-point arithmetic end to end (operators/kmeans.py): bigint
    squared-L2 distances and floor'd integer means are order-independent,
    so the iterative result hash-matches the DuckDB oracle — the same
    cross-engine-determinism trick as the integer-µs session durations.

    Scale shape per round: one broadcast cross join (k centroid rows)
    against the corpus, one per-vector argmin window, one (cell, pos)
    partial-agg shuffle of k×dim mean fragments. Nothing sf-proportional
    is ever broadcast or collected.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"))
    return km.kmeans_fixed_point(e, _KM_K, _KM_ITERS, EMB_DIM)


# ---------------------------------------------------------------------------
# Router-assisted Lloyd training, oracle-certified (#162, r13 VERDICT #3)
# ---------------------------------------------------------------------------

_KMR_K = 16
_KMR_ITERS = 2


def _kmr_sql() -> str:
    """Oracle for the ROUTED trainer: per iteration, (a) the two-level
    router trained over the current centroids (router_sql_ctes — its own
    nested ranked-Lloyd chain), (b) every vector routed to its single
    nearest cell AS SEEN THROUGH the router (route_top_cells_sql,
    n_cells=1 — the same windows the Spark side's min_by reproduces, the
    equivalence tests/test_kmeans_router.py pins), (c) the fixed-point
    mean update. One exact assignment against the final centroids
    scalarizes the result: any bit of divergence anywhere in the routed
    training chain moves some vector's (cell, dist). All centroid/router
    CTEs MATERIALIZED per the r11 OOM lesson."""
    parts = [
        f"kmrqv AS MATERIALIZED (SELECT vec_id, "
        f"{km.quantize_sql('embedding')} AS qemb FROM embeddings)",
        f"kmrc0 AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS cell,"
        f" qemb AS cq FROM (SELECT qemb,"
        f" ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM kmrqv)"
        f" WHERE rn <= {_KMR_K})",
        # the routed assignment consumes qemb; the mean update still
        # needs the vector, so it rides under a second name — the same
        # carry the Spark trainer uses
        "kmrsrc AS (SELECT vec_id, qemb AS kept, qemb FROM kmrqv)",
    ]
    cent = "kmrc0"
    for r in range(1, _KMR_ITERS + 1):
        rchain, sup, cs = km.router_sql_ctes(cent, EMB_DIM, f"kmr{r}")
        parts.append(rchain)
        cchain, cells = km.route_top_cells_sql(
            "kmrsrc", "vec_id", ["kept"], 1, sup, cs, EMB_DIM, f"kmr{r}"
        )
        parts.append(cchain)
        parts.append(f"kmra{r} AS (SELECT cell, kept AS qemb FROM {cells})")
        parts.append(
            f"kmrc{r} AS MATERIALIZED"
            f" ({km._update_sql(f'kmra{r}', EMB_DIM)})"
        )
        cent = f"kmrc{r}"
    parts.append(f"kmrfin AS ({km._assign_sql('kmrqv', cent, EMB_DIM)})")
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT vec_id, cell, dist FROM kmrfin"
    )


@register("emb_kmeans_routed_train", oracle=_kmr_sql())
def emb_kmeans_routed_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The router-assisted Lloyd trainer, oracle-certified (#162 — r13,
    closing VERDICT r12 #3: the operator that makes 100 TB-scale index
    BUILDS affordable was engine-side + tool-measured only). Exact
    Lloyd's assignment is O(n·k) folds per iteration; at production
    geometry (cells ∝ n, k = n/64) that makes TRAINING the quadratic
    term — ~47B folds at 1M vectors. kmeans_train_ranked_routed
    (operators/kmeans.py:210) re-trains the two-level router over each
    iteration's centroids and assigns through it — ~(√k + 2k/√k)
    folds/vector, the measured 6.7× cut that turned the 1M/15.6k-cell
    build into ~6 min (BASELINE.md r12).

    This entry certifies the routed chain itself at a small geometry
    (k=16, 2 iterations): the ORACLE re-derives every
    nested piece — per-iteration router training (itself a ranked-Lloyd
    chain over the centroid table), two-super routing windows, routed
    argmin, fixed-point mean update — and the returned frame is one
    EXACT assignment against the final centroids, so the hash certifies
    every routed-training bit, not just the output shape. The certified
    EXACT trainer remains the oracle path for the index entries
    (#153/#157-#159 replicate exact Lloyd); the degenerate-case pin
    (probes covering all supers ⇒ routed == exact bit-for-bit) lives in
    tests/test_kmeans_router.py.

    Scale shape per iteration: router training is k-row work; routing
    is two broadcast joins (√k supers, then ~2k/√k cells) with map-side
    min_by argmins; the mean update shuffles k×dim fragments. Nothing
    data-sized hits the driver (per-iteration localCheckpoint pins the
    Lloyd chain — plan state, not data)."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    qv = e.select("vec_id", km.quantize(F.col("embedding")).alias("qemb"))
    # final exact assignment against the trained list as a gated
    # map-only literal projection (r14): _assign_literal replicates
    # assign_cells' argmin/(dist, cell) tie-break bit-for-bit on the
    # unique-vec_id corpus, without the broadcast crossJoin + min_by
    # shuffle; past ROUTER_LITERAL_MAX_VALUES the join shape returns
    # (the same gate the training rounds apply).
    cents = km._train_ranked_routed_list(qv, _KMR_K, _KMR_ITERS, EMB_DIM)
    if len(cents) * EMB_DIM > km.ROUTER_LITERAL_MAX_VALUES:
        asg = km.assign_cells(qv, km._cents_df(qv, cents))
    else:
        asg = km._assign_literal(qv, cents)
    return asg.select("vec_id", "cell", "dist")


# ---------------------------------------------------------------------------
# Trained IVF: the k-means assignment as the coarse quantizer
# ---------------------------------------------------------------------------

_IVFT_SQL = f"""{_KM_CTES},
tcells AS (SELECT vec_id, cell FROM {_KM_FINAL}),
tj AS (SELECT t.vec_id, t.cell, e.embedding
       FROM tcells t JOIN embeddings e USING (vec_id)),
tq AS (SELECT vec_id AS query_id, embedding AS qe, cell FROM tj
       WHERE vec_id < {_IVF_QUERIES}),
tcand AS (
  SELECT tq.query_id, e.vec_id AS neighbor_id, tq.cell,
         {vx.cosine_sql('qe', 'e.embedding')} AS cos_sim
  FROM tq JOIN tj e ON e.cell = tq.cell AND e.vec_id != tq.query_id
), tr AS (
  SELECT query_id, neighbor_id, cell, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM tcand
)
SELECT query_id, neighbor_id, cell, cos_sim, rn FROM tr WHERE rn <= {_IVF_K}
"""


@register("emb_ivf_ann_trained", oracle=_IVFT_SQL, driver=False)
def emb_ivf_ann_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over TRAINED cells: the coarse quantizer is the
    exact fixed-point Lloyd assignment (emb_kmeans's 3 rounds) instead
    of emb_ivf_ann's fixed pseudo-random centroids — the trained-index
    counterpart. Search is
    identical: probe the query's own cell (nprobe=1), exact cosine,
    per-query top-k. Trained cells track the data distribution, so cell
    sizes are balanced by construction (Lloyd's update equalizes
    within-cell variance) — at 100 TB this is what keeps per-probe cost
    even instead of hostage to where random centroids landed."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    asg = km.kmeans_fixed_point(e, _KM_K, _KM_ITERS, EMB_DIM).select(
        "vec_id", "cell"
    )
    return _ivft_search(e.join(asg, "vec_id"))


def _ivft_search(cells: DataFrame) -> DataFrame:
    """nprobe=1 IVF-flat search over (vec_id, embedding, nrm, cell):
    shared by the inline-trained and the stored-index serve entries, so
    serve-vs-inline equality pins only the index artifacts."""
    q = cells.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("cell").alias("qcell"),
    )
    cand = cells.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_K)
        .select("query_id", "neighbor_id", "cell", "cos_sim", "rn")
    )


# ---------------------------------------------------------------------------
# Routed IVF serve: the two-level router on the ASYMMETRIC (single-index)
# path, corpus and queries routed by the SAME approximate quantizer
# ---------------------------------------------------------------------------

_IVFR_NPROBE = 2
_IVFR_MIN_CELLS = 8
_IVFR_TARGET_CELL = 64


def _ivfr_sql() -> str:
    src = (
        f"SELECT vec_id, {km.quantize_sql('embedding')} AS qemb"
        f" FROM embeddings"
    )
    k_sql = (
        f"SELECT greatest({_IVFR_MIN_CELLS},"
        f" COUNT(*) // {_IVFR_TARGET_CELL}) FROM rvqv"
    )
    train, cent = km.kmeans_train_ranked_sql_ctes(src, k_sql, 2, EMB_DIM, "rv")
    router, supers, cs = km.router_sql_ctes(cent, EMB_DIM, "rvr")
    corp_route, corp_cells = km.route_top_cells_sql(
        "rvqv", "vec_id", [], 1, supers, cs, EMB_DIM, "rvc"
    )
    qsrc = (
        f"rvq AS (SELECT vec_id AS query_id, qemb FROM rvqv"
        f" WHERE vec_id < {_IVF_QUERIES})"
    )
    q_route, q_cells = km.route_top_cells_sql(
        "rvq", "query_id", [], _IVFR_NPROBE, supers, cs, EMB_DIM, "rvp"
    )
    return f"""WITH {train},
{router},
{corp_route},
{qsrc},
{q_route},
rvcand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, c.cell,
         {vx.cosine_sql('qq.embedding', 'ee.embedding')} AS cos_sim
  FROM {q_cells} p
  JOIN {corp_cells} c ON c.cell = p.cell AND c.vec_id != p.query_id
  JOIN embeddings ee ON ee.vec_id = c.vec_id
  JOIN embeddings qq ON qq.vec_id = p.query_id
), rvrank AS (
  SELECT query_id, neighbor_id, cell, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM rvcand
)
SELECT query_id, neighbor_id, cell, cos_sim, rn FROM rvrank
WHERE rn <= {_IVF_K}
"""


@register("emb_ivf_ann_routed", oracle=_ivfr_sql())
def emb_ivf_ann_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with the two-level router on the ASYMMETRIC serve
    path (r11, closing the r10 caveat): emb_ivf_ann_trained assigns by
    exact broadcast argmin — O(n·k) folds, the term that explodes once
    cells ∝ corpus; this entry routes BOTH the corpus assignment and
    the query probes through the SAME two-level router
    (operators/kmeans.py, ~(√k + 2k/√k) folds per vector).

    The r10 measurement said exactly how this must be wired: join
    recall survives 60.7% routing disagreement because both sides share
    the router — so for a single-index serve the corpus must be routed
    by the SAME approximate quantizer the queries will use, never by a
    better one (a corpus assigned by exact argmin + queries routed
    approximately lose the cells where the two disagree). Sharing is
    enforced by construction: one TwoLevelRouter instance feeds
    route_top_cells for both sides, and the oracle replicates the whole
    construction (trained cells ∝ n via scalar-subquery k, super
    training, centroid routing, both routings, search), so the hash
    match certifies the asymmetric-consistency wiring itself.

    Scale shape: cells ∝ corpus (one per ~64 vectors, floor 8), queries
    probe nprobe=2 routed cells, candidates are one broadcast equi-join
    on the cell id (the query set is fixed-k — point lookups, the
    emb_ivf_serve family's regime), per-query top-k window."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        vx.norm(F.col("embedding")).alias("nrm"),
        km.quantize(F.col("embedding")).alias("qemb"),
    )
    n = e.count()
    k = max(_IVFR_MIN_CELLS, n // _IVFR_TARGET_CELL)
    # local-relation artifacts: no checkpoint jobs needed (see
    # emb_knn_join_trained's r14 note)
    cents = km.kmeans_train_ranked(
        e.select("vec_id", "qemb"), k, 2, EMB_DIM
    )
    router = km.train_router(cents, EMB_DIM)
    corp = km.route_top_cells(
        router, e, "vec_id", ["embedding", "nrm"], 1
    )
    q = e.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        "qemb",
    )
    probes = km.route_top_cells(
        router, q, "query_id", ["qe", "qnrm"], _IVFR_NPROBE
    ).withColumnRenamed("cell", "pcell")
    cand = corp.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_K)
        .select("query_id", "neighbor_id", "cell", "cos_sim", "rn")
    )


# ---------------------------------------------------------------------------
# Trained product-quantization codebook constants (IVF-PQ family)
# ---------------------------------------------------------------------------

_PQT_ITERS = 2
_PQT_SCALE2 = float(km.FIXED_SCALE) ** 2  # squared-L2 fixed-point unit


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: cluster-confined cosine pruning)
# ---------------------------------------------------------------------------

_SEM_TAU = 0.4  # synthetic corpus: no true near-dups; 0.4 prunes the top ~0.1% of within-cell pairs so the drop path is exercised

_SEM_SQL = f"""{_KM_CTES},
asg AS (SELECT vec_id, cell FROM {_KM_FINAL}),
j AS (
  SELECT asg.vec_id, asg.cell, e.embedding
  FROM asg JOIN embeddings e USING (vec_id)
), drops AS (
  SELECT DISTINCT b.vec_id
  FROM j a JOIN j b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {vx.cosine_sql('a.embedding', 'b.embedding')} > {_SEM_TAU}
)
SELECT j.vec_id, j.cell, d.vec_id IS NULL AS kept
FROM j LEFT JOIN drops d ON d.vec_id = j.vec_id
"""


@register("emb_semantic_dedup", oracle=_SEM_SQL, driver=False)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-style: train k-means (the
    emb_kmeans chain), then WITHIN each cell drop every vector that has a
    lower-id neighbor above cosine tau — pairwise similarity is
    only ever computed cluster-confined, never corpus-wide. Output is the
    full corpus with a kept flag (kept=false ⇒ a near-semantic-duplicate
    of an earlier vector in its cell).

    Deterministic end to end: the cell assignment is the exact fixed-point
    k-means, the cosine is the strict left-to-right double fold, and the
    drop rule (any >τ neighbor with lower vec_id) is order-free — so the
    whole iterative-training + dedup composite hash-matches the oracle.

    Scale shape: the pair join is an equi-join on the trained cell id —
    with k sized so cells hold O(thousands) of vectors (k grows with the
    corpus; SemDeDup used 50k clusters for LAION), per-cell pair
    enumeration is bounded and the join never degenerates to all-pairs.
    The drop set is distinct vec_ids (one shuffle), and the final flag is
    a left join on vec_id.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"))
    asg = km.kmeans_fixed_point(e, _KM_K, _KM_ITERS, EMB_DIM).select(
        "vec_id", "cell"
    )
    j = asg.join(
        e.select("vec_id", "embedding", vx.norm(F.col("embedding")).alias("nrm")),
        "vec_id",
    )
    a = j.alias("a")
    b = j.alias("b")
    cos = vx.dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    drops = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos > _SEM_TAU)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return j.join(drops, "vec_id", "left").select(
        "vec_id", "cell", F.col("_dropped").isNull().alias("kept")
    )


# ---------------------------------------------------------------------------
# ANN recall harness (approximation quality vs the brute-force ground truth)
# ---------------------------------------------------------------------------

_RECALL_SQL = f"""
WITH brute AS ({_KNN_SQL}),
ivf1 AS ({_IVF_SQL}),
ivfm AS ({_IVF_MP_SQL})
SELECT 'ivf_nprobe1' AS variant, b.query_id,
       CAST(COUNT(i.neighbor_id) AS INTEGER) AS n_hits,
       COUNT(i.neighbor_id) / {float(_KNN_K)} AS recall
FROM brute b LEFT JOIN ivf1 i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY 2
UNION ALL
SELECT 'ivf_nprobe{_IVF_NPROBE}', b.query_id,
       CAST(COUNT(i.neighbor_id) AS INTEGER),
       COUNT(i.neighbor_id) / {float(_KNN_K)}
FROM brute b LEFT JOIN ivfm i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY 2
"""


@register("emb_ann_recall", oracle=_RECALL_SQL, driver=False)
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF approximate searches against the brute-force
    ground truth, per query and per variant — the evaluation harness that
    turns "ANN is approximate" into a measured number (and demonstrates
    multi-probe's recall win over nprobe=1 on the same index).

    Composes the registered operators directly (emb_knn_brute /
    emb_ivf_ann / emb_ivf_ann_multiprobe), so this measures exactly what
    users run. Scale shape: top-k outputs are queries×k rows — tiny
    relative to the corpus — so the recall join costs nothing beyond the
    searches themselves; at 100 TB the ground truth comes from a sampled
    query set, which is precisely the _KNN_QUERIES pattern here.
    """
    brute = emb_knn_brute(spark, sf_dir).select("query_id", "neighbor_id")

    def hits(approx: DataFrame, tag: str) -> DataFrame:
        a = approx.select(
            "query_id", F.col("neighbor_id").alias("a_neighbor")
        )
        return (
            brute.join(
                a,
                (brute.query_id == a.query_id)
                & (brute.neighbor_id == a.a_neighbor),
                "left",
            )
            .drop(a.query_id)
            .groupBy("query_id")
            .agg(
                F.count("a_neighbor").cast("int").alias("n_hits"),
                (F.count("a_neighbor") / F.lit(float(_KNN_K))).alias("recall"),
            )
            .select(F.lit(tag).alias("variant"), "query_id", "n_hits", "recall")
        )

    return hits(emb_ivf_ann(spark, sf_dir), "ivf_nprobe1").unionByName(
        hits(emb_ivf_ann_multiprobe(spark, sf_dir), f"ivf_nprobe{_IVF_NPROBE}")
    )


_RECALL_TRAINED_SQL = f"""
WITH brute AS ({_KNN_SQL}),
tivf AS ({_IVFT_SQL})
SELECT 'ivf_trained_nprobe1' AS variant, b.query_id,
       CAST(COUNT(i.neighbor_id) AS INTEGER) AS n_hits,
       COUNT(i.neighbor_id) / {float(_KNN_K)} AS recall
FROM brute b LEFT JOIN tivf i
  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
GROUP BY 2
"""


@register("emb_ann_recall_trained", oracle=_RECALL_TRAINED_SQL, driver=False)
def emb_ann_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TRAINED-cell IVF search (emb_ivf_ann_trained)
    against the brute-force ground truth — extends the recall harness to
    the trained index so the random-centroid vs Lloyd-cell trade is a
    measured number per query, not an argument. Same composition shape
    as emb_ann_recall; kept a separate entry so that query's long-green
    output (and its oracle) stays byte-stable."""
    brute = emb_knn_brute(spark, sf_dir).select("query_id", "neighbor_id")
    a = emb_ivf_ann_trained(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor")
    )
    return (
        brute.join(
            a,
            (brute.query_id == a.query_id)
            & (brute.neighbor_id == a.a_neighbor),
            "left",
        )
        .drop(a.query_id)
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor").cast("int").alias("n_hits"),
            (F.count("a_neighbor") / F.lit(float(_KNN_K))).alias("recall"),
        )
        .select(
            F.lit("ivf_trained_nprobe1").alias("variant"),
            "query_id",
            "n_hits",
            "recall",
        )
    )


# ---------------------------------------------------------------------------
# Trained-cluster diagnostics (index health: sizes, radii, compactness)
# ---------------------------------------------------------------------------

_CSTATS_SQL = f"""{_KM_CTES}
SELECT cell,
       CAST(COUNT(*) AS INTEGER) AS n_members,
       CAST(MIN(dist) AS BIGINT) AS min_sq_dist,
       CAST(MAX(dist) AS BIGINT) AS radius_sq,
       CAST(SUM(dist) AS BIGINT) AS inertia
FROM {_KM_FINAL}
GROUP BY 1
"""


@register("emb_cluster_stats", oracle=_CSTATS_SQL, driver=False)
def emb_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster health stats over the trained k-means assignment: member
    count, min/max squared distance (radius), and inertia (sum of squared
    distances — the quantity Lloyd minimizes). The index-maintenance
    diagnostic that decides when an IVF index needs retraining or a cell
    needs splitting (oversized or high-radius cells → degraded recall).

    All quantities are exact bigints from the fixed-point distances, so
    the full train+diagnose composite hash-matches the oracle. One
    groupBy(cell) over the final assignment — k result rows.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"))
    asg = km.kmeans_fixed_point(e, _KM_K, _KM_ITERS, EMB_DIM)
    return asg.groupBy("cell").agg(
        F.count(F.lit(1)).cast("int").alias("n_members"),
        F.min("dist").cast("long").alias("min_sq_dist"),
        F.max("dist").cast("long").alias("radius_sq"),
        F.sum("dist").cast("long").alias("inertia"),
    )


# ---------------------------------------------------------------------------
# Power-iteration dominant principal component (registry query #125)
# ---------------------------------------------------------------------------

from projekt_data_engineering_iubh_spark.functions.numeric import (  # noqa: E402
    floordiv_expr,
    floordiv_sql,
)

_PC_Q = 1 << 20  # element quantization scale (power of 2: x*Q exact in double)
_PC_SDIV = 1 << 26  # row-score shrink keeps per-dim sums bigint-safe
_PC_VS = 1 << 20  # iterate-vector scale
_PC_ITERS = 3


def _pc_v0(i: int) -> int:
    """Deterministic pseudo-random init (md5-seeded like PLANES): a fixed
    all-ones start could be near-orthogonal to the dominant direction."""
    h = int(hashlib.md5(f"pc0_{i}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) * 1048


PC_V0 = [_pc_v0(i) for i in range(EMB_DIM)]


_PC_FOLD = (
    f"list_reduce(list_transform(range(1, {EMB_DIM + 1}), "
    f"i -> xc[i] * varr[i]), (a, b) -> a + b)"
)


def _pc_ctes() -> str:
    """The shared WITH block: quantize -> center -> 3 power-iteration
    rounds; consumers append their own final SELECT (emb_top_pc_power
    reads the iterates, emb_pc_outliers projects the corpus onto v3)."""
    v0 = "[" + ", ".join(str(v) for v in PC_V0) + "]"
    parts = [
        f"""
WITH xq AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding,
           e -> CAST(FLOOR(CAST(e AS DOUBLE) * {_PC_Q}) AS BIGINT)) AS xq
  FROM embeddings
),
sums AS (
  SELECT u.i - 1 AS dim, SUM(xq[u.i]) AS sx, COUNT(*) AS n
  FROM xq, unnest(range(1, {EMB_DIM + 1})) AS u(i)
  GROUP BY 1
),
means AS MATERIALIZED (
  SELECT dim, {floordiv_sql('sx', 'n')} AS mean_q FROM sums
),
marr AS (SELECT list(mean_q ORDER BY dim) AS marr FROM means),
xc AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(range(1, {EMB_DIM + 1}),
                        i -> xq.xq[i] - marr.marr[i]) AS xc
  FROM xq CROSS JOIN marr
),
v0arr AS (SELECT CAST({v0} AS BIGINT[]) AS varr)"""
    ]
    for k in range(1, _PC_ITERS + 1):
        parts.append(
            f""",
s{k}raw AS (SELECT xc, {_PC_FOLD} AS sr FROM xc CROSS JOIN v{k - 1}arr),
s{k} AS (SELECT xc, {floordiv_sql('sr', str(_PC_SDIV))} AS sp FROM s{k}raw),
t{k} AS MATERIALIZED (
  SELECT u.i - 1 AS dim, SUM({floordiv_sql('xc[u.i] * sp', str(_PC_Q))}) AS t
  FROM s{k}, unnest(range(1, {EMB_DIM + 1})) AS u(i)
  GROUP BY 1
),
m{k} AS (SELECT GREATEST({floordiv_sql('MAX(ABS(t))', str(_PC_VS))}, 1)
         AS mdiv FROM t{k}),
v{k} AS MATERIALIZED (
  SELECT dim, {floordiv_sql('t', 'mdiv')} AS v FROM t{k} CROSS JOIN m{k}
),
v{k}arr AS (SELECT list(v ORDER BY dim) AS varr FROM v{k})"""
        )
    return "".join(parts)


def _pc_sql() -> str:
    return _pc_ctes() + f"""
SELECT CAST(means.dim AS INTEGER) AS dim,
       CAST(means.mean_q AS BIGINT) AS mean_q,
       CAST(v1.v AS BIGINT) AS pc_v1,
       CAST(v2.v AS BIGINT) AS pc_v2,
       CAST(v3.v AS BIGINT) AS pc_v3
FROM means
JOIN v1 ON v1.dim = means.dim
JOIN v2 ON v2.dim = means.dim
JOIN v3 ON v3.dim = means.dim
"""


@register("emb_top_pc_power", oracle=_pc_sql(), driver=False)
def emb_top_pc_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding covariance by POWER
    ITERATION — distributed linear algebra as a lazy DataFrame loop (the
    family k-means and PageRank belong to): 3 synchronous rounds of
    v <- normalize(C v), where C v is never materialized as a matrix —
    each round is ONE pass computing per-row scores s = x_c . v followed
    by ONE 64-group aggregate t = sum_rows(x_c * s), so the plan scales
    to any row count with a fixed tiny shuffle (the d-row aggregate) per
    round. The curation read: the top PC of an embedding corpus captures
    its dominant semantic axis; projections onto it drive corpus
    balancing and outlier detection, and the iterate trajectory
    (v1, v2, v3 all in the verified output) pins every round, not just
    the fixpoint.

    Determinism: elements floor-quantized at 2^20 (a power of two, so
    x * Q is EXACT in double — pure exponent shift — and FLOOR agrees
    bit-exactly cross-engine), then every subsequent op is bigint:
    mean-centering by the floor-divided per-dim mean, row scores shrunk
    by 2^26, per-element contributions by 2^20, and max-|t| renorm to
    the 2^20 scale each round. All divisions go through the sign-safe
    subtract-pmod floor division (functions/numeric.py — BOTH engines'
    integer division truncates toward zero, so bare DIV and // diverge
    from floor on negative operands). Integer sums commute, so the
    result is identical under any partitioning / shuffle order — the
    property plain-double power iteration cannot have.

    Magnitude budget (why it cannot overflow): |x| <= 2 => |xq| <= 2^21,
    |xc| <= 2^22, |v| <= 2^20 => |s| <= 64 * 2^42 = 2^48, |sp| <= 2^22,
    |xc * sp| <= 2^44, per-element contribution <= 2^24, so the per-dim
    sum stays under 2^63 up to ~2^38 (~10^11) rows.

    Scale shape: the quantized-centered matrix is localCheckpointed once
    (six downstream passes — the score + aggregate pair per round — would
    otherwise each replay the scan and mean aggregate; swap to
    checkpoint()/persist on a cluster). Each round's v is a 64-row
    aggregate collapsed to a single-row array and broadcast-crossed back
    onto the rows — never a driver-side collect."""
    means, vs, _xc, _v_arr = _pc_chain(spark, sf_dir)
    out = means
    for k, v in enumerate(vs, start=1):
        out = out.join(v.withColumnRenamed("v", f"pc_v{k}"), "dim")
    return out.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("mean_q").cast("long").alias("mean_q"),
        F.col("pc_v1").cast("long").alias("pc_v1"),
        F.col("pc_v2").cast("long").alias("pc_v2"),
        F.col("pc_v3").cast("long").alias("pc_v3"),
    )


def _pc_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame], DataFrame, DataFrame]:
    """(means, per-round 64-row iterates, checkpointed centered matrix
    with vec_id/label, final single-row iterate array) — the shared
    power-iteration pipeline behind emb_top_pc_power / emb_pc_outliers."""
    e = load_table(spark, sf_dir, "embeddings")
    xq = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(float(_PC_Q))).cast(
                "long"
            ),
        ).alias("xq"),
    )
    ex = xq.select(F.posexplode("xq").alias("dim", "x"))
    sums = ex.groupBy("dim").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    means = sums.select(
        "dim", F.expr(floordiv_expr("sx", "n")).alias("mean_q")
    )
    marr = means.agg(
        F.array_sort(F.collect_list(F.struct("dim", "mean_q"))).alias("ms")
    ).select(F.transform("ms", lambda s: s.mean_q).alias("marr"))
    xc = (
        xq.crossJoin(F.broadcast(marr))
        .select(
            "vec_id",
            "label",
            F.zip_with("xq", "marr", lambda x, m: x - m).alias("xc"),
        )
        .localCheckpoint(eager=True)
    )
    v_arr: DataFrame | None = None  # single-row (varr) after round 1
    vs: list[DataFrame] = []  # per-round 64-row (dim, v)
    for _ in range(_PC_ITERS):
        if v_arr is None:
            with_v = xc.withColumn(
                "varr", F.array(*[F.lit(v) for v in PC_V0]).cast("array<long>")
            )
        else:
            with_v = xc.crossJoin(F.broadcast(v_arr))
        s = F.aggregate(
            F.zip_with("xc", "varr", lambda x, v: x * v),
            F.lit(0).cast("long"),
            lambda a, b: a + b,
        )
        rows = with_v.select("xc", s.alias("sr")).select(
            "xc", F.expr(floordiv_expr("sr", str(_PC_SDIV))).alias("sp")
        )
        t = (
            rows.select(F.posexplode("xc").alias("dim", "x"), "sp")
            .groupBy("dim")
            .agg(
                F.sum(F.expr(floordiv_expr("x * sp", str(_PC_Q)))).alias("t")
            )
        )
        m_row = t.agg(F.max(F.abs(F.col("t"))).alias("mx")).select(
            F.greatest(
                F.expr(floordiv_expr("mx", str(_PC_VS))), F.lit(1).cast("long")
            ).alias("mdiv")
        )
        v = (
            t.crossJoin(F.broadcast(m_row))
            .select("dim", F.expr(floordiv_expr("t", "mdiv")).alias("v"))
            # materialize the 64-row iterate: round k+1's score pass and
            # the final join both re-evaluate v's WHOLE upstream
            # otherwise, compounding per round (measured: 22 re-reads of
            # the checkpointed matrix / 42 shuffles in the final plan ->
            # 3 refs / 4 shuffles, one data pass per round)
            .localCheckpoint(eager=True)
        )
        vs.append(v)
        v_arr = v.agg(
            F.array_sort(F.collect_list(F.struct("dim", "v"))).alias("vv")
        ).select(F.transform("vv", lambda x: x.v).alias("varr"))
    assert v_arr is not None
    return means, vs, xc, v_arr


# ---------------------------------------------------------------------------
# PC-projection outlier screen (registry query #129)
# ---------------------------------------------------------------------------

_PC_OUTLIERS_SQL = (
    _pc_ctes()
    + f""",
proj AS MATERIALIZED (
  SELECT label, {floordiv_sql('sr', str(_PC_SDIV))} AS proj
  FROM (SELECT label, {_PC_FOLD} AS sr FROM xc CROSS JOIN v3arr)
),
g AS (
  SELECT CAST(SUM(proj * proj) AS BIGINT) AS s2,
         CAST(COUNT(*) AS BIGINT) AS n_total
  FROM proj
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST({floordiv_sql('SUM(proj)', 'COUNT(*)')} AS BIGINT) AS mean_proj,
       CAST(MIN(proj) AS BIGINT) AS min_proj,
       CAST(MAX(proj) AS BIGINT) AS max_proj,
       CAST(SUM(CASE WHEN CAST(proj * proj AS DOUBLE) * n_total
                          > 9.0 * CAST(s2 AS DOUBLE)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM proj CROSS JOIN g
GROUP BY 1
"""
)


@register("emb_pc_outliers", oracle=_PC_OUTLIERS_SQL, driver=False)
def emb_pc_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The USE of the trained component (emb_top_pc_power): project
    every embedding onto the round-3 iterate and screen for semantic
    outliers — vectors whose |projection| exceeds 3x the corpus RMS
    along the dominant axis (the embedding-space analog of the
    median/MAD value screen, and the balancing diagnostic: per-label
    projection means show which clusters sit where on the corpus's
    principal direction).

    Determinism: the projection is the SAME bigint fold as the training
    rounds (shrunk by 2^26, floor division); the only doubles are the
    final 3-sigma comparison CAST(proj^2) * n > 9 * sum(proj^2) — casts
    and comparisons of bit-identical operands, no accumulation order
    anywhere (the sum inside g is bigint: |proj| <= 2^22 keeps
    sum(proj^2) exact to ~2^18 rows at worst-case magnitude and far
    beyond at observed magnitudes; at larger corpora shrink proj one
    more power of two).

    Scale shape: one pass over the checkpointed centered matrix, a
    1-row global aggregate broadcast-crossed back, and a label-keyed
    groupBy — same fixed-shuffle shape as the training rounds."""
    _means, _vs, xc, v_arr = _pc_chain(spark, sf_dir)
    s = F.aggregate(
        F.zip_with("xc", "varr", lambda x, v: x * v),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    proj = (
        xc.crossJoin(F.broadcast(v_arr))
        .select("label", s.alias("sr"))
        .select(
            "label", F.expr(floordiv_expr("sr", str(_PC_SDIV))).alias("proj")
        )
    )
    g = proj.agg(
        F.sum(F.col("proj") * F.col("proj")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    return (
        proj.crossJoin(F.broadcast(g))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(floordiv_expr("SUM(proj)", "COUNT(*)"))
            .cast("long")
            .alias("mean_proj"),
            F.min("proj").cast("long").alias("min_proj"),
            F.max("proj").cast("long").alias("max_proj"),
            F.sum(
                F.when(
                    F.col("proj").cast("double")
                    * F.col("proj").cast("double")
                    * F.col("n_total").cast("double")
                    > F.lit(9.0) * F.col("s2").cast("double"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            "n",
            "mean_proj",
            "min_proj",
            "max_proj",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ with residual codebooks (registry query #141)
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2


def _ivfpq_sql(
    normalized: bool = False,
    pq_m: int = _PQ_M,
    pq_codes: int = _PQ_CODES,
    topk: int = _PQ_K,
    train_max: int | None = None,
    delete_where: str | None = None,
    query_where: str | None = None,
    corpus_where: str | None = None,
    refine: tuple[int, int] | None = None,
) -> str:
    """The full IVF-PQ oracle: coarse k-means CTE chain -> residuals ->
    per-subspace k-means on residual slices -> encoded corpus ->
    nprobe-2 probed cells per query -> per-(query, cell) residual ADC
    -> top-k, with the exact fixed-point distance alongside.
    ``normalized=True`` mirrors _ivfpq_train's cosine-faithful variant
    (unit-normalize before quantization); ``pq_m``/``pq_codes`` pick the
    codebook geometry (the cos variant uses a finer one — recall is
    bounded by bits/dim, not by the metric: r9 matrix).
    ``delete_where`` (a predicate over ``x.vec_id``) restricts the
    CANDIDATE corpus only — queries, training, and encoding are
    untouched — mirroring a tombstoned serving index: per-row encode is
    independent, so searching encode-all-minus-deleted equals searching
    a from-scratch encode of the surviving corpus.

    The r11 JOIN face: ``query_where`` (predicate over ``q.vec_id``)
    replaces the fixed-k query filter with an arbitrary one (a
    corpus-sized query side), ``corpus_where`` (over ``x.vec_id``)
    restricts candidates symmetrically, and ``refine=(R, k)`` switches
    the tail to the two-stage production ranking: ADC top-R shortlist
    per query, then exact fixed-point re-rank of the shortlist to
    top-k. All three default off — every pre-r11 oracle string is
    byte-identical."""
    subdim = EMB_DIM // pq_m
    parts = []
    # coarse quantizer (same geometry as the trained IVF). With
    # train_max set, TRAINING sees only vec_id < train_max (the frozen
    # "v1 corpus") while encoding/search cover the full table — the
    # append-without-retrain contract (FAISS add): codebooks never move,
    # late vectors are encoded against them.
    qsql = (
        km.quantize_normalized_sql if normalized else km.quantize_sql
    )
    train_where = (
        f" WHERE vec_id < {train_max}" if train_max is not None else ""
    )
    src = (
        f"SELECT vec_id, {qsql('embedding')} AS qemb FROM embeddings"
        f"{train_where}"
    )
    cctes, ccent = km.kmeans_train_sql_ctes(
        src, _KM_K, _KM_ITERS, EMB_DIM, "cv"
    )
    parts.append(cctes)
    if train_max is not None:
        parts.append(
            f"encv AS (SELECT vec_id, {qsql('embedding')} AS qemb"
            f" FROM embeddings)"
        )
        enc_view = "encv"
    else:
        enc_view = "cvqv"
    parts.append(
        f"casg AS ({km._assign_sql(enc_view, ccent, EMB_DIM)})"
    )
    # residuals (vec_id, cell, qemb, remb). MATERIALIZED: DuckDB inlines
    # a plain CTE at every reference site, and res feeds the four
    # subspace chains plus the candidate join — five re-executions of
    # the coarse pipeline otherwise (the known trap; at sf1 it OOMs).
    parts.append(
        f"res AS MATERIALIZED (SELECT a.vec_id, a.cell, a.qemb,"
        f" list_transform(range(1, {EMB_DIM} + 1),"
        f" i -> a.qemb[i] - c.cq[i]) AS remb"
        f" FROM casg a JOIN {ccent} c USING (cell))"
    )
    # per-subspace codebooks trained on residual slices + encoding
    encs = []
    for m in range(pq_m):
        sub_src = (
            f"SELECT vec_id, {_pq_sub_sql('remb', m, subdim)} AS qemb"
            f" FROM res{train_where}"
        )
        ctes, cent = km.kmeans_train_sql_ctes(
            sub_src, pq_codes, _PQT_ITERS, subdim, f"r{m}"
        )
        parts.append(ctes)
        # encode the FULL corpus against the trained books: with
        # train_max, r{m}qv is the training subset only — a separate
        # full-residual view keeps late vectors encodable (the silent
        # inner-join drop this split exists to avoid)
        if train_max is not None:
            parts.append(
                f"r{m}ev AS (SELECT vec_id,"
                f" {_pq_sub_sql('remb', m, subdim)} AS qemb FROM res)"
            )
            enc_src = f"r{m}ev"
        else:
            enc_src = f"r{m}qv"
        parts.append(
            f"r{m}enc AS (SELECT a.vec_id, a.cell, c.cq FROM "
            f"({km._assign_sql(enc_src, cent, subdim)}) a "
            f"JOIN {cent} c USING (cell))"
        )
        encs.append(f"r{m}enc")
    # queries: nprobe nearest coarse cells by exact centroid distance
    cdist = (
        f"list_reduce(list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> (q.qemb[i] - c.cq[i]) * (q.qemb[i] - c.cq[i])), "
        f"(x, y) -> x + y)"
    )
    parts.append(
        f"qp AS (SELECT query_id, qq, cell AS pcell, cq AS pcq FROM ("
        f"  SELECT q.vec_id AS query_id, q.qemb AS qq, c.cell, c.cq,"
        f"         ROW_NUMBER() OVER (PARTITION BY q.vec_id"
        f"             ORDER BY {cdist}, c.cell) AS prn"
        f"  FROM {enc_view} q CROSS JOIN {ccent} c"
        f"  WHERE {query_where or f'q.vec_id < {_PQ_QUERIES}'}"
        f") WHERE prn <= {_IVFPQ_NPROBE})"
    )
    # query residual against EACH probed cell's centroid
    parts.append(
        f"qr AS (SELECT query_id, qq, pcell,"
        f" list_transform(range(1, {EMB_DIM} + 1),"
        f" i -> qq[i] - pcq[i]) AS qres FROM qp)"
    )
    adc = " + ".join(
        f"list_reduce(list_transform(range(1, {subdim} + 1), "
        f"i -> (q.qres[{m * subdim} + i] - e{m}.cq[i])"
        f" * (q.qres[{m * subdim} + i] - e{m}.cq[i])), (x, y) -> x + y)"
        for m in range(pq_m)
    )
    exact = (
        f"list_reduce(list_transform(range(1, {EMB_DIM} + 1), "
        f"i -> (q.qq[i] - x.qemb[i]) * (q.qq[i] - x.qemb[i])), "
        f"(x, y) -> x + y)"
    )
    enc_joins = " ".join(
        f"JOIN {e} e{m} ON e{m}.vec_id = x.vec_id"
        for m, e in enumerate(encs)
    )
    parts.append(
        f"cand AS (SELECT q.query_id, x.vec_id AS neighbor_id,"
        f" x.cell AS cell,"
        f" CAST({adc} AS DOUBLE) / {_PQT_SCALE2!r} AS adc_dist,"
        f" CAST({exact} AS DOUBLE) / {_PQT_SCALE2!r} AS exact_dist"
        f" FROM qr q JOIN res x"
        f" ON x.cell = q.pcell AND x.vec_id != q.query_id {enc_joins}"
        + (
            " WHERE " + " AND ".join(
                c for c in (corpus_where, delete_where) if c
            )
            if (corpus_where or delete_where)
            else ""
        )
        + ")"
    )
    if refine is not None:
        shortlist, k = refine
        return (
            "WITH "
            + ",\n".join(parts)
            + f"""
, short AS (
  SELECT query_id, neighbor_id, cell, adc_dist, exact_dist FROM (
    SELECT query_id, neighbor_id, cell, adc_dist, exact_dist,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adc_dist, neighbor_id) AS arn
    FROM cand
  ) WHERE arn <= {shortlist}
), rr AS (
  SELECT query_id, neighbor_id, cell, adc_dist, exact_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY exact_dist, neighbor_id) AS INTEGER) AS rn
  FROM short
)
SELECT query_id, neighbor_id, cell, adc_dist, exact_dist, rn
FROM rr WHERE rn <= {k}
"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
, r AS (
  SELECT query_id, neighbor_id, cell, adc_dist, exact_dist,
         abs(adc_dist - exact_dist) AS abs_err,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc_dist, neighbor_id) AS INTEGER) AS rn
  FROM cand
)
SELECT query_id, neighbor_id, cell, adc_dist, exact_dist, abs_err, rn
FROM r WHERE rn <= {topk}
"""
    )


_IVFPQ_SQL = _ivfpq_sql()


@register("emb_ivfpq_residual", oracle=_IVFPQ_SQL, driver=False)
def emb_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL codebooks — the full FAISS-style composition
    the family was missing: a trained coarse quantizer routes the
    search (nprobe=2 cells per query), and product quantization encodes
    the residual x - centroid(cell) rather than x itself, which is what
    makes PQ codes sharp at scale (residuals are centered near zero, so
    the same 4x16 codebook geometry spends its precision on the
    within-cell structure instead of re-encoding cell location).

    Everything stays exact fixed-point: coarse training, residuals,
    per-subspace Lloyd rounds on residual slices, and ADC tables are
    bigint end to end (residual magnitude <= 2^21 keeps every squared
    term under 2^46); the only doubles are the final power-of-two
    rescale — so the whole trained index hash-matches DuckDB.

    Search shape: per query, the ADC table is computed per PROBED CELL
    (the query's residual differs per cell — the part naive IVF+PQ
    compositions get wrong); candidates join on the cell equi-key, so
    each query scans nprobe cells' codes, never the corpus. Each
    candidate lives in exactly one cell, so probes cannot duplicate.
    At 100 TB: codes (4 bytes/vector) are the stored index, training
    runs on a sample, and the cell equi-join is the same bucketed
    shape as every other ANN path here.

    Codebooks are k x dim driver literals (8x64 coarse + 4x16x16
    residual — never data-sized)."""
    qv, _cells, coarse_cells, coarse_cqs, _bcells, books, codes = (
        _ivfpq_train(spark, sf_dir)
    )
    return _ivfpq_search(qv, coarse_cells, coarse_cqs, books, codes)


def _isq(a: F.Column, b: F.Column) -> F.Column:
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(sq, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _train_books(
    res: DataFrame,
    pq_m: int,
    pq_codes: int,
    iters: int,
    subdim: int,
    seeds: list | None = None,
) -> tuple[list, list]:
    """Train ALL ``pq_m`` residual sub-codebooks in ONE stacked Lloyd
    loop (r13): the per-subspace trainings are independent, so instead
    of pq_m sequential km.kmeans_train calls (each paying its own seed
    job + per-round jobs — measured 6.4 s for M=4 at sf0.1), the
    subspace slices stack under an ``m`` column (posexplode of the M
    slices) and every round is one job: a map-only per-(m, row) argmin
    against that subspace's CURRENT codebook literals, then one
    groupBy(m, cell) mean update. Arithmetic per (m, cell) group is
    exactly km.kmeans_train's — same seeds (vec_id < pq_codes), same
    integer distances, same floor'd means, same lowest-cell tie-break —
    so the codebooks are bit-identical to the sequential path (pinned
    by tests/test_pq_books_stacked.py). Returns (book_cells, books)
    sorted by cell within each m.

    ``seeds`` (r14): the per-m seed lists ``[[(cell, cq), ...], ...]``
    when the caller already derived them driver-side (_ivfpq_train
    derives them with :func:`_book_seeds` from its one widened seed
    collect — pure python, bit-identical arithmetic, one fewer Spark
    job); None keeps the self-collecting path. Both give the same books
    — pinned, including an exact tie in the coarse assignment, by
    tests/test_pq_books_stacked.py::test_derived_seeds_equal_self_collected*."""
    slices = ",".join(
        f"slice(remb, {m * subdim + 1}, {subdim})" for m in range(pq_m)
    )
    stacked = res.selectExpr(
        "vec_id", f"posexplode(array({slices})) AS (m, qemb)"
    )
    if seeds is None:
        seed_rows = (
            stacked.filter(F.col("vec_id") < pq_codes)
            .selectExpr("m", "CAST(vec_id AS INT) AS cell", "qemb")
            .collect()
        )
        # cents[m] = [(cell, cq)] sorted by cell — mirrors each book's
        # own kmeans_train seed set
        cents: list[list] = [[] for _ in range(pq_m)]
        for r in seed_rows:
            cents[r.m].append((int(r.cell), list(r.qemb)))
        for m in range(pq_m):
            cents[m].sort()
    else:
        cents = [sorted(s) for s in seeds]
    for _ in range(iters):
        books_arr = (
            "array("
            + ",".join(
                "array(" + ",".join(_arr_sql(cq) for _, cq in cents[m]) + ")"
                for m in range(pq_m)
            )
            + ")"
        )
        cells_arr = (
            "array("
            + ",".join(_arr_sql([c for c, _ in cents[m]]) for m in range(pq_m))
            + ")"
        )
        asg = stacked.selectExpr(
            "m",
            "qemb",
            f"transform(element_at({books_arr}, m + 1),"
            f" cq -> {_isq_sql('qemb', 'cq')}) AS _cd",
            f"element_at({cells_arr}, m + 1) AS _cells",
        ).selectExpr(
            "m",
            "qemb",
            "element_at(_cells,"
            " CAST(array_position(_cd, array_min(_cd)) AS INT)) AS cell",
        )
        rows = asg.groupBy("m", "cell").agg(
            *[
                F.expr(
                    f"CAST(floor(CAST(sum(element_at(qemb, {i + 1}))"
                    f" AS DOUBLE) / CAST(count(1) AS DOUBLE)) AS BIGINT)"
                    f" AS m{i}"
                )
                for i in range(subdim)
            ]
        ).collect()
        cents = [[] for _ in range(pq_m)]
        for r in rows:
            cents[r.m].append(
                (int(r.cell), [r[f"m{i}"] for i in range(subdim)])
            )
        for m in range(pq_m):
            cents[m].sort()
    book_cells = [[c for c, _ in cents[m]] for m in range(pq_m)]
    books = [[q for _, q in cents[m]] for m in range(pq_m)]
    return book_cells, books


def _ivfpq_train(
    spark: SparkSession,
    sf_dir: str,
    normalized: bool = False,
    pq_m: int = _PQ_M,
    pq_codes: int = _PQ_CODES,
) -> tuple[DataFrame, DataFrame, list, list, list, list, DataFrame]:
    """IVF-PQ training + corpus encoding, shared by the inline entry and
    the index BUILD: returns (qv, cell assignment, coarse cell ids,
    coarse centroids, per-book cell ids, residual codebooks, encoded
    codes with qemb attached). Codebooks are k×dim driver literals.

    ``normalized=True`` unit-normalizes every vector BEFORE fixed-point
    quantization (km.quantize_normalized) so L2/ADC order == cosine
    order — the cosine-faithful index variant (r9).

    The corpus is scanned, spread and quantized ONCE: ``qv`` is a lazy
    localCheckpoint that the widened seed collect below fills (it
    computes every partition; Spark's LocalRDDCheckpointData would run
    any it missed). The coarse Lloyd rounds, the residual checkpoint and
    the caller's query/refine sides all read that checkpoint instead of
    re-scanning, re-spreading and re-quantizing ``embeddings`` per job —
    no new job, the seed collect was already there."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    q = km.quantize_normalized if normalized else km.quantize
    qv = e.select("vec_id", q(F.col("embedding")).alias("qemb"))
    qv = qv.localCheckpoint(eager=False)
    # ONE widened seed collect (r14), which also fills qv's checkpoint:
    # the coarse trainer needs the vec_id < _KM_K rows, the M
    # sub-codebooks need the vec_id < pq_codes residuals — both
    # constant-size. Collect the union once; the book seeds' coarse
    # assignment + residual are re-derived in pure python with the same
    # integer arithmetic/tie-break as _ivfpq_residuals (_book_seeds,
    # pinned by tests/test_pq_books_stacked.py), so the stacked
    # trainer's own seed job disappears.
    seed_rows = (
        qv.filter(F.col("vec_id") < max(_KM_K, pq_codes))
        .select("vec_id", "qemb")
        .collect()
    )
    seed_rows.sort(key=lambda r: r.vec_id)
    coarse_seeds = sorted(
        (int(r.vec_id), list(r.qemb))
        for r in seed_rows
        if r.vec_id < _KM_K
    )
    cents = km._train_literal(qv, coarse_seeds, _KM_ITERS, EMB_DIM)
    coarse_cells = [c for c, _ in cents]
    coarse_cqs = [list(cq) for _, cq in cents]

    res = _ivfpq_residuals(qv, coarse_cells, coarse_cqs).localCheckpoint(
        eager=True
    )

    subdim = EMB_DIM // pq_m
    book_seeds = _book_seeds(seed_rows, coarse_cqs, pq_m, pq_codes, subdim)
    book_cells, books = _train_books(
        res, pq_m, pq_codes, _PQT_ITERS, subdim, seeds=book_seeds
    )

    codes = _ivfpq_encode_residuals(res, books, subdim)
    asg = res.select("vec_id", "cell")
    return qv, asg, coarse_cells, coarse_cqs, book_cells, books, codes


def _book_seeds(
    seed_rows: list, coarse_cqs: list, pq_m: int, pq_codes: int, subdim: int
) -> list[list]:
    """_train_books' per-m seed lists from collected (vec_id, qemb) rows:
    the vec_id < pq_codes rows' residual slices against their nearest
    coarse centroid, with _ivfpq_residuals' integer distance and
    first-index (lowest cell) tie-break, in pure python."""
    book_seeds: list[list] = [[] for _ in range(pq_m)]
    for r in seed_rows:
        if r.vec_id >= pq_codes:
            continue
        qemb = list(r.qemb)
        ds = [km._py_sq(qemb, cq) for cq in coarse_cqs]
        remb = [
            x - c for x, c in zip(qemb, coarse_cqs[ds.index(min(ds))])
        ]
        for m in range(pq_m):
            book_seeds[m].append(
                (int(r.vec_id), remb[m * subdim:(m + 1) * subdim])
            )
    return book_seeds


def _arr_sql(vals: list) -> str:
    return "array(" + ",".join(str(int(v)) for v in vals) + ")"


# Parsed-expression memo (r14, VERDICT r13 #6): the IVF-PQ residual/
# encode/query-table projections embed the codebooks as literal SQL text
# — ~300 KB of expression string at M=16 books × 16 codes — and the
# PARSE of that text measured ~1.4 s of the streaming ingest's
# per-trigger wall (the codebooks are FROZEN across a root's
# generations, so every trigger re-parsed identical text). This caches
# the unresolved Column per exact expression string: pure compile
# state, the same class as the JVM's janino codegen cache — no data, no
# results, keyed by the full text so a different codebook is a
# different entry. Bounded: least-recently-used eviction past
# _EXPR_CACHE_MAX distinct strings (long-lived test sessions touch many
# roots), under a lock — emb_knn_join_recall builds plans from two
# driver threads, and a miss parses its text once while the other
# thread waits for that parse.
class _LruMemo:
    """Bounded, thread-safe memo of ``build(key)``: least-recently-used
    eviction past ``maxsize`` entries; concurrent misses on one key call
    ``build`` once. A failed build is not cached. ``get`` may pass its
    own ``build`` when the value depends on more than the key (the
    session that loads it)."""

    def __init__(self, build, maxsize: int):
        self._build, self._maxsize = build, maxsize
        self._lock = threading.Lock()
        self._entries: OrderedDict[Hashable, Future] = OrderedDict()

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()

    def get(self, key: Hashable, build=None):
        build = build or self._build
        with self._lock:
            fut = self._entries.get(key)
            miss = fut is None
            if miss:
                fut = self._entries[key] = Future()
                if len(self._entries) > self._maxsize:
                    self._entries.popitem(last=False)
            else:
                self._entries.move_to_end(key)
        if miss:
            try:
                fut.set_result(build(key))
            except BaseException as e:
                with self._lock:
                    if self._entries.get(key) is fut:
                        del self._entries[key]
                fut.set_exception(e)
        return fut.result()


_EXPR_CACHE_MAX = 256
_EXPR_CACHE = _LruMemo(F.expr, _EXPR_CACHE_MAX)
_cached_expr = _EXPR_CACHE.get


def _isq_sql(a: str, b: str) -> str:
    """SQL text of _isq(a, b) — same expressions, parsed JVM-side."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _ivfpq_residuals(
    qv: DataFrame, coarse_cells: list, coarse_cqs: list
) -> DataFrame:
    """(vec_id, qemb) -> (vec_id, cell, qemb, remb): coarse argmin
    assignment against the collected centroid literals plus the
    residual. Tiebreak (first index of the min over cells sorted
    ascending == lowest cell id) replicates km._assign_sql exactly —
    shared by training-time encoding AND the append path, so appended
    vectors get byte-identical codes to a from-scratch encode.

    Built as ONE selectExpr string (the same expressions the Column API
    produced — zip_with/aggregate integer folds), not per-literal
    Column calls: the k x dim codebook literals cost thousands of py4j
    round trips through F.lit/F.array, which the r10 streaming-ingest
    profile measured at ~6 s of pure DRIVER time per micro-batch
    against ~1 s of cluster work. One string parse is ~20x cheaper and
    bit-identical (integer arithmetic end to end)."""
    cdists = (
        "array("
        + ",".join(_isq_sql("qemb", _arr_sql(cq)) for cq in coarse_cqs)
        + ")"
    )
    cidx = f"CAST(array_position({cdists}, array_min({cdists})) AS INT)"
    coarse_arr = "array(" + ",".join(_arr_sql(cq) for cq in coarse_cqs) + ")"
    # _cached_expr: the literal text is constant per codebook — parsed
    # once per process, not once per plan (see _EXPR_CACHE)
    withcell = qv.select(
        "vec_id",
        "qemb",
        _cached_expr(
            f"element_at({_arr_sql(coarse_cells)}, {cidx})"
        ).alias("cell"),
        _cached_expr(f"element_at({coarse_arr}, {cidx})").alias("cvec"),
    )
    return withcell.select(
        "vec_id",
        "cell",
        "qemb",
        _cached_expr("zip_with(qemb, cvec, (x, c) -> x - c)").alias("remb"),
    )


def _ivfpq_encode_residuals(
    res: DataFrame, books: list, subdim: int
) -> DataFrame:
    """(vec_id, cell, qemb, remb) -> encoded codes (vec_id, cell, qemb,
    c0..c{M-1}): per-subspace argmin against the trained codebooks
    (positional 0-based code ids over books sorted by cell). SQL-string
    construction for the same driver-latency reason as
    _ivfpq_residuals."""
    code_cols = []
    for m, cqs in enumerate(books):
        sub = f"slice(remb, {m * subdim + 1}, {subdim})"
        dists = (
            "array("
            + ",".join(_isq_sql(sub, _arr_sql(cq)) for cq in cqs)
            + ")"
        )
        code_cols.append(
            _cached_expr(
                f"CAST(array_position({dists}, array_min({dists})) - 1"
                f" AS INT)"
            ).alias(f"c{m}")
        )
    return res.select("vec_id", "cell", "qemb", *code_cols)


def _ivfpq_query_tables(
    qd: DataFrame,
    coarse_cells: list,
    coarse_cqs: list,
    books: list,
    nprobe: int,
) -> DataFrame:
    """(query_id, qq) → one row per (query, probed cell) carrying the
    per-subspace ADC table columns t0..t{M-1} (arrays of bigint squared
    distances to each book centroid, computed from the query's residual
    against THAT cell's centroid — the per-probed-cell residual that
    naive IVF+PQ compositions get wrong). The tables are tiny
    (M × codes longs) and RIDE THE ROW, so the same helper serves both
    the broadcast point-lookup path (fixed-k queries,
    _ivfpq_search) and the corpus-sized shuffled JOIN path
    (emb_knn_join_adc) unchanged. Geometry is derived from ``books``
    (m = len(books), subdim = len(books[0][0])) — any codebook shape
    routes correctly.

    Built as selectExpr STRINGS (the same Catalyst expressions the
    Column API produced), not per-literal Column calls — the same
    driver-latency fix as _ivfpq_residuals: at M=16 books x 16 codes
    the F.lit/F.array literal trees cost ~9 s of pure py4j DRIVER time
    per construction (measured r13, emb_knn_join_serve); one string
    parse is ~100x cheaper and bit-identical."""
    pq_m = len(books)
    subdim = len(books[0][0])
    pdists = (
        "array("
        + ",".join(_isq_sql("qq", _arr_sql(cq)) for cq in coarse_cqs)
        + ")"
    )
    cell_lit = _arr_sql(coarse_cells)
    coarse_arr = "array(" + ",".join(_arr_sql(cq) for cq in coarse_cqs) + ")"
    ranked = (
        f"array_sort(zip_with({pdists},"
        f" sequence(0, {len(coarse_cells) - 1}),"
        f" (d, i) -> named_struct('d', d, 'i', i)))"
    )
    # _cached_expr everywhere a codebook literal is embedded: the text
    # is constant per (coarse, books) — parsed once per process
    probes = qd.select(
        "query_id",
        "qq",
        _cached_expr(
            f"posexplode(slice({ranked}, 1, {nprobe}))"
        ).alias("prn", "probe"),
    ).select(
        "query_id",
        "qq",
        _cached_expr(f"element_at({cell_lit}, probe.i + 1)").alias("pcell"),
        _cached_expr(
            f"zip_with(qq, element_at({coarse_arr}, probe.i + 1),"
            f" (x, c) -> x - c)"
        ).alias("qres"),
    )
    table_cols = [
        _cached_expr(
            "array("
            + ",".join(
                _isq_sql(
                    f"slice(qres, {m * subdim + 1}, {subdim})", _arr_sql(cq)
                )
                for cq in books[m]
            )
            + ")"
        ).alias(f"t{m}")
        for m in range(pq_m)
    ]
    return probes.select("query_id", "qq", "pcell", *table_cols)


def _ivfpq_search(
    qv: DataFrame,
    coarse_cells: list,
    coarse_cqs: list,
    books: list,
    codes: DataFrame,
) -> DataFrame:
    """nprobe-cell probed residual-ADC search over encoded codes
    (vec_id, cell, qemb, c0..c{M-1}): shared by the inline entry and
    the stored-index SERVE entry. When ``codes`` carries no qemb column
    (the LEAN serve path), the exact_dist/abs_err verification columns
    are omitted and the answer comes from the 2-byte codes alone — no
    corpus join anywhere."""
    coarse_arr = F.array(
        *[F.array(*[F.lit(v) for v in cq]) for cq in coarse_cqs]
    )
    cell_lit = F.array(*[F.lit(c) for c in coarse_cells])
    isq = _isq

    # queries: nprobe nearest coarse cells, then a per-(query, cell)
    # residual ADC table against the same literal codebooks
    qd = qv.filter(F.col("vec_id") < _PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qemb").alias("qq")
    )
    qtables = _ivfpq_query_tables(
        qd, coarse_cells, coarse_cqs, books, _IVFPQ_NPROBE
    )

    adc = sum(
        F.element_at(F.col(f"t{m}"), F.col(f"c{m}") + 1)
        for m in range(len(books))
    )
    lean = "qemb" not in codes.columns
    proj = [
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (adc.cast("double") / F.lit(_PQT_SCALE2)).alias("adc_dist"),
    ]
    if not lean:
        proj.append(
            (
                isq(F.col("qq"), F.col("qemb")).cast("double")
                / F.lit(_PQT_SCALE2)
            ).alias("exact_dist")
        )
    cand = codes.join(
        F.broadcast(qtables),
        (F.col("cell") == F.col("pcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(*proj)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    if not lean:
        cand = cand.withColumn(
            "abs_err", F.abs(F.col("adc_dist") - F.col("exact_dist"))
        )
    out_cols = ["query_id", "neighbor_id", "cell", "adc_dist"] + (
        [] if lean else ["exact_dist", "abs_err"]
    )
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _PQ_K)
        .select(*out_cols, "rn")
    )


def _plain_pq_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain (non-residual) trained PQ, unregistered: the reference arm
    of tests/test_curation_props.py::test_ivfpq_residual_beats_plain_pq_error,
    which pins emb_ivfpq_residual's ADC error strictly below it. Plain PQ
    is IVF-PQ with ONE all-zero coarse centroid (every residual is the
    vector itself), so it is the IVF-PQ helpers with cells ``[0]``: the
    same 4x16 stacked books, codes and ADC search, minus the cell
    column — (query_id, neighbor_id, adc_dist, exact_dist, abs_err, rn)."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    qv = e.select("vec_id", km.quantize(F.col("embedding")).alias("qemb"))
    cells, cqs = [0], [[0] * EMB_DIM]
    res = _ivfpq_residuals(qv, cells, cqs)
    _book_cells, books = _train_books(
        res, _PQ_M, _PQ_CODES, _PQT_ITERS, _PQ_SUBDIM
    )
    codes = _ivfpq_encode_residuals(res, books, _PQ_SUBDIM)
    return _ivfpq_search(qv, cells, cqs, books, codes).drop("cell")


# ---------------------------------------------------------------------------
# ADC-candidate kNN JOIN: PQ scoring for candidates, exact refine of the
# shortlist — the compute shape that affords coverage at scale
# ---------------------------------------------------------------------------

_ADCJ_SHORTLIST = 30
_ADCJ_K = 10
_ADCJ_SLICES = 4

_ADCJ_SQL = _ivfpq_sql(
    normalized=True,
    query_where="q.vec_id % 2 = 0",
    corpus_where="x.vec_id % 2 = 1",
    refine=(_ADCJ_SHORTLIST, _ADCJ_K),
)


@register("emb_knn_join_adc", oracle=_ADCJ_SQL)
def emb_knn_join_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN JOIN with PQ/ADC candidate scoring + exact refine (r11) —
    the third member of the join family and the COMPUTE answer to the
    coverage question: emb_knn_join_trained buys recall with nprobe,
    but every candidate there pays a full 64-dim exact cosine; here a
    candidate costs M=4 table lookups + 3 adds (the FAISS IVFADC batch
    shape). Measured end-to-end (tools/adc_join_cost.py, 20k corpus):
    2.4× cheaper per candidate pair (1.55 vs 3.72 s/Mpair) — the
    kernel gap is larger but the per-candidate join/shuffle/window
    overhead is shared, so the full 64-dim fold must dominate the row
    cost before the naive kernel ratio shows through. Coverage per
    compute therefore improves by the measured 2.4×, and
    exactness is restored where it matters — a per-query top-30
    ADC shortlist is re-ranked by the EXACT fixed-point distance
    (normalized codes: L2 order == cosine order) for the final top-k.

    Spark shape: the per-(query, probed-cell) ADC tables are tiny
    (M × codes longs) and RIDE THE CANDIDATE ROW
    (_ivfpq_query_tables — the same helper the broadcast point-lookup
    serve uses), so the corpus-sized query side needs no driver
    round-trip and no broadcast: candidates come from the same
    salted sort-merge equi-join on (cell, slice) as #152/#153
    (`.hint("merge")`, 4 hash slices, query-side replication), ADC is
    an element_at per subspace, and the two-stage ranking is two
    windows (ADC top-30, exact top-k over the survivors).

    The ORACLE (_ivfpq_sql with query_where / corpus_where / refine)
    re-derives the trained coarse quantizer, residual codebooks,
    encoded corpus, per-probed-cell query residuals, ADC, and BOTH
    ranking stages — the hash certifies the full compressed-domain
    join, shortlist cut included."""
    qv, _asg, cells, cqs, _bcells, books, codes = _ivfpq_train(
        spark, sf_dir, normalized=True
    )
    # candidates carry ONLY (ids, cell, adc_dist) into the shortlist
    # window (r13, guide §2.3 project-before-the-exchange): the exact
    # 64-dim integer fold was previously computed for EVERY candidate
    # (~526k at sf0.1) and both vectors rode the window shuffle, though
    # exact_dist is consumed only by the per-query top-{_ADCJ_SHORTLIST}
    # refine — the same fetch-for-rerank shape emb_knn_join_serve ships:
    # shortlist first, then two id-keyed joins attach the vectors and
    # the fold runs on queries x {_ADCJ_SHORTLIST} rows only.
    corp = (
        codes.filter(F.col("vec_id") % 2 == 1)
        .withColumn("slice", (F.col("vec_id") % _ADCJ_SLICES).cast("int"))
        .drop("qemb")
    )
    qd = qv.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qemb").alias("qq")
    )
    qtables = _ivfpq_query_tables(
        qd, cells, cqs, books, _IVFPQ_NPROBE
    ).drop("qq").withColumn(
        "qslice",
        F.explode(F.array(*[F.lit(i) for i in range(_ADCJ_SLICES)])),
    )
    pq_m = len(books)
    adc = sum(
        F.element_at(F.col(f"t{m}"), F.col(f"c{m}") + 1)
        for m in range(pq_m)
    )
    cand = qtables.join(
        corp.hint("merge"),
        (F.col("pcell") == F.col("cell"))
        & (F.col("qslice") == F.col("slice"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (adc.cast("double") / F.lit(_PQT_SCALE2)).alias("adc_dist"),
    )
    aw = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    short = (
        cand.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _ADCJ_SHORTLIST)
        .drop("arn")
    )
    xvecs = qv.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("_nid"), F.col("qemb").alias("_xemb")
    )
    refined = (
        short.join(qd.withColumnRenamed("query_id", "_qid"),
                   F.col("query_id") == F.col("_qid"))
        .join(xvecs, F.col("neighbor_id") == F.col("_nid"))
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            "adc_dist",
            (
                _isq(F.col("qq"), F.col("_xemb")).cast("double")
                / F.lit(_PQT_SCALE2)
            ).alias("exact_dist"),
        )
    )
    ew = Window.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
    return (
        refined.withColumn("rn", F.row_number().over(ew).cast("int"))
        .filter(F.col("rn") <= _ADCJ_K)
        .select(
            "query_id", "neighbor_id", "cell", "adc_dist", "exact_dist",
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# kNN-join recall harness: the joins' approximation quality as a measured
# number (the join-family analog of emb_ann_recall / emb_ann_recall_trained)
# ---------------------------------------------------------------------------

# sampled query set: even vec_ids below the cap (~cap/2 queries at any
# sf). Exact ground truth costs |sample| × |odd corpus| cosines — linear
# in the corpus because the sample is FIXED, which is exactly how a
# 100 TB deployment measures recall (you never brute-force the full
# corpus-sized query side; you certify a sampled panel).
_KJR_QUERY_CAP = 100


def _kjr_sql() -> str:
    """Oracle for the join recall rows: exact cosine top-k ground truth
    over the sampled queries, both approximate joins re-derived by their
    own full oracles (embedded as derived tables — CTE scopes are
    isolated, so the two training chains cannot collide), LEFT JOIN +
    COUNT per query. recall = n_hits / k is exact in binary (count over
    a power-of-two-free denominator is fine: n/10.0 is the same double
    on both engines for n in 0..10)."""
    return f"""
WITH kjr_q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
  WHERE vec_id % 2 = 0 AND vec_id < {_KJR_QUERY_CAP}
),
kjr_c AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {vx.cosine_sql('qe', 'embedding')} AS cos_sim
  FROM kjr_q q JOIN embeddings e ON e.vec_id % 2 = 1
),
kjr_truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM kjr_c
  ) WHERE rn <= {_ADCJ_K}
),
kjr_tj AS (
  SELECT query_id, neighbor_id FROM ({_kjt_sql()})
  WHERE query_id < {_KJR_QUERY_CAP}
),
kjr_adc AS (
  SELECT query_id, neighbor_id FROM ({_ADCJ_SQL})
  WHERE query_id < {_KJR_QUERY_CAP}
)
SELECT 'join_trained_nprobe{_KJT_NPROBE}' AS variant, t.query_id,
       CAST(COUNT(j.neighbor_id) AS INTEGER) AS n_hits,
       COUNT(j.neighbor_id) / {float(_ADCJ_K)} AS recall
FROM kjr_truth t LEFT JOIN kjr_tj j
  ON j.query_id = t.query_id AND j.neighbor_id = t.neighbor_id
GROUP BY 2
UNION ALL
SELECT 'join_adc_short{_ADCJ_SHORTLIST}', t.query_id,
       CAST(COUNT(j.neighbor_id) AS INTEGER),
       COUNT(j.neighbor_id) / {float(_ADCJ_K)}
FROM kjr_truth t LEFT JOIN kjr_adc j
  ON j.query_id = t.query_id AND j.neighbor_id = t.neighbor_id
GROUP BY 2
"""


@register("emb_knn_join_recall", oracle=_kjr_sql())
def emb_knn_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the two production kNN JOINS against exact ground
    truth on a sampled query panel (r12, VERDICT r11 #4): the trained
    join (#153 — every candidate pays a full exact cosine) and the ADC
    join (#155 — candidates cost M table lookups, exact refine of the
    top-{_ADCJ_SHORTLIST} shortlist only) were certified correct-as-
    constructed, but their end-to-end recall was only IMPLIED by the
    construction. This entry makes the recall/compute trade a measured,
    oracle-certified number per query — the row the nprobe/shortlist
    dials get tuned against (BASELINE.md r12 records the panel means).

    Ground truth: exact cosine top-{_ADCJ_K} over the odd-id corpus for
    every even vec_id < {_KJR_QUERY_CAP} — a FIXED sampled panel, which
    is how recall is certified at any scale (the truth cost is |panel| ×
    corpus, linear in the corpus; a full corpus-sized truth would be the
    quadratic join the family exists to avoid). The approximate sides
    COMPOSE the registered entries directly (filtered to the panel — a
    predicate on the window partition key, so Catalyst pushes it below
    each join's top-k window and the query side shrinks to the panel),
    measuring exactly what users run. Recall joins cost queries×k rows.

    The ORACLE re-derives the panel truth plus BOTH joins' full
    constructions (their own oracle SQL embedded as derived tables), so
    the hash certifies the recall numbers themselves."""
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    q = e.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < _KJR_QUERY_CAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = e.filter(F.col("vec_id") % 2 == 1).crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    tw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    truth = (
        pairs.withColumn("rn", F.row_number().over(tw))
        .filter(F.col("rn") <= _ADCJ_K)
        .select("query_id", "neighbor_id")
    )

    # Build the two approximate arms CONCURRENTLY (r14, guide §2.6):
    # each join's construction runs its own eager training chain
    # (driver-built plans + small sequential Spark jobs), the chains are
    # independent, and job submission from driver threads overlaps the
    # idle gaps — recall's construction wall drops from sum(chains) to
    # ~max(chains). Plans and results are unchanged (same two frames).
    from concurrent.futures import ThreadPoolExecutor

    tag_tj = f"join_trained_nprobe{_KJT_NPROBE}"
    tag_adc = f"join_adc_short{_ADCJ_SHORTLIST}"
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_tj = pool.submit(emb_knn_join_trained, spark, sf_dir)
        fut_adc = pool.submit(emb_knn_join_adc, spark, sf_dir)
        tj, adc = fut_tj.result(), fut_adc.result()

    # ONE hits plan for both variants (r14, guide §2.2): the panel truth
    # previously sat under each arm's own left join + aggregate (two
    # window subtrees, two SMJs, two aggs, union); tagging the approx
    # rows and keying the join/group by (variant, query_id) computes the
    # truth subtree once and halves the join/agg stages. Row-for-row the
    # same output: per (variant, truth query) the count of matching
    # approximate neighbors, zero-count queries kept by the left join.
    def tagged(approx: DataFrame, tag: str) -> DataFrame:
        return approx.filter(F.col("query_id") < _KJR_QUERY_CAP).select(
            F.lit(tag).alias("a_variant"),
            F.col("query_id").alias("a_query"),
            F.col("neighbor_id").alias("a_neighbor"),
        )

    a_all = tagged(tj, tag_tj).unionByName(tagged(adc, tag_adc))
    tx = truth.withColumn(
        "variant", F.explode(F.array(F.lit(tag_tj), F.lit(tag_adc)))
    )
    return (
        tx.join(
            a_all,
            (tx.variant == a_all.a_variant)
            & (tx.query_id == a_all.a_query)
            & (tx.neighbor_id == a_all.a_neighbor),
            "left",
        )
        .groupBy("variant", "query_id")
        .agg(
            F.count("a_neighbor").cast("int").alias("n_hits"),
            (F.count("a_neighbor") / F.lit(float(_ADCJ_K))).alias(
                "recall"
            ),
        )
        .select("variant", "query_id", "n_hits", "recall")
    )



# ---------------------------------------------------------------------------
# Build/serve split for the trained indexes (registry queries #143-#146)
# ---------------------------------------------------------------------------

import os  # noqa: E402

from projekt_data_engineering_iubh_spark.pipeline import (  # noqa: E402
    ann_index,
    store,
)

_IVFT_CONSTS = (_KM_K, _KM_ITERS, EMB_DIM, km.FIXED_SCALE)
_IVFPQ_CONSTS = _IVFT_CONSTS + (_PQ_M, _PQ_CODES, _PQT_ITERS, _IVFPQ_NPROBE)


def _ensure_ivft_index(spark: SparkSession, sf_dir: str) -> str:
    """Committed store root holding the trained-IVF index for this
    corpus version: `centroids` (cell, cq) and `codes` (vec_id, cell).
    Builds on first call (memoized by (path, mtime, constants) — see
    pipeline/ann_index.py)."""

    def build(data_dir: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        qv = e.select(
            "vec_id", km.quantize(F.col("embedding")).alias("qemb")
        )
        # collect the k×dim centroids once and re-literal them so the
        # assignment pass doesn't replay the Lloyd lineage a second time
        cents = (
            km.kmeans_train(qv, _KM_K, _KM_ITERS, EMB_DIM)
            .orderBy("cell")
            .collect()
        )
        cdf = spark.createDataFrame(
            [(r.cell, list(r.cq)) for r in cents],
            "cell int, cq array<bigint>",
        )
        cdf.coalesce(1).write.parquet(os.path.join(data_dir, "centroids"))
        km.assign_cells(qv, cdf).select(
            "vec_id", F.col("cell").cast("int").alias("cell")
        ).write.parquet(os.path.join(data_dir, "codes"))

    return ann_index.ensure(
        sf_dir, "embeddings.parquet", "ivft", _IVFT_CONSTS, build
    )


_IVF_BUILD_SQL = f"""{_KM_CTES},
bcounts AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM {_KM_FINAL} GROUP BY 1)
SELECT c.cell, CAST(i AS INTEGER) AS pos, c.cq[i] AS cval, b.n_members
FROM c{_KM_ITERS} c JOIN bcounts b USING (cell),
     range(1, {EMB_DIM} + 1) t(i)
"""


@register("emb_ivf_build", oracle=_IVF_BUILD_SQL, driver=False)
def emb_ivf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD half of the trained-IVF split (r7 VERDICT #2): train
    the coarse quantizer (exact fixed-point Lloyd, 3 rounds — the same
    trainer emb_kmeans verifies), persist centroids + per-vector cell
    codes through the manifest snapshot store, and return the persisted
    centroid table unnested to (cell, pos, cval) with per-cell member
    counts — so the ORACLE re-derives the whole artifact from raw data
    and the hash match certifies the stored index bytes, not just a
    query over them.

    The ANN method matrix measured why this split exists: inline
    training dominates every trained variant's latency (the serve half
    reads these artifacts and skips it). Store layout and staleness
    contract: pipeline/ann_index.py. Scale shape: training is the
    emb_kmeans plan (nothing sf-proportional collected — the k×dim
    centroid collect is the documented literal-sized exception); the
    codes write is one map-side assignment scan."""
    root = _ensure_ivft_index(spark, sf_dir)
    cents = ann_index.read_artifact(spark, root, "centroids")
    counts = (
        ann_index.read_artifact(spark, root, "codes")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    )
    return (
        cents.select("cell", F.posexplode("cq").alias("pos0", "cval"))
        .select(
            "cell",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            "cval",
        )
        .join(counts, "cell")
        .select("cell", "pos", "cval", "n_members")
    )


@register("emb_ivf_serve", oracle=_IVFT_SQL, driver=False)
def emb_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE half of the trained-IVF split: read the persisted
    cell codes (vec_id, cell) from the snapshot store — building first
    only if this corpus version has no committed index — join them to
    the corpus, and run the identical nprobe=1 search as
    emb_ivf_ann_trained (shared _ivft_search helper). Output and oracle
    are the inline variant's, so the hash match proves the stored index
    serves the same answers as training-in-query; the latency win is
    the whole point (the matrix prices inline training at ~10× serve).

    Scale shape: serve is ONE vec_id equi-join (codes ⋈ corpus — write
    codes bucketed next to a bucketed corpus and it is exchange-free,
    the corpus_store pattern) + the broadcast-query cell probe. No
    training anywhere on the serve path."""
    root = _ensure_ivft_index(spark, sf_dir)
    asg = ann_index.read_artifact(spark, root, "codes")
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", vx.norm(F.col("embedding"))
    )
    return _ivft_search(e.join(asg, "vec_id"))


def _ensure_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    normalized: bool = False,
    pq_m: int = _PQ_M,
    pq_codes: int = _PQ_CODES,
) -> str:
    """Committed store root for the IVF-PQ residual index: `coarse`
    (cell, cq), `books` (m, code, cell, cq), `codes`
    (vec_id, cell, c0..c{M-1}). ``normalized=True`` builds the
    cosine-faithful index (separate kind -> separate root); the
    geometry params are folded into the root constants."""

    def build(data_dir: str) -> None:
        _qv, asg, cells, cqs, bcells, books, codes = _ivfpq_train(
            spark, sf_dir, normalized, pq_m, pq_codes
        )
        _write_ivfpq_artifacts(
            spark, data_dir, cells, cqs, bcells, books, codes,
            pq_m, pq_codes, normalized,
        )

    # "norm1": normalized roots rebuilt once in r10 — zero-norm-guarded
    # quantize (operators/kmeans.py) + the meta artifact append requires
    extra = (("norm1",) if normalized else ()) + (
        (pq_m, pq_codes) if (pq_m, pq_codes) != (_PQ_M, _PQ_CODES) else ()
    )
    return ann_index.ensure(
        sf_dir,
        "embeddings.parquet",
        "ivfpq_cos" if normalized else "ivfpq",
        _IVFPQ_CONSTS + extra,
        build,
    )


def _ivfpq_build_sql() -> str:
    """Oracle for the persisted IVF-PQ artifacts: re-derive coarse
    centroids and the four residual codebooks from raw data (the same
    CTE chains as _ivfpq_sql) and unnest them."""
    parts = []
    src = (
        f"SELECT vec_id, {km.quantize_sql('embedding')} AS qemb"
        f" FROM embeddings"
    )
    cctes, ccent = km.kmeans_train_sql_ctes(
        src, _KM_K, _KM_ITERS, EMB_DIM, "cv"
    )
    parts.append(cctes)
    parts.append(f"casg AS ({km._assign_sql('cvqv', ccent, EMB_DIM)})")
    parts.append(
        f"res AS MATERIALIZED (SELECT a.vec_id, a.cell, a.qemb,"
        f" list_transform(range(1, {EMB_DIM} + 1),"
        f" i -> a.qemb[i] - c.cq[i]) AS remb"
        f" FROM casg a JOIN {ccent} c USING (cell))"
    )
    selects = [
        f"SELECT 'coarse' AS part, cell, -1 AS code,"
        f" CAST(i AS INTEGER) AS pos, cq[i] AS cval"
        f" FROM {ccent}, range(1, {EMB_DIM} + 1) t(i)"
    ]
    for m in range(_PQ_M):
        ctes, cent = km.kmeans_train_sql_ctes(
            f"SELECT vec_id, {_pq_sub_sql('remb', m)} AS qemb FROM res",
            _PQ_CODES,
            _PQT_ITERS,
            _PQ_SUBDIM,
            f"r{m}",
        )
        parts.append(ctes)
        parts.append(
            f"r{m}rk AS (SELECT cell, cq,"
            f" CAST(ROW_NUMBER() OVER (ORDER BY cell) - 1 AS INTEGER)"
            f" AS code FROM {cent})"
        )
        selects.append(
            f"SELECT 'book{m}' AS part, cell, code,"
            f" CAST(i AS INTEGER) AS pos, cq[i] AS cval"
            f" FROM r{m}rk, range(1, {_PQ_SUBDIM} + 1) t(i)"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


_IVFPQ_BUILD_SQL = _ivfpq_build_sql()


@register("emb_ivfpq_build", oracle=_IVFPQ_BUILD_SQL, driver=False)
def emb_ivfpq_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD half of the IVF-PQ residual split: train coarse quantizer
    + four residual codebooks (emb_ivfpq_residual's exact fixed-point
    trainer), persist coarse/books/codes through the snapshot store,
    and return the persisted quantizer tables unnested as
    (part, cell, code, pos, cval) — coarse rows carry code = -1, book
    rows their 0-based codebook position (the index ADC tables address).
    The oracle re-derives every value from raw data, certifying the
    stored artifact bytes end to end. Store layout and staleness:
    pipeline/ann_index.py; 2-byte-per-subvector codes are the 100 TB
    stored index, centroids/books are k×dim tables."""
    root = _ensure_ivfpq_index(spark, sf_dir)
    coarse = ann_index.read_artifact(spark, root, "coarse")
    books = ann_index.read_artifact(spark, root, "books")
    c = coarse.select(
        F.lit("coarse").alias("part"),
        "cell",
        F.lit(-1).cast("int").alias("code"),
        F.posexplode("cq").alias("pos0", "cval"),
    )
    b = books.select(
        F.concat(F.lit("book"), F.col("m").cast("string")).alias("part"),
        "cell",
        "code",
        F.posexplode("cq").alias("pos0", "cval"),
    )
    return c.unionByName(b).select(
        "part",
        "cell",
        "code",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        "cval",
    )


@register("emb_ivfpq_serve", oracle=_IVFPQ_SQL)
def emb_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE half of the IVF-PQ residual split: read coarse centroids +
    residual codebooks (k×dim literal-sized collects, same budget as
    the inline variant's training collects) and the persisted 2-byte
    codes from the snapshot store, attach qemb map-side for the
    exact-distance verification column, and run the identical
    nprobe-2 probed residual-ADC search (shared _ivfpq_search helper).
    Output and oracle are emb_ivfpq_residual's: the hash match proves
    the stored index answers exactly as training-in-query, at a
    fraction of the latency (no Lloyd rounds on the serve path).

    Scale shape: one vec_id equi-join (codes ⋈ corpus, bucketable to
    exchange-free; production serve would also drop the exact_dist
    column and with it the corpus join entirely — codes alone answer
    the ADC top-k) + broadcast query tables against the cell equi-key."""
    root = _ensure_ivfpq_index(spark, sf_dir)
    coarse = sorted(
        ann_index.read_artifact(spark, root, "coarse").collect(),
        key=lambda r: r.cell,
    )
    coarse_cells = [r.cell for r in coarse]
    coarse_cqs = [list(r.cq) for r in coarse]
    brows = ann_index.read_artifact(spark, root, "books").collect()
    books: list[list[list[int]]] = [
        [None] * _PQ_CODES for _ in range(_PQ_M)
    ]
    for r in brows:
        books[r.m][r.code] = list(r.cq)
    books = [[cq for cq in bk if cq is not None] for bk in books]
    e = spread(load_table(spark, sf_dir, "embeddings"))
    qv = e.select("vec_id", km.quantize(F.col("embedding")).alias("qemb"))
    codes = ann_index.read_artifact(spark, root, "codes").join(qv, "vec_id")
    return _ivfpq_search(qv, coarse_cells, coarse_cqs, books, codes)


_IVFPQ_LEAN_SQL = f"""
SELECT query_id, neighbor_id, cell, adc_dist, rn FROM ({_IVFPQ_SQL})
"""

# serve-side "client state" memo: the collected codebooks and the fixed
# query batch are what a FAISS client holds in RAM across requests. The
# root path already digests (corpus path, mtime, constants), so it is
# the complete staleness key. Bounded (r7 dashboard-cache lesson): a
# long-lived process serving many corpus versions must not grow this
# without limit — the least-recently-used root is evicted past the cap,
# and concurrent first requests for one root load it once (_LruMemo).
_CLIENT_CACHE_CAP = 8
_IVFPQ_CLIENT_CACHE = _LruMemo(None, _CLIENT_CACHE_CAP)


def _ivfpq_client_state(
    spark: SparkSession,
    root: str,
    sf_dir: str,
    normalized: bool = False,
    pq_m: int = _PQ_M,
    pq_codes: int = _PQ_CODES,
) -> tuple[list, list, list, list]:
    # root already encodes kind AND geometry constants
    return _IVFPQ_CLIENT_CACHE.get(
        (root,),
        lambda _key: _load_client_state(
            spark, root, sf_dir, normalized, pq_m, pq_codes
        ),
    )


def _load_client_state(
    spark: SparkSession,
    root: str,
    sf_dir: str,
    normalized: bool,
    pq_m: int,
    pq_codes: int,
) -> tuple[list, list, list, list]:
    coarse = sorted(
        ann_index.read_artifact(spark, root, "coarse").collect(),
        key=lambda r: r.cell,
    )
    coarse_cells = [r.cell for r in coarse]
    coarse_cqs = [list(r.cq) for r in coarse]
    brows = ann_index.read_artifact(spark, root, "books").collect()
    books: list[list[list[int]]] = [
        [None] * pq_codes for _ in range(pq_m)
    ]
    for r in brows:
        books[r.m][r.code] = list(r.cq)
    books = [[cq for cq in bk if cq is not None] for bk in books]
    # the query batch is a fixed-size constant (like the codebooks);
    # its ADC tables are pure integer arithmetic on driver literals
    q = km.quantize_normalized if normalized else km.quantize
    qrows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PQ_QUERIES)
        .select("vec_id", q(F.col("embedding")).alias("qemb"))
        .collect()
    )
    return coarse_cells, coarse_cqs, books, qrows


@register("emb_ivfpq_serve_lean", oracle=_IVFPQ_LEAN_SQL, driver=False)
def emb_ivfpq_serve_lean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-mode IVF-PQ serve: answers come from the stored 2-byte
    codes alone — no corpus join, no exact-distance verification column
    anywhere on the plan (the full emb_ivfpq_serve keeps those for the
    certification lens). This is the latency the split deploys for: the
    serve plan is scan codes -> broadcast per-(query, probed-cell) ADC
    tables -> cell equi-join -> per-query top-k window, so its cost is
    the codes scan, not the corpus. The oracle is the inline variant's
    full derivation projected to the served columns — the hash match
    still certifies every answered (neighbor, adc_dist, rank) exactly.

    Per-query ADC tables are computed DRIVER-side from the collected
    codebooks and the (fixed-size) query batch, then broadcast as a
    plain literal table — exactly where FAISS computes them (client
    CPU, per query, before touching the index). Profiling showed why
    this matters at small scale: folding the 4×16×16 codebook literals
    into per-row Spark expressions makes plan compilation/codegen the
    dominant cost (~4 s against a 20k-row codes table); with the
    tables as DATA the executor-side expression is four element_at
    lookups and the plan floor collapses (~6× — measured in the
    matrix). At 100 TB the same split holds: query-batch work is
    client-sized, the cluster only scans codes.

    The ANN method matrix records this row's sf1 latency next to
    brute/inline (BASELINE.md r8): codes-only serving is the only
    IVF-PQ form whose latency beats the brute-force scan, which is the
    deployment argument for persisting the index at all."""
    return _ivfpq_serve_lean_impl(spark, sf_dir, normalized=False)


def _ivfpq_serve_lean_impl(
    spark: SparkSession,
    sf_dir: str,
    normalized: bool,
    pq_m: int = _PQ_M,
    pq_codes: int = _PQ_CODES,
    topk: int = _PQ_K,
) -> DataFrame:
    """Shared codes-only serve plan (see emb_ivfpq_serve_lean);
    ``normalized=True`` serves the cosine-faithful index, and the
    geometry params select its finer codebooks."""
    subdim = EMB_DIM // pq_m
    root = _ensure_ivfpq_index(spark, sf_dir, normalized, pq_m, pq_codes)
    coarse_cells, coarse_cqs, books, qrows = _ivfpq_client_state(
        spark, root, sf_dir, normalized, pq_m, pq_codes
    )
    codes = ann_index.read_artifact(spark, root, "codes")
    return _ivfpq_adc_topk(
        spark, coarse_cells, coarse_cqs, books, qrows, codes, subdim,
        pq_m, topk,
    )


def _ivfpq_adc_topk(
    spark: SparkSession,
    coarse_cells: list,
    coarse_cqs: list,
    books: list,
    qrows: list,
    codes: DataFrame,
    subdim: int,
    pq_m: int,
    topk: int = _PQ_K,
) -> DataFrame:
    """Codes-only ADC top-k over an arbitrary stored codes frame —
    the executable tail of the lean serve, shared with the
    append-without-retrain entry: driver-side per-(query, probed-cell)
    ADC tables broadcast as data, cell equi-join, top-k window."""

    def py_isq(a: list, b: list) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    qt_rows = []
    for qr in qrows:
        qq = list(qr.qemb)
        ranked = sorted(
            ((py_isq(qq, cq), c) for c, cq in zip(coarse_cells, coarse_cqs)),
            key=lambda t: t,
        )[:_IVFPQ_NPROBE]
        for _d, pcell in ranked:
            ci = coarse_cells.index(pcell)
            qres = [x - c for x, c in zip(qq, coarse_cqs[ci])]
            tables = [
                [
                    py_isq(
                        qres[m * subdim : (m + 1) * subdim], cq
                    )
                    for cq in books[m]
                ]
                for m in range(pq_m)
            ]
            qt_rows.append((qr.vec_id, pcell, *tables))
    qtables = spark.createDataFrame(
        qt_rows,
        "query_id long, pcell int, "
        + ", ".join(f"t{m} array<bigint>" for m in range(pq_m)),
    )

    adc = sum(
        F.element_at(F.col(f"t{m}"), F.col(f"c{m}") + 1)
        for m in range(pq_m)
    )
    cand = codes.join(
        F.broadcast(qtables),
        (F.col("cell") == F.col("pcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (adc.cast("double") / F.lit(_PQT_SCALE2)).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= topk)
        .select("query_id", "neighbor_id", "cell", "adc_dist", "rn")
    )


_PQ_COS_M = 16  # 4-dim subspaces at EMB_DIM=64 -> 1 bit/dim at 16 codes
_IVFPQ_NORM_SQL = _ivfpq_sql(normalized=True, pq_m=_PQ_COS_M)
_IVFPQ_LEAN_COS_SQL = f"""
SELECT query_id, neighbor_id, cell, adc_dist, rn FROM ({_IVFPQ_NORM_SQL})
"""


@register("emb_ivfpq_serve_lean_cos", oracle=_IVFPQ_LEAN_COS_SQL, driver=False)
def emb_ivfpq_serve_lean_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COSINE-FAITHFUL codes-only IVF-PQ serve (r9): identical plan to
    emb_ivfpq_serve_lean, but the index is built over UNIT-NORMALIZED
    vectors (km.quantize_normalized) — on the unit sphere
    L2²(a,b) = 2 − 2·cos(a,b), so the integer L2-ADC ranking this plan
    ships IS the cosine ranking production retrieval wants (normalize
    at build + query encode, rank by L2 — the standard FAISS practice),
    and the index uses a FINER geometry (M=16 -> 4-dim subspaces, 1
    bit/dim) than the raw lean row's M=4: the r9 measurements showed
    recall is bounded by codebook resolution, not by the metric (raw
    0.2 -> normalized M=4 still 0.2 -> normalized M=16 0.36). Codes
    alone cannot reach IVF-flat recall at this bit budget — the refine
    stage (emb_ivfpq_serve_rerank, the next entry) is what closes the
    gap (0.92 vs multiprobe's 0.82, BASELINE.md r9); THIS row is the
    honest codes-only number and the shortlist generator the refine
    consumes.

    Same scale shape as the raw variant: scan stored codes → broadcast
    driver-computed ADC tables → cell equi-join → top-k window; the
    normalization cost lives entirely at BUILD time (one extra
    map-side transform on the training scan) and in the client's
    fixed-size query encode."""
    return _ivfpq_serve_lean_impl(
        spark, sf_dir, normalized=True, pq_m=_PQ_COS_M
    )


_RR_SHORTLIST = 100  # ADC shortlist the exact re-rank refines (FAISS
# "refine" stage sizing: coverage of the true top-10 at L=100 measured
# 0.92 on the sf0.1 corpus vs 0.76 at L=50 — BASELINE.md r9)

_RR_INNER = _ivfpq_sql(
    normalized=True, pq_m=_PQ_COS_M, topk=_RR_SHORTLIST
)
_IVFPQ_RERANK_SQL = f"""
WITH short AS ({_RR_INNER})
SELECT query_id, neighbor_id, cos_sim, rn FROM (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM (
    SELECT s.query_id, s.neighbor_id,
           {vx.cosine_sql('q.embedding', 'n.embedding')} AS cos_sim
    FROM short s
    JOIN embeddings q ON q.vec_id = s.query_id
    JOIN embeddings n ON n.vec_id = s.neighbor_id
  )
) WHERE rn <= {_PQ_K}
"""


@register("emb_ivfpq_serve_rerank", oracle=_IVFPQ_RERANK_SQL)
def emb_ivfpq_serve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lean IVF-PQ serve + EXACT re-rank (the FAISS refine stage): the
    codes-only cosine-faithful plan produces an ADC top-{_RR_SHORTLIST}
    shortlist per query, then ONE selective equi-join back to the corpus
    re-scores the shortlist with exact cosine and keeps the top-10.
    Recall@10 after the refine EQUALS shortlist coverage (any shortlist
    member outranking a true neighbor is itself a true neighbor), so
    this row closes the r8 matrix's PQ recall gap: measured 0.92 vs
    IVF-flat multiprobe's 0.82 at the same nprobe=2 budget, against
    brute-force truth (BASELINE.md r9).

    Scale shape: the refine join touches |queries| x L corpus rows by
    vec_id — a point-lookup pattern (bucket-prunable on a bucketed
    corpus), NOT a corpus scan; everything upstream is the lean codes
    plan. This is the standard production ANN deployment: coarse route
    -> ADC shortlist -> exact refine."""
    short = _ivfpq_serve_lean_impl(
        spark,
        sf_dir,
        normalized=True,
        pq_m=_PQ_COS_M,
        topk=_RR_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return _rerank_refine(short, spread(load_table(spark, sf_dir, "embeddings")))


def _rerank_refine(short: DataFrame, corpus: DataFrame) -> DataFrame:
    """The exact-refine tail: re-score an ADC shortlist (query_id,
    neighbor_id) with exact cosine against ``corpus`` (vec_id,
    embedding) and keep the top-{_PQ_K}. Separated from the entry so the
    DEPLOYMENT layout can inject a vec_id-bucketed corpus table — then
    the neighbor join reads corpus buckets in place and the only added
    Exchange is the tiny shortlist re-key (plan-pinned in
    tests/test_ann_index.py and measured at 400k vectors by
    tools/ann_scale_point.py --refine-bucketed)."""
    q = corpus.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    n = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
    )
    scored = (
        short.join(q, "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            vx.cosine(F.col("q_emb"), F.col("n_emb")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _PQ_K)
        .select("query_id", "neighbor_id", "cos_sim", "rn")
    )


# ---------------------------------------------------------------------------
# Index growth WITHOUT retrain (registry #150): FAISS-style `add`
# ---------------------------------------------------------------------------

_APPEND_CUT = 100  # vec_id < cut trains the codebooks; >= cut is "late"

_IVFPQ_APPEND_SQL = f"""
SELECT query_id, neighbor_id, cell, adc_dist, rn FROM (
{_ivfpq_sql(normalized=True, pq_m=_PQ_COS_M, train_max=_APPEND_CUT)}
)
"""


def _ensure_ivfpq_appended_index(spark: SparkSession, sf_dir: str) -> str:
    """Two-version store root proving the append-without-retrain
    lifecycle: v1 = codebooks trained AND codes encoded on the frozen
    vec_id < {_APPEND_CUT} corpus; v2 = v1's codebooks (bytes untouched)
    plus codes for EVERY vector — late arrivals encoded against the
    frozen books via the same argmin kernel training used
    (_ivfpq_residuals/_ivfpq_encode_residuals), exactly FAISS ``add``.

    Each snapshot is full (store contract: readers of v1 never see v2's
    files); at 100 TB the codes union is the compaction write a real
    deployment amortizes — 4 B/vector, map-side, no shuffle."""
    return _ensure_lifecycle_root(
        spark,
        sf_dir,
        "ivfpq_app",
        _IVFPQ_CONSTS + ("norm1", _PQ_COS_M, _APPEND_CUT),
        _ivfpq_subset_train_build(spark, sf_dir),
        _ivfpq_late_vectors,
        ivfpq_assign,
    )


def _ensure_lifecycle_root(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    consts: tuple,
    build,
    late_vectors,
    assign,
    delete: bool = False,
) -> str:
    """Committed lifecycle root for a registry entry, each step run only
    if this corpus version's root has not committed it yet: v1 =
    ``build`` (training on a frozen subset), v2 = ``late_vectors(spark,
    sf_dir)`` appended through ``assign`` against v1's frozen artifacts
    (ann_index.append_generation), and with ``delete`` v3 = tombstones
    for vec_id % {_DELETE_MOD} == {_DELETE_RES}
    (ann_index.delete_generation) — deletes spanning BOTH generations."""
    root = ann_index.ensure(
        sf_dir, "embeddings.parquet", kind, consts, build
    )
    if store.current_version(root) < 2:
        ann_index.append_generation(
            spark, root, late_vectors(spark, sf_dir), assign
        )
    if delete and store.current_version(root) < 3:
        keys = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % _DELETE_MOD == _DELETE_RES
        )
        ann_index.delete_generation(spark, root, keys)
    return root


def _ivfpq_subset_train_build(spark: SparkSession, sf_dir: str):
    """Build closure for snapshot v1 of the append/delete lifecycles:
    train coarse + residual codebooks on the frozen vec_id <
    {_APPEND_CUT} subset and encode ONLY that subset (later vectors
    arrive through append generations, never through retraining)."""

    def build(data_dir: str) -> None:
        qv = spread(load_table(spark, sf_dir, "embeddings")).select(
            "vec_id", km.quantize_normalized(F.col("embedding")).alias("qemb")
        )
        ivfpq_train_and_write(
            spark, qv.filter(F.col("vec_id") < _APPEND_CUT), data_dir
        )

    return build


def _ivfpq_late_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The append lifecycle's v2 delta: every vector past the cut."""
    return spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") >= _APPEND_CUT
    )


def ivfpq_assign(cur: str, late: DataFrame) -> DataFrame:
    """ann_index.append_generation's IVF-PQ step: encode (vec_id,
    embedding) rows against snapshot ``cur``'s FROZEN coarse centroids
    and codebooks with the argmin kernels training used
    (_ivfpq_residuals / _ivfpq_encode_residuals) — byte-identical codes
    to a from-scratch encode, exactly FAISS ``add``.

    Geometry and metric come from the snapshot's meta artifact, NOT the
    module constants: roots built with any (pq_m, pq_codes) append
    correctly, and roots built over RAW (unnormalized) vectors are
    refused loudly — this encoder normalizes, so growing a raw root
    would silently mix metrics and corrupt the codes."""
    meta = ann_index.read_index_meta(cur)
    if meta is None or not meta.normalized:
        raise ValueError(
            f"snapshot {cur} is not an appendable index: missing meta "
            "artifact or built over unnormalized vectors (append "
            "encodes with quantize_normalized)"
        )
    pq_m, cells, cqs, books = _load_snapshot_client_state(cur)
    subdim = len(books[0][0])
    if subdim * pq_m != EMB_DIM or meta.emb_dim != EMB_DIM:
        raise ValueError(
            f"books geometry (m={pq_m}, subdim={subdim}) does not "
            f"tile EMB_DIM={EMB_DIM} for snapshot {cur}"
        )
    qv = late.select(
        "vec_id", km.quantize_normalized(F.col("embedding")).alias("qemb")
    )
    return _ivfpq_encode_residuals(
        _ivfpq_residuals(qv, cells, cqs), books, subdim
    ).drop("qemb")


# tombstone predicate for the registry entry's lifecycle: deterministic,
# SQL-expressible, and hitting BOTH generations (train subset + appended)
_DELETE_MOD, _DELETE_RES = 10, 3

_IVFPQ_DELETE_SQL = f"""
SELECT query_id, neighbor_id, cell, adc_dist, rn FROM (
{_ivfpq_sql(
    normalized=True,
    pq_m=_PQ_COS_M,
    train_max=_APPEND_CUT,
    delete_where=f"x.vec_id % {_DELETE_MOD} != {_DELETE_RES}",
)}
)
"""


def _ensure_ivfpq_deleted_index(spark: SparkSession, sf_dir: str) -> str:
    """Three-version store root proving the full grow-then-shrink
    lifecycle: v1 = codebooks trained + codes encoded on the frozen
    vec_id < {_APPEND_CUT} subset; v2 = append of every later vector
    against the frozen books (FAISS ``add``); v3 = tombstones for
    vec_id % {_DELETE_MOD} == {_DELETE_RES} (FAISS ``remove_ids``) —
    deletes spanning BOTH the trained and the appended generations, no
    code row rewritten or re-encoded."""
    return _ensure_lifecycle_root(
        spark,
        sf_dir,
        "ivfpq_del",
        _IVFPQ_CONSTS
        + ("norm1", _PQ_COS_M, _APPEND_CUT, _DELETE_MOD, _DELETE_RES),
        _ivfpq_subset_train_build(spark, sf_dir),
        _ivfpq_late_vectors,
        ivfpq_assign,
        delete=True,
    )


@register("emb_ivfpq_delete_serve", oracle=_IVFPQ_DELETE_SQL)
def emb_ivfpq_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve from an index that GREW and then SHRANK without retrain
    (r10): after the #150 append lifecycle, every vec_id %
    {_DELETE_MOD} == {_DELETE_RES} was tombstoned as a delete
    generation (FAISS ``remove_ids`` — takedowns, GDPR erasure, dedup
    re-runs: real corpora shrink too). No code row was rewritten at
    delete time; the serve plan is the identical lean codes-only shape
    plus ONE anti-join against the tombstone key set (broadcast-sized
    relative to any real corpus).

    The ORACLE re-derives everything from raw data — trains on the
    subset, encodes the full table, searches with the deleted ids
    EXCLUDED from the candidate corpus — so the hash match certifies
    serve-after-delete equals a from-scratch encode of the surviving
    corpus (per-row encode is independent, so exclude-after-encode ==
    encode-survivors-only). Lifecycle pins (delete -> re-add
    resurrection -> compact, snapshot isolation for in-flight readers)
    live in tests/test_ann_index.py."""
    root = _ensure_ivfpq_deleted_index(spark, sf_dir)
    return _serve_adc_from_snapshot(spark, sf_dir, root)


@register("emb_ivfpq_append_serve", oracle=_IVFPQ_APPEND_SQL, driver=False)
def emb_ivfpq_append_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve from an index GROWN WITHOUT RETRAIN (r9): codebooks were
    trained once on the frozen vec_id < {_APPEND_CUT} corpus (index v1);
    every later vector was encoded against those frozen books and
    appended as a new snapshot version (v2) — the FAISS ``add``
    lifecycle the streaming ingest tier implies but the stored-index
    family never exercised. The serve plan is the identical lean
    codes-only shape (scan codes -> broadcast ADC tables -> cell
    equi-join -> top-k window).

    The ORACLE re-derives the whole construction from raw data — trains
    on the subset, encodes the full table, searches — so the hash match
    certifies (1) the frozen-codebook append produced byte-identical
    codes to a from-scratch encode, and (2) the two-version store serves
    the union correctly. At 100 TB this is the only affordable index
    maintenance: training is a one-off sample-sized job, growth is a
    map-side encode of the delta (no shuffle, no retrain)."""
    root = _ensure_ivfpq_appended_index(spark, sf_dir)
    return _serve_adc_from_snapshot(spark, sf_dir, root)


def _load_snapshot_client_state(cur: str) -> tuple[int, list, list, list]:
    """Collect an IVF-PQ snapshot version's k×dim client state — the
    FAISS-client analog of loading a trained index header: geometry from
    the meta artifact (falling back to the cosine constants for legacy
    roots), coarse centroids sorted by cell id, and the per-subspace
    codebooks rebuilt as dense code-indexed tables. The fill-then-filter
    over ``pq_codes`` slots keeps the tables correct when a codebook is
    GAP-COMPACTED (codes trained but never assigned are absent from the
    stored rows) — that subtlety must live in exactly one place
    (ADVICE r11: it had been duplicated verbatim into the join serve).
    Returns ``(pq_m, cells, cqs, books)``; nothing here is data-sized."""
    meta = ann_index.read_index_meta(cur)
    pq_m = meta.pq_m if meta is not None else _PQ_COS_M
    pq_codes = meta.pq_codes if meta is not None else _PQ_CODES
    coarse = sorted(
        ann_index.pq_local_rows(os.path.join(cur, "coarse")),
        key=lambda r: r["cell"],
    )
    cells = [r["cell"] for r in coarse]
    cqs = [list(r["cq"]) for r in coarse]
    brows = ann_index.pq_local_rows(os.path.join(cur, "books"))
    books = [[None] * pq_codes for _ in range(pq_m)]
    for r in brows:
        books[r["m"]][r["code"]] = list(r["cq"])
    books = [[cq for cq in bk if cq is not None] for bk in books]
    return pq_m, cells, cqs, books


def _serve_adc_from_snapshot(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    """The shared serve tail for every snapshot-store IVF-PQ root:
    collect the k×dim client state (coarse centroids + codebooks —
    never data-sized), take the fixed query set from the raw corpus,
    and run the lean codes-only ADC plan over the snapshot's LIVE codes
    (read_live_codes: tombstones anti-joined when present, a bare codes
    scan otherwise). Geometry comes from the snapshot's meta artifact
    (falls back to the cosine constants for legacy roots)."""
    cur = store.resolve(root)
    pq_m, coarse_cells, coarse_cqs, books = _load_snapshot_client_state(cur)
    qrows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PQ_QUERIES)
        .select(
            "vec_id", km.quantize_normalized(F.col("embedding")).alias("qemb")
        )
        .collect()
    )
    codes = ann_index.read_live_codes(spark, cur)
    return _ivfpq_adc_topk(
        spark, coarse_cells, coarse_cqs, books, qrows, codes,
        EMB_DIM // pq_m, pq_m,
    )


# ---------------------------------------------------------------------------
# kNN JOIN against the STORED live index: the corpus-sized query face of
# the grow-then-shrink lifecycle (joins #152-#155 meet the store #146-#151)
# ---------------------------------------------------------------------------

_KJSERVE_SQL = _ivfpq_sql(
    normalized=True,
    pq_m=_PQ_COS_M,
    train_max=_APPEND_CUT,
    delete_where=f"x.vec_id % {_DELETE_MOD} != {_DELETE_RES}",
    query_where="q.vec_id % 2 = 0",
    refine=(_ADCJ_SHORTLIST, _ADCJ_K),
)


@register("emb_knn_join_serve", oracle=_KJSERVE_SQL)
def emb_knn_join_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-to-large kNN JOIN executed AGAINST THE STORED LIVE INDEX
    (r11) — the missing face that connects the two flagship structures:
    the join family (#152 shuffled cells, #153 trained cells, #155 ADC
    candidates) always re-derived its index inline from the raw corpus,
    and the snapshot-store lifecycle (#146-#151 build/serve/append/
    delete/compact) only ever answered a fixed broadcast-sized query
    batch. Here a corpus-sized query side (every even vec_id) joins the
    SAME three-version root emb_ivfpq_delete_serve maintains — codebooks
    trained once on the frozen vec_id < 100 subset (v1), the rest
    appended against the frozen books without retrain (v2), every
    vec_id % 10 == 3 tombstoned (v3) — so the batch join honors
    appends AND takedowns without touching a code row.

    Spark shape, in scale order: candidates come from the 2-byte codes
    ALONE (read_live_codes: codes scan + one anti-join against the
    broadcast tombstone keys) — no corpus vector is read to score them.
    The per-(query, probed-cell) ADC tables ride the query rows
    (_ivfpq_query_tables, same helper as #155), the candidate join is
    the salted sort-merge equi-join on (cell, slice) with
    ``.hint("merge")`` (no broadcast flip when the query side is
    corpus-sized), and the ADC window carries only (ids, cell, adc) —
    never a vector. Full-precision embeddings are fetched ONLY for the
    per-query top-30 shortlist, by two id-keyed joins (query_id for the
    query vector, neighbor_id for the corpus vector) on a shortlist-sized
    frame — the standard fetch-for-rerank lookup, then the exact
    fixed-point top-10. At 100 TB the index is the only corpus-sized
    artifact scanned, and it is ~16 bytes/vector.

    The ORACLE is the fully composed _ivfpq_sql: subset-trained coarse +
    residual codebooks (train_max), full-table encode, deleted ids
    excluded from candidates (delete_where), corpus-sized query side
    (query_where), ADC shortlist + exact re-rank (refine) — one hash
    certifies frozen-book append parity, tombstone exclusion, and both
    ranking stages of the compressed-domain join at once."""
    root = _ensure_ivfpq_deleted_index(spark, sf_dir)
    cur = store.resolve(root)
    pq_m, cells, cqs, books = _load_snapshot_client_state(cur)

    emb = load_table(spark, sf_dir, "embeddings")
    qd = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("query_id"),
        km.quantize_normalized(F.col("embedding")).alias("qq"),
    )
    qtables = _ivfpq_query_tables(
        qd, cells, cqs, books, _IVFPQ_NPROBE
    ).drop("qq").withColumn(
        "qslice",
        F.explode(F.array(*[F.lit(i) for i in range(_ADCJ_SLICES)])),
    )
    corp = ann_index.read_live_codes(spark, cur).withColumn(
        "slice", (F.col("vec_id") % _ADCJ_SLICES).cast("int")
    )
    adc = sum(
        F.element_at(F.col(f"t{m}"), F.col(f"c{m}") + 1)
        for m in range(pq_m)
    )
    cand = qtables.join(
        corp.hint("merge"),
        (F.col("pcell") == F.col("cell"))
        & (F.col("qslice") == F.col("slice"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (adc.cast("double") / F.lit(_PQT_SCALE2)).alias("adc_dist"),
    )
    aw = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    short = (
        cand.withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") <= _ADCJ_SHORTLIST)
        .drop("arn")
    )
    # fetch full-precision vectors for the shortlist ONLY: two id-keyed
    # joins on a (queries x R)-sized frame — never on the candidate set
    qvecs = qd.withColumnRenamed("query_id", "qid")
    xvecs = emb.select(
        F.col("vec_id").alias("nid"),
        km.quantize_normalized(F.col("embedding")).alias("xemb"),
    )
    refined = (
        short.join(qvecs, F.col("query_id") == F.col("qid"))
        .join(xvecs, F.col("neighbor_id") == F.col("nid"))
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            "adc_dist",
            (
                _isq(F.col("qq"), F.col("xemb")).cast("double")
                / F.lit(_PQT_SCALE2)
            ).alias("exact_dist"),
        )
    )
    ew = Window.partitionBy("query_id").orderBy("exact_dist", "neighbor_id")
    return (
        refined.withColumn("rn", F.row_number().over(ew).cast("int"))
        .filter(F.col("rn") <= _ADCJ_K)
        .select(
            "query_id", "neighbor_id", "cell", "adc_dist", "exact_dist",
            "rn",
        )
    )


# ---------------------------------------------------------------------------
# STORED routed-IVF root: the production-geometry index (cells ∝ n + the
# two-level router) persisted as versioned artifacts — the router ships
# WITH the index, making the r10 consistency law durable across sessions
# ---------------------------------------------------------------------------

_IVFR_ITERS = 2
_IVFR_CONSTS = (
    _IVFR_MIN_CELLS,
    _IVFR_TARGET_CELL,
    _IVFR_ITERS,
    EMB_DIM,
    km.FIXED_SCALE,
    km.ROUTER_SUPER_PROBES,
)


def _write_ivfpq_artifacts(
    spark: SparkSession,
    data_dir: str,
    cells: list,
    cqs: list,
    bcells: list,
    books: list,
    codes: DataFrame,
    pq_m: int,
    pq_codes: int,
    normalized: bool,
) -> None:
    """Write an IVF-PQ root's artifacts into ``data_dir``: `coarse`
    (cell, cq), `books` (m, code, cell, cq), `codes` (vec_id, cell,
    c0..c{M-1}) and the `meta` geometry row."""
    spark.createDataFrame(
        list(zip(cells, map(list, cqs))), "cell int, cq array<bigint>"
    ).coalesce(1).write.parquet(os.path.join(data_dir, "coarse"))
    spark.createDataFrame(
        [
            (m, code, bcells[m][code], list(books[m][code]))
            for m in range(pq_m)
            for code in range(len(books[m]))
        ],
        "m int, code int, cell int, cq array<bigint>",
    ).coalesce(1).write.parquet(os.path.join(data_dir, "books"))
    codes.drop("qemb").write.parquet(os.path.join(data_dir, "codes"))
    ann_index.write_index_meta(
        spark, data_dir, pq_m, pq_codes, normalized, EMB_DIM
    )


def ivfpq_train_and_write(
    spark: SparkSession, qv: DataFrame, data_dir: str
) -> None:
    """Train the cosine-faithful IVF-PQ quantizers over a (vec_id, qemb)
    frame of unit-normalized vectors — coarse Lloyd, one residual
    checkpoint, the stacked sub-codebooks (_train_books: one job per
    round for all 16 books) — and write the appendable-root
    artifacts (coarse, books, codes, meta) into ``data_dir``: the one
    implementation behind every appendable IVF-PQ bootstrap (#150's v1
    and streaming/ann_ingest_stream.bootstrap_codes_index), so the
    artifact layout and training chain cannot fork between them."""
    subdim = EMB_DIM // _PQ_COS_M
    coarse = (
        km.kmeans_train(qv, _KM_K, _KM_ITERS, EMB_DIM)
        .orderBy("cell")
        .collect()
    )
    cells = [r.cell for r in coarse]
    cqs = [list(r.cq) for r in coarse]
    res = _ivfpq_residuals(qv, cells, cqs).localCheckpoint(eager=True)
    bcells, books = _train_books(
        res, _PQ_COS_M, _PQ_CODES, _PQT_ITERS, subdim
    )
    _write_ivfpq_artifacts(
        spark, data_dir, cells, cqs, bcells, books,
        _ivfpq_encode_residuals(res, books, subdim), _PQ_COS_M, _PQ_CODES,
        True,
    )


def routed_train_and_write(spark: SparkSession, e: DataFrame, data_dir: str) -> None:
    """Train cells ∝ |e| (ranked-seed Lloyd, one cell per ~64
    vectors, floor 8) plus the two-level router over a
    (vec_id, qemb) frame and write the FOUR routed-root artifacts
    (centroids, supers, cent_super, codes) into ``data_dir`` — the one
    implementation behind every routed bootstrap (#157's build, #159's
    v1, and streaming/ann_ingest_stream.bootstrap_routed_index): the
    artifact layout, checkpoint discipline, and k formula must never
    fork between them."""
    n = e.count()
    k = max(_IVFR_MIN_CELLS, n // _IVFR_TARGET_CELL)
    # local-relation artifacts: no checkpoint jobs needed (see
    # emb_knn_join_trained's r14 note); the parquet writes below
    # serialize the local rows directly
    cents = km.kmeans_train_ranked(e, k, _IVFR_ITERS, EMB_DIM)
    router = km.train_router(cents, EMB_DIM)
    cents.coalesce(1).write.parquet(os.path.join(data_dir, "centroids"))
    router.supers.coalesce(1).write.parquet(
        os.path.join(data_dir, "supers")
    )
    router.cent_super.coalesce(1).write.parquet(
        os.path.join(data_dir, "cent_super")
    )
    km.route_top_cells(router, e, "vec_id", [], 1).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    ).write.parquet(os.path.join(data_dir, "codes"))


def _ensure_ivfr_index(spark: SparkSession, sf_dir: str) -> str:
    """Committed store root for the ROUTED trained-IVF index:
    `centroids` (cell, cq — ranked-seed Lloyd, k = max(floor, n/64):
    cells ∝ corpus, the production geometry), `supers` (super_cell, scq)
    and `cent_super` (cell, cq, super_cell) — the TwoLevelRouter as
    stored artifacts — and `codes` (vec_id, cell): the corpus routed
    through that SAME router. Persisting the router next to the codes
    is the point: the r10 consistency law says a routed corpus must be
    probed by the router that assigned it, so the router is part of the
    index version, not session state a server might retrain (and
    thereby silently lose every disagreeing cell)."""

    def build(data_dir: str) -> None:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", km.quantize(F.col("embedding")).alias("qemb")
        )
        routed_train_and_write(spark, e, data_dir)

    return ann_index.ensure(
        sf_dir, "embeddings.parquet", "ivfr", _IVFR_CONSTS, build
    )


def _ivfr_build_sql() -> str:
    """Oracle for the persisted routed-index artifacts: re-derive the
    ranked-seed centroids (data-dependent k), the router (supers +
    cell→super map), and the router-assigned codes from raw data, then
    emit the unnested construction — (cell, super_cell, pos, cval,
    n_members). A hash match certifies the stored centroid BYTES, the
    stored routing map, and the stored assignment histogram at once."""
    src = (
        f"SELECT vec_id, {km.quantize_sql('embedding')} AS qemb"
        f" FROM embeddings"
    )
    k_sql = (
        f"SELECT greatest({_IVFR_MIN_CELLS},"
        f" COUNT(*) // {_IVFR_TARGET_CELL}) FROM rbqv"
    )
    train, cent = km.kmeans_train_ranked_sql_ctes(
        src, k_sql, _IVFR_ITERS, EMB_DIM, "rb"
    )
    router, supers, cs = km.router_sql_ctes(cent, EMB_DIM, "rbr")
    corp_route, corp_cells = km.route_top_cells_sql(
        "rbqv", "vec_id", [], 1, supers, cs, EMB_DIM, "rbc"
    )
    return f"""WITH {train},
{router},
{corp_route},
rbn AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM {corp_cells} GROUP BY 1)
SELECT m.cell, m.super_cell, CAST(i AS INTEGER) AS pos, m.cq[i] AS cval,
       COALESCE(n.n_members, 0) AS n_members
FROM {cs} m LEFT JOIN rbn n USING (cell), range(1, {EMB_DIM} + 1) t(i)
"""


@register("emb_ivf_routed_build", oracle=_ivfr_build_sql())
def emb_ivf_routed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD half of the stored ROUTED index (r11): train cells ∝ n
    (ranked-seed Lloyd, one cell per ~64 vectors), train the two-level
    router over the centroid table, route the corpus through it, and
    persist ALL FOUR artifacts (centroids, supers, cent_super, codes)
    as one snapshot version. Returns the stored construction unnested —
    per (cell, dim-position): centroid value, the cell's super
    assignment, and the cell's routed member count — so the ORACLE
    re-derives everything from raw data and the hash certifies the
    stored bytes, router map included.

    This is the production counterpart of emb_ivf_build (fixed 8 cells,
    exact argmin assignment): at cells ∝ corpus the exact-assignment
    term is O(n·k) folds — the term the r10/r11 measurements showed
    dominating build at 100k vectors (29.6 s flat argmin vs 6.2 s
    routed) — so the stored index must be BUILT through the router too,
    and serving must reuse that exact router (see
    emb_ivf_routed_serve). A cell can legitimately hold zero members
    (Lloyd keeps it, the router steers its would-be members elsewhere):
    COALESCE(0) on both engines."""
    root = _ensure_ivfr_index(spark, sf_dir)
    cs = ann_index.read_artifact(spark, root, "cent_super")
    counts = (
        ann_index.read_artifact(spark, root, "codes")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    )
    return (
        cs.select(
            "cell",
            "super_cell",
            F.posexplode("cq").alias("pos0", "cval"),
        )
        .select(
            "cell",
            "super_cell",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            "cval",
        )
        .join(counts, "cell", "left")
        .select(
            "cell",
            "super_cell",
            "pos",
            "cval",
            F.coalesce(F.col("n_members"), F.lit(0).cast("long")).alias(
                "n_members"
            ),
        )
    )


@register("emb_ivf_routed_serve", oracle=_ivfr_sql())
def emb_ivf_routed_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE half of the stored ROUTED index (r11): read centroids'
    router (supers + cent_super) and the routed codes from the snapshot
    root — building first only if this corpus version has no committed
    index — route the QUERIES through the STORED router, and run the
    identical search as emb_ivf_ann_routed (#154). Output and oracle
    are #154's verbatim: storage is invisible to results, so the hash
    match proves the persisted router serves the same answers as the
    in-session construction — which is exactly the consistency
    guarantee a production serve needs across process restarts (a
    RETRAINED router would disagree with the stored assignment on a
    measured ~60% of cells and silently lose them from every probe).

    Scale shape: serve collects NOTHING data-sized (the router frames
    are k-row and √k-row, broadcast into the routing joins); the corpus
    side is one vec_id equi-join (codes ⋈ corpus) and the probe side a
    broadcast — no training, no Lloyd lineage, no argmin over k on the
    serve path."""
    root = _ensure_ivfr_index(spark, sf_dir)
    return _routed_serve_from_dir(spark, sf_dir, store.resolve(root))


def _routed_serve_from_dir(
    spark: SparkSession, sf_dir: str, cur: str
) -> DataFrame:
    """The shared serve tail for every routed snapshot dir (#158 fresh
    root, #159 grown root, #160 tombstoned root): reconstruct the
    TwoLevelRouter FROM THE STORED artifacts, route the fixed query set
    through it, equi-join the stored LIVE codes to the corpus,
    exact-cosine top-k. Collects nothing; the router frames broadcast
    into the routing joins. Codes read through read_live_codes: a bare
    scan when the version carries no tombstones (zero cost on the
    undeleted path — #158/#159 plans unchanged), one anti-join against
    the broadcast-sized key set when it does (r12 delete tier)."""
    router = ann_index.load_router(spark, cur)
    codes = ann_index.read_live_codes(spark, cur)
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        vx.norm(F.col("embedding")).alias("nrm"),
        km.quantize(F.col("embedding")).alias("qemb"),
    )
    corp = e.select("vec_id", "embedding", "nrm").join(codes, "vec_id")
    q = e.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        "qemb",
    )
    probes = km.route_top_cells(
        router, q, "query_id", ["qe", "qnrm"], _IVFR_NPROBE
    ).withColumnRenamed("cell", "pcell")
    cand = corp.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("pcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        (
            vx.dot(F.col("qe"), F.col("embedding"))
            / (F.col("qnrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVF_K)
        .select("query_id", "neighbor_id", "cell", "cos_sim", "rn")
    )


# ---------------------------------------------------------------------------
# Routed-root APPEND: grow the routed index without retraining the ROUTER —
# late vectors are routed by the STORED two-level quantizer (FAISS `add`
# for the router tier; parity with the IVF-PQ frozen-book append)
# ---------------------------------------------------------------------------


def routed_assign(cur: str, late: DataFrame) -> DataFrame:
    """ann_index.append_generation's routed step: route (vec_id,
    embedding) rows through snapshot ``cur``'s FROZEN two-level router
    (supers + cent_super — never retrained) into (vec_id, cell) code
    rows. Routing costs ~(√k + 2k/√k) folds per vector — the same
    sublinear assignment the build used, which is the whole point of
    freezing the router: late vectors land in exactly the cells a
    from-scratch routing of the grown corpus would give them (per-row
    routing is independent), so serve-after-append equals a one-pass
    build. The consistency law holds BY CONSTRUCTION across
    generations: there is only ever one router in the root's lineage."""
    router = ann_index.load_router(late.sparkSession, cur)
    qv = late.select("vec_id", km.quantize(F.col("embedding")).alias("qemb"))
    return km.route_top_cells(router, qv, "vec_id", [], 1).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )


def _ensure_ivfr_appended_index(spark: SparkSession, sf_dir: str) -> str:
    """Two-version routed root: v1 = router + cells trained on the ODD
    corpus half (cells ∝ training corpus at every sf — the parity split
    keeps the geometry production-shaped, unlike an absolute id cut),
    odd half routed and committed; v2 = every EVEN vector routed through
    the FROZEN router and appended. No retraining anywhere in v2."""
    return _ensure_lifecycle_root(
        spark,
        sf_dir,
        "ivfr_app",
        _IVFR_CONSTS + ("oddtrain",),
        _ivfr_odd_train_build(spark, sf_dir),
        _ivfr_even_vectors,
        routed_assign,
    )


def _ivfr_odd_train_build(spark: SparkSession, sf_dir: str):
    """Build closure for v1 of the routed append/delete lifecycles:
    router + cells trained on the ODD corpus half, odd half routed."""

    def build(data_dir: str) -> None:
        e = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % 2 == 1
        ).select("vec_id", km.quantize(F.col("embedding")).alias("qemb"))
        routed_train_and_write(spark, e, data_dir)

    return build


def _ivfr_even_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The routed lifecycles' v2 delta: the EVEN corpus half."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 2 == 0
    )


def _ivfr_app_sql(delete_where: str | None = None) -> str:
    """Oracle for serve-after-routed-append: train centroids + router on
    the ODD half only (data-dependent k from the odd count), route the
    FULL table through that router, search. Per-row routing is
    independent and the router frozen, so route(odd) ∪ route(even) ==
    route(all) — the hash certifies the frozen-router append produced
    byte-identical cells to a one-pass routing of the grown corpus.

    With ``delete_where`` (a predicate over the candidate alias ``c``,
    e.g. ``c.vec_id % 10 != 3``), deleted ids are EXCLUDED from the
    candidate corpus — the oracle face of the r12 routed tombstone tier
    (#160): routing is per-row independent, so exclude-after-route ==
    route-survivors-only, exactly the argument the IVF-PQ delete oracle
    makes for exclude-after-encode."""
    src = (
        f"SELECT vec_id, {km.quantize_sql('embedding')} AS qemb"
        f" FROM embeddings WHERE vec_id % 2 = 1"
    )
    k_sql = (
        f"SELECT greatest({_IVFR_MIN_CELLS},"
        f" COUNT(*) // {_IVFR_TARGET_CELL}) FROM raqv"
    )
    train, cent = km.kmeans_train_ranked_sql_ctes(
        src, k_sql, _IVFR_ITERS, EMB_DIM, "ra"
    )
    router, supers, cs = km.router_sql_ctes(cent, EMB_DIM, "rar")
    full = (
        f"rafull AS (SELECT vec_id, {km.quantize_sql('embedding')} AS qemb"
        f" FROM embeddings)"
    )
    corp_route, corp_cells = km.route_top_cells_sql(
        "rafull", "vec_id", [], 1, supers, cs, EMB_DIM, "rac"
    )
    qsrc = (
        f"raq AS (SELECT vec_id AS query_id, qemb FROM rafull"
        f" WHERE vec_id < {_IVF_QUERIES})"
    )
    q_route, q_cells = km.route_top_cells_sql(
        "raq", "query_id", [], _IVFR_NPROBE, supers, cs, EMB_DIM, "rap"
    )
    return f"""WITH {train},
{router},
{full},
{corp_route},
{qsrc},
{q_route},
racand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, c.cell,
         {vx.cosine_sql('qq.embedding', 'ee.embedding')} AS cos_sim
  FROM {q_cells} p
  JOIN {corp_cells} c ON c.cell = p.cell AND c.vec_id != p.query_id
       {f'AND ({delete_where})' if delete_where else ''}
  JOIN embeddings ee ON ee.vec_id = c.vec_id
  JOIN embeddings qq ON qq.vec_id = p.query_id
), rarank AS (
  SELECT query_id, neighbor_id, cell, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
  FROM racand
)
SELECT query_id, neighbor_id, cell, cos_sim, rn FROM rarank
WHERE rn <= {_IVF_K}
"""


@register("emb_ivf_routed_append_serve", oracle=_ivfr_app_sql())
def emb_ivf_routed_append_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve from a routed index GROWN WITHOUT RETRAINING THE ROUTER
    (r11): router + cells were trained once on the odd corpus half
    (index v1, cells ∝ training corpus); every even vector was routed
    through those FROZEN artifacts and appended as v2 — the router-tier
    analog of the IVF-PQ frozen-book append (#150), and the growth path
    the stored routed index (#157/#158) needs to be an actual lifecycle
    rather than a rebuild-per-corpus-version artifact.

    The serve plan is #158's verbatim (stored router routes the
    queries; codes ⋈ corpus equi-join; broadcast probes; top-k window).
    The ORACLE trains on the odd half and routes the FULL table in one
    pass, so the hash match certifies that frozen-router appends land
    every late vector in exactly the cell a from-scratch routing would
    give it — O(delta) growth with zero recall drift by construction.
    Commit mechanics (hardlinked artifacts + one appended part-file,
    CAS retries, exactly-once empty-delta no-op) are shared with the
    #150 lifecycle and pinned in tests/test_ann_index.py."""
    root = _ensure_ivfr_appended_index(spark, sf_dir)
    return _routed_serve_from_dir(spark, sf_dir, store.resolve(root))


def _ensure_ivfr_deleted_index(spark: SparkSession, sf_dir: str) -> str:
    """Three-version ROUTED root proving the routed grow-then-shrink
    lifecycle (the routed analog of _ensure_ivfpq_deleted_index): v1 =
    router + cells trained on the ODD corpus half, odd half routed and
    committed; v2 = every EVEN vector routed through the FROZEN router
    and appended; v3 = tombstones for vec_id % {_DELETE_MOD} ==
    {_DELETE_RES} — deletes spanning BOTH generations, no code row
    rewritten or re-routed. Its OWN store root (distinct consts tag):
    pushing the delete generation onto #159's shared root would shrink
    that entry's serving view and false-MISMATCH its oracle."""
    return _ensure_lifecycle_root(
        spark,
        sf_dir,
        "ivfr_del",
        _IVFR_CONSTS + ("oddtrain", _DELETE_MOD, _DELETE_RES, "del"),
        _ivfr_odd_train_build(spark, sf_dir),
        _ivfr_even_vectors,
        routed_assign,
        delete=True,
    )


@register(
    "emb_ivf_routed_delete_serve",
    oracle=_ivfr_app_sql(
        delete_where=f"c.vec_id % {_DELETE_MOD} != {_DELETE_RES}"
    ),
)
def emb_ivf_routed_delete_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Serve from a routed index that GREW and then SHRANK without
    retraining (r12, completing VERDICT r11 #2): after the #159 append
    lifecycle (router + cells trained on the odd half, evens appended
    through the frozen router), every vec_id % {_DELETE_MOD} ==
    {_DELETE_RES} was tombstoned as a delete generation
    (ann_index.delete_generation — FAISS ``remove_ids`` on the router
    tier).
    No code row was rewritten at delete time: the commit is an
    O(|keys|) key-set write plus hardlinks of router + centroids +
    codes, and the serve plan is #158's verbatim plus ONE anti-join
    against the broadcast-sized tombstone key set (read_live_codes —
    the SAME artifact layout and read path as the IVF-PQ tier, so every
    serve face of both tiers shares one tombstone discipline).

    The ORACLE re-derives train-on-odd + route-full from raw data with
    the deleted ids EXCLUDED from the candidate corpus (routing is
    per-row independent: exclude-after-route == route-survivors-only),
    so one hash certifies frozen-router append parity AND tombstone
    exclusion. Lifecycle pins (delete → replay idempotency → re-add
    resurrection → compact folds tombstones) live in
    tests/test_ann_index.py; the takedown STREAM reaches routed roots
    through the kind-dispatching delete_generation
    (streaming/ann_ingest_stream.start_codes_delete_stream)."""
    root = _ensure_ivfr_deleted_index(spark, sf_dir)
    return _routed_serve_from_dir(spark, sf_dir, store.resolve(root))
