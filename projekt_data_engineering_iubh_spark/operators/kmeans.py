"""DataFrame-native Lloyd k-means over embedding columns.

The coarse-quantizer trainer the IVF operators (plans/vector_queries.py)
assume as given: repeated assign (nearest centroid) + update (per-cell
mean) rounds, expressed entirely as DataFrame ops — the corpus side never
leaves the cluster, the centroid side is k rows broadcast into every
round, the shape Spark's own MLlib k-means executes per iteration.

All arithmetic is exact fixed-point (floats scaled by 2^20 → bigint):

* element quantization: ``floor(x * 2^20)`` — one deterministic float op;
* distances: integer squared-L2 (embedding values |x| < 1 → per-element
  diff² < 2^42, ×64 dims < 2^48 — far inside bigint);
* means: bigint sums are order-independent and EXACT (no FP summation
  nondeterminism across partition orders), then ``floor(sum / n)`` with
  the division done in double (sums < 2^53, so the quotient is exact).

That makes every round bit-reproducible across engines — the property the
DuckDB differential oracle needs — where double-precision means would
hash-mismatch on partition-order-dependent last bits. A production run
that doesn't need cross-engine determinism can use double means
unchanged; the operator shape is identical.

Training executes one small job PER ITERATION (r13): the k×dim centroids
are collected to the driver after every round (constant-size — the same
collect class as the final codebook read) and the next round's argmin is
a LITERAL expression over them, so the corpus is never shuffled during
assignment (map-only argmin + one k-row-out mean-update shuffle per
round). The previous shape — a single lazy plan chaining all rounds —
paid a broadcast cross join PLUS an n-row groupBy shuffle per round and
a catalyst tree that grew with iters; measured at sf0.1 (2000 vectors,
k=8, 3 rounds) it cost 5.9 s against ~0.8 s for the per-round-literal
shape, and at 100 TB the removed per-round corpus shuffle is the
difference between Lloyd costing iters scans and iters shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

FIXED_SCALE = 1 << 20  # 2^20: exact in double, |x|<1 floats keep 20 bits


def quantize(emb: F.Column) -> F.Column:
    """array<float> → array<bigint> fixed-point at 2^20."""
    return F.transform(
        emb,
        lambda x: F.floor(x.cast("double") * F.lit(float(FIXED_SCALE))).cast(
            "long"
        ),
    )


def quantize_sql(expr: str) -> str:
    return (
        f"list_transform({expr}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {float(FIXED_SCALE)}) AS BIGINT))"
    )


def quantize_normalized(emb: F.Column) -> F.Column:
    """array<float> → array<bigint>: unit-L2-normalize FIRST, then
    fixed-point at 2^20. On the unit sphere L2²(a,b) = 2 − 2·cos(a,b),
    so integer L2/ADC ranking over these codes IS cosine ranking — the
    r8 method matrix measured cosine-recall 0.14 for L2-ADC over raw
    (unnormalized) vectors; this is the standard fix (normalize at
    index build + query encode, rank by L2).

    Bit-compat contract with :func:`quantize_normalized_sql`: the norm
    is the same double fold both engines use for cosine (proven
    hash-exact by the brute entries), and the expression shape is
    ``floor((x / norm) * scale)`` with identical association on both
    sides.

    Zero-norm guard: an all-zero embedding would divide by zero — NULL
    in Spark, engine-version-dependent (NULL or inf) in DuckDB — so the
    vector would silently drop out of the index on one engine and not
    the other. ``greatest(norm, 1e-30)`` pins both engines to the same
    finite divisor; since every element of a zero-norm vector is zero,
    the quantized result is the exact all-zeros code on both sides.

    The norm is bound ONCE per row, outside the element lambda: an outer
    one-element ``transform(array(norm), n -> transform(emb, x -> …))``
    then ``element_at(…, 1)``. Catalyst does not hoist loop-invariant
    expressions out of a lambda, so a norm Column referenced inside the
    element lambda re-runs its dim-term fold for EVERY element — O(dim²)
    interpreted work per vector instead of O(dim). The double operations
    and their order are unchanged, so the codes are bit-identical to the
    inline formulation and to the DuckDB rendering. NULL stays NULL (the
    inner transform of a NULL array), empty stays empty."""
    from projekt_data_engineering_iubh_spark.functions import vectors as vx

    n = F.greatest(vx.norm(emb), F.lit(1e-30))
    return F.element_at(
        F.transform(
            F.array(n),
            lambda nv: F.transform(
                emb,
                lambda x: F.floor(
                    x.cast("double") / nv * F.lit(float(FIXED_SCALE))
                ).cast("long"),
            ),
        ),
        1,
    )


def quantize_normalized_sql(expr: str) -> str:
    from projekt_data_engineering_iubh_spark.functions import vectors as vx

    n = f"greatest({vx.norm_sql(expr)}, 1e-30)"
    return (
        f"list_transform({expr}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" / ({n}) * {float(FIXED_SCALE)}) AS BIGINT))"
    )


def _int_sq_dist(a: F.Column, b: F.Column) -> F.Column:
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(sq, F.lit(0).cast("long"), lambda acc, v: acc + v)


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, qemb) × (cell, cq) →
    (vec_id, qemb, cell, dist). Ties break to the lowest cell id.

    The centroid side is k rows — Spark broadcasts the cross join, so the
    corpus scan stays partition-local; the per-vector argmin is a
    ``min_by`` aggregate (struct ordering = lexicographic, so
    ``struct(dist, cell)`` reproduces the dist-then-lowest-cell
    tie-break). Declarative aggregates combine map-side: each input
    partition reduces its k candidate rows per vector to ONE before the
    vec_id shuffle — k× less shuffle traffic than a row_number window,
    which must move all k candidates per vector to one reducer.
    """
    cross = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", _int_sq_dist(F.col("qemb"), F.col("cq"))
    )
    best = cross.groupBy("vec_id").agg(
        F.min_by(
            F.struct("qemb", "cell", "dist"), F.struct("dist", "cell")
        ).alias("best")
    )
    return best.select(
        "vec_id", "best.qemb", "best.cell", "best.dist"
    )


def update_centroids(assign: DataFrame, dim: int) -> DataFrame:
    """Per-cell elementwise fixed-point mean → (cell, cq).

    posexplode → groupBy(cell, pos) is the classic two-level mean: partial
    sums combine map-side, the shuffle carries (cell, pos, sum, count) —
    k×dim rows — and the re-pack is a k-row groupBy. Cells that lost every
    member emit no row (k shrinks), same as the oracle's GROUP BY.
    """
    elems = assign.select("cell", F.posexplode("qemb").alias("pos", "val"))
    means = elems.groupBy("cell", "pos").agg(
        F.floor(
            F.sum("val").cast("double") / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("m")
    )
    packed = means.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s.getField("m"),
        ).alias("cq")
    )
    # a re-packed centroid missing elements would poison every later
    # distance (zip_with truncates silently) — fail loudly instead
    return packed.select(
        "cell",
        F.when(F.size("cq") == dim, F.col("cq"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    "update_centroids: packed %d elems, expected "
                    + str(dim),
                    F.size("cq"),
                )
            )
        )
        .alias("cq"),
    )


def _isq_sql(a: str, b: str) -> str:
    """SQL text of :func:`_int_sq_dist` — same expressions, parsed
    JVM-side (one string parse instead of thousands of py4j literal
    round trips; see plans/vector_queries.py::_ivfpq_residuals)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _arr_sql(vals: list) -> str:
    return "array(" + ",".join(str(int(v)) for v in vals) + ")"


def _assign_literal(vectors: DataFrame, cents: list) -> DataFrame:
    """(vec_id, qemb) → (vec_id, qemb, cell, dist) argmin assignment
    against DRIVER-HELD centroid literals ``[(cell, cq), ...]`` sorted
    by cell id: distances to every centroid in one literal array, then
    ``array_position`` of the min — first index == lowest cell id on
    ties, replicating :func:`assign_cells`'s (dist, cell) min_by
    tie-break exactly (integer arithmetic end to end). Map-only: no
    broadcast join, no shuffle — the corpus row never leaves its
    partition during assignment."""
    cd = (
        "array(" + ",".join(_isq_sql("qemb", _arr_sql(cq)) for _, cq in cents)
        + ")"
    )
    cells = _arr_sql([c for c, _ in cents])
    return vectors.selectExpr("vec_id", "qemb", f"{cd} AS _cd").selectExpr(
        "vec_id",
        "qemb",
        f"element_at({cells},"
        f" CAST(array_position(_cd, array_min(_cd)) AS INT)) AS cell",
        "array_min(_cd) AS dist",
    )


def _update_collect(assign: DataFrame, dim: int) -> list:
    """Per-cell fixed-point means of an assignment frame, collected as
    ``[(cell, [m0..m{dim-1}])]`` sorted by cell: ONE groupBy(cell) with
    ``dim`` column-wise floor'd means (identical arithmetic to
    :func:`update_centroids` — same bigint sums, same double division,
    same floor — but one shuffle of k×partitions partial rows instead
    of the posexplode's two). Cells that lost every member emit no
    group, exactly like the GROUP BY they replace. The posexplode shape
    (3 columns, one sum) is kept over dim parallel agg columns because
    the 64-agg HashAggregate generates ~0.4 s of fresh whole-stage
    codegen per round (the literals upstream change every round, so
    nothing is cache-hit); the small-agg shape measured 0.43 s/round
    against 0.76 (r13)."""
    rows = (
        assign.select("cell", F.posexplode("qemb").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(
            F.expr(
                "CAST(floor(CAST(sum(val) AS DOUBLE)"
                " / CAST(count(1) AS DOUBLE)) AS BIGINT) AS m"
            )
        )
        .collect()
    )
    cents: dict[int, dict[int, int]] = {}
    for r in rows:
        cents.setdefault(int(r.cell), {})[r.pos] = r.m
    return sorted((c, [d[i] for i in range(dim)]) for c, d in cents.items())


def _cents_df(vectors: DataFrame, cents: list) -> DataFrame:
    """[(cell, cq)] → a k-row local relation (cell INT, cq ARRAY<BIGINT>)
    — same schema the lazy update produced, but with no lineage to
    re-execute, so every downstream reference is free."""
    return vectors.sparkSession.createDataFrame(
        [(c, list(q)) for c, q in cents], "cell INT, cq ARRAY<BIGINT>"
    )


def _train_literal(
    vectors: DataFrame, seeds: list, iters: int, dim: int
) -> list:
    """The shared literal-centroid Lloyd loop: one small job per round
    (map-only argmin + single-shuffle mean update + k×dim collect).
    Centroid tables past ROUTER_LITERAL_MAX_VALUES embedded values
    assign through the broadcast crossJoin shape instead (same integer
    argmin, same (dist, cell) tie-break via min_by)."""
    cents = seeds
    for _ in range(iters):
        if len(cents) * dim > ROUTER_LITERAL_MAX_VALUES:
            asg = assign_cells(vectors, _cents_df(vectors, cents))
        else:
            asg = _assign_literal(vectors, cents)
        cents = _update_collect(asg, dim)
    return cents


def kmeans_train(
    vectors: DataFrame, k: int, iters: int, dim: int
) -> DataFrame:
    """``iters`` Lloyd rounds over (vec_id, qemb) fixed-point vectors →
    the trained centroids (cell, cq). Seeds are the k lowest vec_ids
    (deterministic — a production variant would hash-sample seeds, same
    shape). Exposed separately from :func:`kmeans_fixed_point` so callers
    that need the CODEBOOK itself (IVF coarse quantizers, e.g.
    plans/vector_queries.py::ivfpq_train_and_write) reuse the exact same
    rounds the assignment query verifies cross-engine."""
    seed_rows = (
        vectors.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cell"), "qemb")
        .collect()
    )
    seeds = sorted((int(r.cell), list(r.qemb)) for r in seed_rows)
    return _cents_df(vectors, _train_literal(vectors, seeds, iters, dim))


def kmeans_train_ranked(
    vectors: DataFrame, k: int, iters: int, dim: int
) -> DataFrame:
    """:func:`kmeans_train` for NON-DENSE id spaces: seeds are the k
    lowest vec_ids BY RANK (cell = rank − 1), so a corpus half (odd
    vec_ids), a stride sample, or a centroid table all seed correctly —
    ``vec_id < k`` only works when ids are dense from 0. The seed pick
    is a TakeOrderedAndProject (orderBy + limit — no global sort
    shuffle)."""
    seed_rows = vectors.orderBy("vec_id").limit(k).select(
        "vec_id", "qemb"
    ).collect()
    seed_rows.sort(key=lambda r: r.vec_id)
    seeds = [(i, list(r.qemb)) for i, r in enumerate(seed_rows)]
    return _cents_df(vectors, _train_literal(vectors, seeds, iters, dim))


def _train_ranked_routed_list(
    vectors: DataFrame,
    k: int,
    iters: int,
    dim: int,
    n_probe_super: int | None = None,
) -> list:
    """The :func:`kmeans_train_ranked_routed` Lloyd loop, returning the
    trained centroids as the driver-held ``[(cell, cq), ...]`` list —
    callers that immediately need a LITERAL final assignment
    (plans/vector_queries.py::emb_kmeans_routed_train) take this form so
    the assignment is a gated map-only projection instead of the
    broadcast crossJoin + min_by shuffle over a local relation.

    :func:`kmeans_train_ranked` with ROUTER-ASSISTED Lloyd assignment
    (r12): exact Lloyd's per-iteration assignment is O(n·k) folds, which
    at production geometry (cells ∝ n, so k = n/64) makes TRAINING the
    quadratic term — at 1M vectors / 15.6k cells that is ~47B folds,
    hours on this box and unpayable at 100 TB. Here each iteration
    trains the two-level router over the CURRENT centroids (√k supers —
    a k-row job) and assigns through it (~(√k + 2k/√k) folds/vector, the
    measured 6.7× fold cut), then updates means as usual. This is
    exactly how FAISS trains large-k IVF (assignment via the coarse
    quantizer HNSW/IVF itself), and the r10 consistency result says
    approximate-but-consistent assignment is what matters downstream.

    NOT a drop-in replacement for the certified exact trainer: routed
    assignment can disagree with exact argmin near cell boundaries, so
    centroids differ from exact Lloyd's — registry oracles that
    replicate exact Lloyd (#153, #157-#159) keep using
    :func:`kmeans_train_ranked`. A routed-training oracle is renderable
    (router_sql_ctes + route_top_cells_sql compose per iteration) when
    an entry wants it. Per round (r13 shape): router training is pure
    driver work over the k-row centroid list, the routed corpus argmin
    is one map-only literal projection, the mean update one small
    shuffle — so an iteration is ONE Spark job and the corpus never
    shuffles during assignment."""
    if n_probe_super is None:
        n_probe_super = ROUTER_SUPER_PROBES
    seed_rows = vectors.orderBy("vec_id").limit(k).select(
        "vec_id", "qemb"
    ).collect()
    seed_rows.sort(key=lambda r: r.vec_id)
    cents = [(i, list(r.qemb)) for i, r in enumerate(seed_rows)]
    for _ in range(iters):
        supers, cent_super = _py_train_router(cents, dim)
        if (len(cent_super) + len(supers)) * dim > ROUTER_LITERAL_MAX_VALUES:
            # production-k round: route through the broadcast-join shape
            # (same answer; the literal string would be MBs of parse)
            spark = vectors.sparkSession
            router = TwoLevelRouter(
                spark.createDataFrame(
                    list(supers), "super_cell INT, scq ARRAY<BIGINT>"
                ),
                spark.createDataFrame(
                    [(c, q, s) for c, q, s in cent_super],
                    "cell INT, cq ARRAY<BIGINT>, super_cell INT",
                ),
                supers,
                cent_super,
            )
            asg = _route_top_cells_join(
                router,
                vectors.withColumn("_kept", F.col("qemb")),
                "vec_id",
                ["_kept"],
                1,
                n_probe_super,
            ).withColumnRenamed("_kept", "qemb")
        else:
            scored = _routed_scored_expr(supers, cent_super, n_probe_super)
            asg = vectors.selectExpr(
                "qemb", f"array_min({scored}).c AS cell"
            ).filter(F.col("cell").isNotNull())
        cents = _update_collect(asg, dim)
    return cents


def kmeans_train_ranked_routed(
    vectors: DataFrame,
    k: int,
    iters: int,
    dim: int,
    *,
    n_probe_super: int | None = None,  # default ROUTER_SUPER_PROBES
) -> DataFrame:
    """Router-assisted ranked-seed Lloyd as a (cell, cq) frame — see
    :func:`_train_ranked_routed_list` for the algorithm and its scale
    rationale; this wrapper packs the trained list into the local
    relation the index builders persist."""
    return _cents_df(
        vectors,
        _train_ranked_routed_list(
            vectors, k, iters, dim, n_probe_super
        ),
    )


def kmeans_fixed_point(
    emb: DataFrame, k: int, iters: int, dim: int
) -> DataFrame:
    """Train k-means and return the final assignment (vec_id, cell, dist):
    ``iters`` full Lloyd rounds (:func:`kmeans_train`), then one final
    assignment against the trained centroids — map-only against the
    collected centroid literals (same argmin, same (dist, cell)
    tie-break as :func:`assign_cells`, zero shuffles). The final
    assignment honors the same ROUTER_LITERAL_MAX_VALUES gate as the
    training rounds (r14, ADVICE r13 #1): past the threshold the k×dim
    literal expression would be MBs of driver build/parse, so it falls
    back to the broadcast-join shape. Precondition either way: unique
    ``vec_id`` input (table-PK contract — the literal path is map-only
    while assign_cells' groupBy would collapse duplicates)."""
    vectors = emb.select("vec_id", quantize(F.col("embedding")).alias("qemb"))
    seed_rows = (
        vectors.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cell"), "qemb")
        .collect()
    )
    seeds = sorted((int(r.cell), list(r.qemb)) for r in seed_rows)
    cents = _train_literal(vectors, seeds, iters, dim)
    if len(cents) * dim > ROUTER_LITERAL_MAX_VALUES:
        return assign_cells(vectors, _cents_df(vectors, cents)).select(
            "vec_id", "cell", "dist"
        )
    return _assign_literal(vectors, cents).select("vec_id", "cell", "dist")


# ---------------------------------------------------------------------------
# DuckDB oracle rendering (same rounds, same fixed-point arithmetic)
# ---------------------------------------------------------------------------


def _assign_sql(src: str, cent: str, dim: int) -> str:
    dist = (
        f"list_reduce(list_transform(range(1, {dim} + 1), "
        f"i -> (v.qemb[i] - c.cq[i]) * (v.qemb[i] - c.cq[i])), "
        f"(x, y) -> x + y)"
    )
    return (
        f"SELECT vec_id, qemb, cell, dist FROM (\n"
        f"  SELECT v.vec_id, v.qemb, c.cell, {dist} AS dist,\n"
        f"         ROW_NUMBER() OVER (PARTITION BY v.vec_id\n"
        f"             ORDER BY {dist}, c.cell) AS rn\n"
        f"  FROM {src} v CROSS JOIN {cent} c\n"
        f") WHERE rn = 1"
    )


def _update_sql(assign: str, dim: int) -> str:
    return (
        f"SELECT cell, list(m ORDER BY pos) AS cq FROM (\n"
        f"  SELECT cell, i AS pos,\n"
        f"         CAST(floor(CAST(SUM(val) AS DOUBLE)"
        f" / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m\n"
        f"  FROM (SELECT cell, i, qemb[i] AS val\n"
        f"        FROM {assign}, range(1, {dim} + 1) t(i))\n"
        f"  GROUP BY cell, i\n"
        f") GROUP BY cell"
    )


def kmeans_train_sql_ctes(
    src_sql: str, k: int, iters: int, dim: int, prefix: str
) -> tuple[str, str]:
    """CTE chain mirroring :func:`kmeans_train` over an arbitrary source
    query producing (vec_id, qemb). Returns (CTE list fragment, name of
    the final CENTROID CTE). ``prefix`` namespaces the chain so several
    trainings (one per PQ subspace) compose in one statement."""
    parts = [
        f"{prefix}qv AS ({src_sql})",
        f"{prefix}c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, qemb AS cq"
        f" FROM {prefix}qv WHERE vec_id < {k})",
    ]
    cent = f"{prefix}c0"
    for r in range(1, iters + 1):
        parts.append(
            f"{prefix}a{r} AS ({_assign_sql(f'{prefix}qv', cent, dim)})"
        )
        parts.append(f"{prefix}c{r} AS ({_update_sql(f'{prefix}a{r}', dim)})")
        cent = f"{prefix}c{r}"
    return ",\n".join(parts), cent


def kmeans_sql_ctes(k: int, iters: int, dim: int) -> tuple[str, str]:
    """(CTE chain, final assignment CTE name) mirroring
    :func:`kmeans_fixed_point` on the ``embeddings`` view."""
    parts = [
        f"qv AS (SELECT vec_id, {quantize_sql('embedding')} AS qemb"
        f" FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, qemb AS cq"
        f" FROM qv WHERE vec_id < {k})",
    ]
    cent = "c0"
    for r in range(1, iters + 1):
        parts.append(f"a{r} AS ({_assign_sql('qv', cent, dim)})")
        parts.append(f"c{r} AS ({_update_sql(f'a{r}', dim)})")
        cent = f"c{r}"
    final = f"a{iters + 1}"
    parts.append(f"{final} AS ({_assign_sql('qv', cent, dim)})")
    return "WITH " + ",\n".join(parts), final


# ---------------------------------------------------------------------------
# Two-level coarse router (productized from tools/knn_join_scale.py r10)
# ---------------------------------------------------------------------------
#
# Broadcast-argmin assignment is O(n·cells) distance folds; at production
# cell counts (cells ∝ corpus, r10 scale law) the coarse quantizer itself
# needs sublinear search. The router trains √cells super-cells OVER THE
# CENTROID TABLE (tiny), routes each vector to its ROUTER_SUPER_PROBES
# nearest super-cells, and ranks only the centroids inside them:
# ~(√k + 2k/√k) folds per vector instead of k (measured r10: 60 vs 400
# folds/vector at k=400, assignment wall 29.6 s → 13.4 s at 100k).
#
# The routing is APPROXIMATE (the true nearest centroid can hide in an
# unprobed super-cell; 60.7% of vectors routed differently from exact
# argmin in the r10 measurement) — which is exactly why the consistency
# contract matters: a kNN JOIN's recall depends on both sides agreeing
# on WHERE a region of space lives, not on argmin fidelity (join recall
# held at 0.140 vs 0.156 under that 60.7% disagreement). Therefore the
# router object is trained ONCE and both sides route through the SAME
# instance; corpus assignment (route_top_cells n_cells=1) is by
# construction the first probe of query routing (same ranking, same
# tie-break) — pinned by tests/test_kmeans_router.py. The asymmetric
# SERVE case (stored corpus assignment + later queries) must persist and
# reuse the router's super/centroid tables for the same reason.

ROUTER_SUPER_PROBES = 2


class TwoLevelRouter:
    """Trained two-level coarse quantizer.

    ``supers``: (super_cell, scq) — √k super-centroids trained on the
    centroid table; ``cent_super``: (cell, cq, super_cell) — every
    centroid routed to its single nearest super. Both are k-row-scale
    frames (broadcast/collect class, never data-sized). Routing embeds
    them as LITERALS in a map-only expression (r13) — ``lists()``
    collects the frames on first use when the router was reconstructed
    from stored artifacts; :func:`train_router` attaches the driver-side
    lists it already has."""

    def __init__(
        self,
        supers: DataFrame,
        cent_super: DataFrame,
        supers_list: list | None = None,
        cent_super_list: list | None = None,
    ):
        self.supers = supers
        self.cent_super = cent_super
        self._supers_list = supers_list
        self._cent_super_list = cent_super_list

    def lists(self) -> tuple[list, list]:
        """((super_cell, scq) sorted by super_cell,
        (cell, cq, super_cell)) as driver lists — k-row scale."""
        if self._supers_list is None:
            self._supers_list = sorted(
                (int(r.super_cell), list(r.scq))
                for r in self.supers.collect()
            )
            self._cent_super_list = sorted(
                (int(r.cell), list(r.cq), int(r.super_cell))
                for r in self.cent_super.collect()
            )
        return self._supers_list, self._cent_super_list


def _py_sq(a: list, b: list) -> int:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _py_mean(vals: list, dim: int) -> list:
    """floor'd fixed-point mean of k-row-scale vectors — IEEE-identical
    to the engine side: sums < 2^53 and counts are exact in double, so
    Python's float division == Spark's CAST-to-DOUBLE division."""
    import math

    n = len(vals)
    return [
        math.floor(sum(v[i] for v in vals) / n) for i in range(dim)
    ]


def _py_lloyd_ranked(rows: list, k: int, iters: int, dim: int) -> list:
    """Pure-Python :func:`kmeans_train_ranked` over K-ROW-SCALE input
    (the centroid table the router trains on — never the corpus):
    ranked seeds, argmin with the (dist, cell) tie-break, floor'd
    integer means. Bit-identical to the engine path by construction
    (same integer distances, same exact double division — pinned by
    tests/test_kmeans_router.py's router equivalences)."""
    rows = sorted(rows, key=lambda t: t[0])
    cents = [(i, list(v)) for i, (_, v) in enumerate(rows[:k])]
    for _ in range(iters):
        members: dict[int, list] = {}
        for _id, v in rows:
            c = min((_py_sq(v, cq), cell) for cell, cq in cents)[1]
            members.setdefault(c, []).append(v)
        cents = sorted(
            (c, _py_mean(vs, dim)) for c, vs in members.items()
        )
    return cents


def _py_train_router(
    cent_list: list, dim: int, *, iters: int = 2, n_super: int | None = None
) -> tuple[list, list]:
    """Driver-side router training over a COLLECTED centroid list
    [(cell, cq)]: returns (supers [(super_cell, scq)], cent_super
    [(cell, cq, super_cell)]), both sorted by their id. The input is
    k-row scale by contract, so pure Python replaces what used to be
    ~5 tiny Spark jobs (count + ranked-Lloyd chain + cent→super argmin
    — measured ~3 s of per-job floor at sf0.1 for 31 centroids)."""
    import math

    k = len(cent_list)
    if n_super is None:
        n_super = max(2, math.isqrt(k))
    supers = _py_lloyd_ranked(
        [(c, q) for c, q in cent_list], n_super, iters, dim
    )
    cent_super = [
        (c, q, min((_py_sq(q, scq), s) for s, scq in supers)[1])
        for c, q in cent_list
    ]
    return supers, cent_super


def train_router(
    cents: DataFrame, dim: int, *, iters: int = 2, n_super: int | None = None
) -> TwoLevelRouter:
    """Train the super-quantizer over a centroid table (cell, cq).

    ``n_super`` defaults to max(2, isqrt(k)) with k the MATERIALIZED
    centroid count (Lloyd's update drops empty cells, so k can be less
    than requested). Training runs DRIVER-SIDE over the collected
    centroid list (:func:`_py_train_router` — the input is k-row scale
    by contract, the same collect class as the codebook reads) with
    arithmetic bit-identical to the engine rounds, so the router stays
    bit-reproducible across engines and :func:`router_sql_ctes` can
    mirror it for the DuckDB differential oracle."""
    cent_list = sorted(
        (int(r.cell), list(r.cq)) for r in cents.collect()
    )
    supers, cent_super = _py_train_router(
        cent_list, dim, iters=iters, n_super=n_super
    )
    spark = cents.sparkSession
    supers_df = spark.createDataFrame(
        [(s, q) for s, q in supers], "super_cell INT, scq ARRAY<BIGINT>"
    )
    cent_super_df = spark.createDataFrame(
        [(c, q, s) for c, q, s in cent_super],
        "cell INT, cq ARRAY<BIGINT>, super_cell INT",
    )
    return TwoLevelRouter(supers_df, cent_super_df, supers, cent_super)


def _routed_scored_expr(
    supers: list, cent_super: list, n_probe_super: int
) -> str:
    """SQL text scoring a ``qemb`` row through a driver-held router:
    an array<struct<d, c>> of (distance, cell) over the centroids of
    the row's ``n_probe_super`` nearest supers. Probe ranking replicates
    the (sd, super_cell) tie-break (array_sort over named structs ==
    the row_number window / two-pass min_by it replaces — first index
    on ties is the lowest super id because the literal arrays are
    sorted by super_cell); the caller applies the (d, cell) stage."""
    scqs = "array(" + ",".join(_arr_sql(q) for _, q in supers) + ")"
    sds = (
        "array("
        + ",".join(_isq_sql("qemb", _arr_sql(q)) for _, q in supers)
        + ")"
    )
    by_super: dict[int, list] = {s: [] for s, _ in supers}
    for c, q, s in cent_super:
        by_super[s].append((c, q))
    cbs_parts, qbs_parts = [], []
    for s, _ in supers:
        own = by_super[s]
        if own:
            cbs_parts.append(_arr_sql([c for c, _ in own]))
            qbs_parts.append(
                "array(" + ",".join(_arr_sql(q) for _, q in own) + ")"
            )
        else:
            cbs_parts.append("CAST(array() AS ARRAY<INT>)")
            qbs_parts.append("CAST(array() AS ARRAY<ARRAY<BIGINT>>)")
    cbs = "array(" + ",".join(cbs_parts) + ")"
    qbs = "array(" + ",".join(qbs_parts) + ")"
    probes = (
        f"slice(array_sort(zip_with({sds},"
        f" sequence(0, {len(supers) - 1}),"
        f" (d, i) -> named_struct('d', d, 'i', i))), 1, {n_probe_super})"
    )
    cand_cells = f"flatten(transform({probes}, p -> element_at({cbs}, p.i + 1)))"
    cand_cqs = f"flatten(transform({probes}, p -> element_at({qbs}, p.i + 1)))"
    return (
        f"zip_with({cand_cqs}, {cand_cells},"
        f" (cq, c) -> named_struct('d', {_isq_sql('qemb', 'cq')}, 'c', c))"
    )


# above this many embedded router values (cells×dim), the literal
# expression stops being free to build/parse/fold (a 15.6k-cell router at
# dim 64 would be ~1M integer literals) and routing goes through the
# broadcast-join shape instead — a size dial, not a core-count dial
ROUTER_LITERAL_MAX_VALUES = 262_144


def _route_top_cells_join(
    router: TwoLevelRouter,
    rows: DataFrame,
    id_col: str,
    keep: list[str],
    n_cells: int,
    n_probe_super: int,
) -> DataFrame:
    """The broadcast-join routing shape (pre-r13 implementation), kept
    for routers too large to embed as literals: probed supers by a
    (sd, super_cell) window over the supers crossJoin, cells by a
    (d, cell) window/min_by over the cent_super equi-join. Bit-identical
    to the literal path (tests/test_kmeans_router.py pins the
    equivalence through the independent recomputation)."""
    from pyspark.sql import Window

    sc = rows.crossJoin(F.broadcast(router.supers)).withColumn(
        "sd", _int_sq_dist(F.col("qemb"), F.col("scq"))
    )
    sw = Window.partitionBy(id_col).orderBy("sd", "super_cell")
    probed = (
        sc.withColumn("_sr", F.row_number().over(sw))
        .filter(F.col("_sr") <= n_probe_super)
        .select(id_col, *keep, "qemb", "super_cell")
    )
    cand = probed.join(F.broadcast(router.cent_super), "super_cell").withColumn(
        "d", _int_sq_dist(F.col("qemb"), F.col("cq"))
    )
    if n_cells == 1:
        return (
            cand.groupBy(id_col)
            .agg(
                F.min_by(
                    F.struct(*keep, "cell"), F.struct("d", "cell")
                ).alias("b")
            )
            .select(id_col, "b.*")
        )
    w = Window.partitionBy(id_col).orderBy("d", "cell")
    return (
        cand.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= n_cells)
        .select(id_col, *keep, "cell")
    )


def route_top_cells(
    router: TwoLevelRouter,
    rows: DataFrame,
    id_col: str,
    keep: list[str],
    n_cells: int,
    *,
    n_probe_super: int = ROUTER_SUPER_PROBES,
) -> DataFrame:
    """Route (id, *keep, qemb) rows to their ``n_cells`` nearest cells
    AS SEEN THROUGH the router: rank only the centroids of the probed
    supers by exact fixed-point distance, tie-break (dist, cell).
    Output: (id, *keep, cell) — qemb is consumed here.

    MAP-ONLY (r13): the router tables are k-row scale, so they embed as
    literals and the whole two-stage routing is one projection — no
    broadcast joins, no argmin shuffles; the corpus row never leaves
    its partition. The previous shape (crossJoin supers → two-pass
    min_by → cent_super join → min_by/window) paid ~4 shuffles and
    ~2.4 s at sf0.1 for the same answer. Tie-breaks are replicated
    exactly: probe order (sd, super_cell) via array_sort over named
    structs, cell rank (d, cell) via struct array_min / sorted slice —
    equivalences pinned by tests/test_kmeans_router.py. Rows whose
    probed supers own zero centroids drop, matching the join shape.
    Routers past ROUTER_LITERAL_MAX_VALUES embedded values take the
    broadcast-join shape instead (same answer, join-sized plan).

    Precondition (r14, ADVICE r13 #3): ``id_col`` values must be unique
    per input row — the literal path is map-only (one output row per
    input row at n_cells=1) while the join fallback's groupBy/min_by
    would collapse duplicate ids, so the two gated shapes only agree on
    unique-id input. Every caller routes table-PK ids (vec_id/query_id;
    the append path dropDuplicates first)."""
    supers, cent_super = router.lists()
    dim = len(cent_super[0][1]) if cent_super else 0
    if (len(cent_super) + len(supers)) * dim > ROUTER_LITERAL_MAX_VALUES:
        return _route_top_cells_join(
            router, rows, id_col, keep, n_cells, n_probe_super
        )
    scored = _routed_scored_expr(supers, cent_super, n_probe_super)
    base = rows.selectExpr(id_col, *keep, f"{scored} AS _sc")
    if n_cells == 1:
        return base.selectExpr(
            id_col, *keep, "array_min(_sc).c AS cell"
        ).filter(F.col("cell").isNotNull())
    return base.selectExpr(
        id_col,
        *keep,
        f"explode(slice(array_sort(_sc), 1, {n_cells})) AS _p",
    ).selectExpr(id_col, *keep, "_p.c AS cell")


# ---------------------------------------------------------------------------
# DuckDB oracle rendering for the ranked trainer and the router
# ---------------------------------------------------------------------------


def sq_dist_sql(a: str, b: str, dim: int) -> str:
    """Exact bigint squared-L2 between two fixed-point list expressions."""
    return (
        f"list_reduce(list_transform(range(1, {dim} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def kmeans_train_ranked_sql_ctes(
    src_sql: str, k_sql: str, iters: int, dim: int, prefix: str
) -> tuple[str, str]:
    """CTE chain mirroring :func:`kmeans_train_ranked`: seeds are the k
    lowest vec_ids by rank (cell = rank − 1). ``k_sql`` may be any SQL
    scalar expression INCLUDING a scalar subquery — the data-dependent-k
    face (cells ∝ corpus) that a static oracle string needs. Returns
    (CTE fragment, final CENTROID CTE name).

    Source and centroid CTEs are MATERIALIZED: DuckDB inlines a plain
    CTE at every reference site, so an oracle that references the
    trained centroids several times (router training, cent→super
    routing, corpus assignment, query probes) re-executes the whole
    Lloyd chain per reference — measured fatal at sf1 with cells ∝ n
    (the re-expanded tree OOM-killed a 98 GB process, r11). The cost is
    n rows (source) + k rows per round — the same fix _ivfpq_sql's
    ``res`` CTE already encodes."""
    parts = [
        f"{prefix}qv AS MATERIALIZED ({src_sql})",
        f"{prefix}c0 AS MATERIALIZED"
        f" (SELECT CAST(rn - 1 AS INTEGER) AS cell, qemb AS cq"
        f" FROM (SELECT qemb, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn"
        f" FROM {prefix}qv) WHERE rn <= ({k_sql}))",
    ]
    cent = f"{prefix}c0"
    for r in range(1, iters + 1):
        parts.append(
            f"{prefix}a{r} AS ({_assign_sql(f'{prefix}qv', cent, dim)})"
        )
        parts.append(
            f"{prefix}c{r} AS MATERIALIZED"
            f" ({_update_sql(f'{prefix}a{r}', dim)})"
        )
        cent = f"{prefix}c{r}"
    return ",\n".join(parts), cent


def router_sql_ctes(
    cent_cte: str, dim: int, prefix: str, *, iters: int = 2
) -> tuple[str, str, str]:
    """CTEs mirroring :func:`train_router` over a centroid CTE
    (cell, cq). Returns (CTE fragment, supers CTE name, cent_super CTE
    name). n_super = max(2, floor(sqrt(k))) via a scalar subquery over
    the MATERIALIZED centroid count — identical to the Spark side's
    post-training count."""
    n_super_sql = (
        f"SELECT greatest(2, CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)))"
        f" AS BIGINT)) FROM {cent_cte}"
    )
    src = (
        f"SELECT CAST(cell AS BIGINT) AS vec_id, cq AS qemb FROM {cent_cte}"
    )
    chain, sup_cent = kmeans_train_ranked_sql_ctes(
        src, n_super_sql, iters, dim, f"{prefix}s"
    )
    supers = f"{prefix}sup"
    cs = f"{prefix}cs"
    parts = [
        chain,
        # MATERIALIZED: supers and cent_super are referenced by every
        # routing CTE (corpus + queries) — plain CTEs would re-run the
        # super-training chain per reference (see
        # kmeans_train_ranked_sql_ctes for the sf1 OOM this caused)
        f"{supers} AS MATERIALIZED (SELECT cell AS super_cell, cq AS scq"
        f" FROM {sup_cent})",
        f"{cs} AS MATERIALIZED (SELECT cell, cq, super_cell FROM (\n"
        f"  SELECT c.cell, c.cq, s.super_cell,\n"
        f"         ROW_NUMBER() OVER (PARTITION BY c.cell ORDER BY\n"
        f"           {sq_dist_sql('c.cq', 's.scq', dim)}, s.super_cell)"
        f" AS rn\n"
        f"  FROM {cent_cte} c CROSS JOIN {supers} s) WHERE rn = 1)",
    ]
    return ",\n".join(parts), supers, cs


def route_top_cells_sql(
    src_cte: str,
    id_col: str,
    keep: list[str],
    n_cells: int,
    supers_cte: str,
    cent_super_cte: str,
    dim: int,
    prefix: str,
    n_probe_super: int = ROUTER_SUPER_PROBES,
) -> tuple[str, str]:
    """CTEs mirroring :func:`route_top_cells` over a source CTE
    (id, *keep, qemb): ROUTER_SUPER_PROBES nearest supers, then the
    n_cells nearest cells among their centroids, tie-breaks
    (sd, super_cell) / (d, cell). Returns (CTE fragment, result CTE
    name) with columns (id, *keep, cell)."""
    def cols(*items: str) -> str:
        return ", ".join(c for c in items if c)

    ks = ", ".join(keep)
    kv = ", ".join(f"v.{c}" for c in keep)
    kr = ", ".join(f"r.{c}" for c in keep)
    routed = f"{prefix}routed"
    out = f"{prefix}cells"
    parts = [
        # MATERIALIZED: the routed/cells CTEs embed the source scan and
        # the (already-materialized) router tables; downstream joins
        # reference them and must not re-expand the routing windows
        f"{routed} AS MATERIALIZED"
        f" (SELECT {cols(id_col, ks, 'qemb', 'super_cell')}"
        f" FROM (\n"
        f"  SELECT {cols(f'v.{id_col}', kv, 'v.qemb', 's.super_cell')},\n"
        f"         ROW_NUMBER() OVER (PARTITION BY v.{id_col} ORDER BY\n"
        f"           {sq_dist_sql('v.qemb', 's.scq', dim)}, s.super_cell)"
        f" AS sr\n"
        f"  FROM {src_cte} v CROSS JOIN {supers_cte} s)"
        f" WHERE sr <= {n_probe_super})",
        f"{out} AS MATERIALIZED (SELECT {cols(id_col, ks, 'cell')} FROM (\n"
        f"  SELECT {cols(f'r.{id_col}', kr, 'cs.cell')},\n"
        f"         ROW_NUMBER() OVER (PARTITION BY r.{id_col} ORDER BY\n"
        f"           {sq_dist_sql('r.qemb', 'cs.cq', dim)}, cs.cell) AS rn\n"
        f"  FROM {routed} r JOIN {cent_super_cte} cs USING (super_cell))"
        f" WHERE rn <= {n_cells})",
    ]
    return ",\n".join(parts), out
