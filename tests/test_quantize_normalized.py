"""km.quantize_normalized binds the row's norm once, outside the element
lambda. The codes must stay bit-identical to the inline per-element-norm
formulation it replaced and to the DuckDB rendering the oracles use, on
edge vectors and a seeded corpus; and the optimized plan must not carry
the norm fold under the element lambda (the O(dim²) shape)."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.functions import vectors as vx
from projekt_data_engineering_iubh_spark.operators import kmeans as km

DIM = 64
NAN = float("nan")

# (vec_id, embedding): zero, NULL, empty, NaN element, below the 1e-30
# norm guard, near float max, and mixed magnitudes
EDGE = [
    (0, [0.0] * DIM),
    (1, None),
    (2, []),
    (3, [0.5] * (DIM - 1) + [NAN]),
    (4, [1e-38] * DIM),
    (5, [3.4e38] * DIM),
    (6, [-3.4e38] + [1e-38] * (DIM - 1)),
    (7, [1.0] + [0.0] * (DIM - 1)),
    (8, [(-1.0) ** i * (i + 1) / DIM for i in range(DIM)]),
]


def _seeded(n: int, seed: int = 20261017) -> list:
    rng = random.Random(seed)
    return [
        (100 + i, [rng.uniform(-1.0, 1.0) for _ in range(DIM)])
        for i in range(n)
    ]


def _inline_norm(emb):
    """The previous formulation: the norm Column inside the lambda."""
    n = F.greatest(vx.norm(emb), F.lit(1e-30))
    return F.transform(
        emb,
        lambda x: F.floor(
            x.cast("double") / n * F.lit(float(km.FIXED_SCALE))
        ).cast("long"),
    )


def _codes(df, q) -> dict:
    out = df.select("vec_id", q(F.col("embedding")).alias("q")).collect()
    return {r.vec_id: None if r.q is None else list(r.q) for r in out}


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        EDGE + _seeded(3000), "vec_id int, embedding array<float>"
    )


def test_equals_inline_norm_formulation(vecs):
    got = _codes(vecs, km.quantize_normalized)
    assert got == _codes(vecs, _inline_norm)
    assert got[0] == [0] * DIM and got[1] is None and got[2] == []


def test_equals_duckdb_rendering(vecs):
    # Floats round-trip through Spark so DuckDB sees the same float32s.
    rows = vecs.collect()
    spark_codes = _codes(vecs, km.quantize_normalized)
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE e (vec_id INTEGER, embedding FLOAT[])")
        # NaN: Spark's FLOOR maps it to 0, DuckDB refuses the BIGINT cast
        # — the engines differ there, so it is checked apart.
        con.executemany(
            "INSERT INTO e VALUES (?, ?)",
            [
                (r.vec_id, r.embedding)
                for r in rows
                if r.embedding is None
                or not any(math.isnan(x) for x in r.embedding)
            ],
        )
        duck = {
            vid: None if q is None else list(q)
            for vid, q in con.execute(
                f"SELECT vec_id, {km.quantize_normalized_sql('embedding')}"
                f" FROM e"
            ).fetchall()
        }
        assert len(duck) == len(rows) - 1
        assert duck == {k: v for k, v in spark_codes.items() if k != 3}
        with pytest.raises(duckdb.ConversionException):
            con.execute(
                f"SELECT {km.quantize_normalized_sql('embedding')}"
                f" FROM (SELECT [0.5, 'nan']::FLOAT[] AS embedding)"
            ).fetchall()
    finally:
        con.close()


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.length())]


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def test_norm_fold_is_not_under_the_element_lambda(spark, sf_dir):
    """Catalyst keeps a Column referenced inside a lambda inside it; the
    norm's sqrt(aggregate(zip_with(...))) under the element lambda
    re-runs the whole fold per element."""
    df = load_table(spark, sf_dir, "embeddings").select(
        km.quantize_normalized(F.col("embedding")).alias("q")
    )
    plan = df._jdf.queryExecution().optimizedPlan()
    exprs = plan.expressions()
    nodes = [
        n for i in range(exprs.length()) for n in _walk(exprs.apply(i))
    ]
    # the element lambda: the transform whose argument is the column
    elem = [
        n
        for n in nodes
        if _kind(n) == "ArrayTransform"
        and _kind(n.argument()) == "AttributeReference"
    ]
    assert len(elem) == 1, [n.toString() for n in elem]
    inner = {_kind(n) for n in _walk(elem[0].function())}
    assert not inner & {"Sqrt", "ArrayAggregate", "ZipWith"}, inner
    # the fold is still there, once, outside the element lambda
    assert sum(_kind(n) == "Sqrt" for n in nodes) == 1
