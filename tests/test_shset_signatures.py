"""The shingle-set signature build of ``_lsh_pairs(with_shsets=True)``
(used by ``docs_ngram_jaccard``) against the plain signature pipeline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table
from projekt_data_engineering_iubh_spark.plans import text_queries as tq


def test_shset_signatures_identical(spark, sf_dir):
    """The with_shsets signature build (r14: minhash over the DISTINCT
    shingle set, sets riding the band rows) must produce bit-identical
    minhash values to the shared pipeline (_signatures hashes the
    shingle MULTISET — min is unaffected by duplicates), and the carried
    sets must equal a from-scratch array_distinct(shingles(tokens))."""
    from projekt_data_engineering_iubh_spark.catalog import spread
    from projekt_data_engineering_iubh_spark.functions import text as tx

    for sf in (sf_dir, os.path.join(os.path.dirname(sf_dir), "sf0.01")):
        base = sorted(
            (r.doc_a, r.doc_b, r.est_jaccard)
            for r in tq._lsh_pairs(spark, sf).collect()
        )
        withs = tq._lsh_pairs(spark, sf, with_shsets=True).collect()
        assert sorted((r.doc_a, r.doc_b, r.est_jaccard) for r in withs) == base
        # carried sets == from-scratch shingle sets for the pair docs
        d = spread(load_table(spark, sf, "documents"))
        shs = {
            r.doc_id: list(r.shset)
            for r in d.select(
                "doc_id",
                F.array_distinct(
                    tx.shingles(tx.tokens(F.col("text")))
                ).alias("shset"),
            ).collect()
        }
        for r in withs:
            assert list(r.set_a) == shs[r.doc_a]
            assert list(r.set_b) == shs[r.doc_b]
