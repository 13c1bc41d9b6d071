"""The applied training-corpus pipeline: the docs_* operators composed
into the job an LLM-data team actually runs.

    raw documents
      → language filter (keep configured langs, predicted OR labeled)
      → quality filter (Gopher/C4-style composite score ≥ threshold)
      → transitive near-dup removal (MinHash-LSH graph → connected
        components → min-doc_id representative; exact dups subsumed)
      → deterministic hash train/test split
      → parquet partitioned by (split, lang)

Every stage is built from the expressions and operators behind the
registry's oracle-verified queries (functions/text.py,
operators/minhash.py) — this module only composes them, so the
pipeline's correctness budget is the already-driver-checked pieces plus
the composition test (tests/test_corpus_pipeline.py).

Scale notes: the only wide operations are the dedup's band self-join and
CC label propagation (id-sized rows); filters are narrow and run before
dedup so the expensive signature stage sees the smallest corpus.
Output partitioning by (split, lang) makes downstream training reads
partition-pruned.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from projekt_data_engineering_iubh_spark.catalog import load_table, spread
from projekt_data_engineering_iubh_spark.functions import text as tx
from projekt_data_engineering_iubh_spark.operators import minhash as mh
from projekt_data_engineering_iubh_spark.operators.connected_components import (
    connected_components,
)

DEFAULT_LANGS = ("en", "de", "es", "fr")
DEFAULT_MIN_QUALITY = 0.5
NEAR_DUP_JACCARD = 0.5


def _lane(
    d: DataFrame,
    langs: tuple[str, ...],
    min_quality: float,
    scorer: str,
) -> DataFrame:
    """Quality lane under either scorer: the hand-weighted heuristic
    threshold, or the trained naive-Bayes classifier
    (operators/quality_model.py) fit on the lang-filtered corpus."""
    if scorer == "heuristic":
        return _quality_lane(d, langs, min_quality)
    if scorer == "model":
        from projekt_data_engineering_iubh_spark.operators.quality_model import (
            model_quality_filter,
        )

        return model_quality_filter(d.filter(F.col("lang").isin(*langs)))
    if scorer == "lm":
        # CCNet-style perplexity lane: fit the bigram LM on the
        # lang-filtered corpus, drop the high-avg-NLL tail (and docs too
        # short to score) — the third lane of the quality trio
        from projekt_data_engineering_iubh_spark.operators.lm_model import (
            LM_MAX_NLL_MICRO,
            lm_scores_from,
        )

        lang_docs = d.filter(F.col("lang").isin(*langs))
        keep = (
            lm_scores_from(lang_docs)
            .filter(F.col("avg_nll_micro") <= LM_MAX_NLL_MICRO)
            .select("doc_id")
        )
        return lang_docs.join(keep, "doc_id", "left_semi")
    raise ValueError(f"unknown quality scorer: {scorer!r}")


@dataclass
class CorpusStats:
    n_raw: int
    n_lang: int
    n_quality: int
    n_dedup: int
    n_train: int
    n_test: int


def _quality_lane(
    d: DataFrame, langs: tuple[str, ...], min_quality: float
) -> DataFrame:
    # the score and its inputs come from functions/text.py's helpers —
    # the SAME expressions behind the oracle-verified docs_text_stats
    # query and the _CORPUS_SQL oracle, so the shipped corpus cannot
    # drift from the verified score (r2 ADVICE: the former inline copy
    # duplicated the regex/stopwords/weights in a third place)
    kept = d.filter(F.col("lang").isin(*langs))
    toks = tx.tokens(F.col("text"))
    stats = kept.select(
        "*",
        F.size(toks).alias("_nt"),
        F.length("text").alias("_nc"),
        F.regexp_count("text", F.lit(tx.PUNCT_RE)).alias("_punct"),
        tx.stopword_count_expr(toks).alias("_stop"),
    ).filter(F.col("_nt") > 0)
    score = tx.quality_score_expr(
        F.col("_nt"), F.col("_nc"), F.col("_punct"), F.col("_stop")
    )
    return stats.filter(score >= min_quality).select(d.columns)


def curate(
    spark: SparkSession,
    sf_dir: str,
    *,
    langs: tuple[str, ...] = DEFAULT_LANGS,
    min_quality: float = DEFAULT_MIN_QUALITY,
    scorer: str = "heuristic",
    _quality: DataFrame | None = None,
) -> DataFrame:
    """The curated, split-tagged corpus as a DataFrame.

    NOT fully lazy since round 5: the capped near-dup candidate
    generator eagerly materializes the banded signature rows
    (localCheckpoint inside minhash.lsh_pairs — the skew guard's
    exchange-reuse fix), so CONSTRUCTING this frame already runs the
    signature pipeline. Callers that only need the schema or plan shape should not
    call curate().

    ``_quality`` lets :func:`run` share one (persisted) quality lane
    between the curated write and its stats count — the trained scorer's
    fit is the most expensive stage, and recomputing it per action would
    double the job (r4 review finding).
    """
    d = load_table(spark, sf_dir, "documents")
    quality = (
        _quality if _quality is not None else _lane(d, langs, min_quality, scorer)
    )

    # transitive near-dup removal over the SURVIVING docs (graph edges
    # come from the full-corpus LSH pairs; restricting components to the
    # quality lane keeps a quality doc that duplicated a filtered one).
    # Occupancy probe (r13, the gate docs_dedup_apply shares): see
    # minhash.lsh_edges.
    edges = mh.lsh_edges(
        mh.signatures(spread(load_table(spark, sf_dir, "documents"))),
        os.path.join(sf_dir, "documents.parquet"),
        NEAR_DUP_JACCARD,
    )
    if _quality is None:
        # the scorer's fit+score is the pipeline's most expensive stage
        # and the lane is referenced by BOTH edge semi-joins, the CC
        # vertex set, and the survivor join — materialize the id-sized
        # lane ONCE (r13: the trained scorer was re-fit per reference,
        # ~4x) and re-derive survivor ROWS from the raw table by id
        # (quality's columns are exactly d's, so the semi-join is
        # row-identical to filtering the scored frame)
        qdocs = quality.select("doc_id").localCheckpoint(eager=True)
        quality = d.join(qdocs, "doc_id", "left_semi")
        materialize_vertices = False
    else:
        # run() passes a persisted lane — rescans are already cheap
        qdocs = quality.select("doc_id")
        materialize_vertices = True
    qedges = (
        edges.join(qdocs.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(qdocs.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )
    comp = connected_components(
        qdocs, qedges, id_col="doc_id", src_col="doc_a", dst_col="doc_b",
        component_col="cluster_id",
        materialize_vertices=materialize_vertices,
    )
    keep = comp.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    deduped = quality.join(keep, "doc_id", "left_semi")

    return deduped.withColumn("split", tx.train_test_split(F.col("doc_id")))


def run(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    *,
    langs: tuple[str, ...] = DEFAULT_LANGS,
    min_quality: float = DEFAULT_MIN_QUALITY,
    scorer: str = "heuristic",
    bucketed_table: str | None = None,
) -> CorpusStats:
    """Execute the pipeline and write (split, lang)-partitioned parquet.

    ``bucketed_table``: additionally publish the curated corpus as a
    content-hash-bucketed catalog table (pipeline/corpus_store.py) so
    later incremental-dedup joins read it exchange-free."""
    d = load_table(spark, sf_dir, "documents")
    quality = _lane(d, langs, min_quality, scorer).persist()
    try:
        curated = curate(
            spark,
            sf_dir,
            langs=langs,
            min_quality=min_quality,
            scorer=scorer,
            _quality=quality,
        )
        curated.write.mode("overwrite").partitionBy("split", "lang").parquet(
            out_path
        )
        if bucketed_table is not None:
            from projekt_data_engineering_iubh_spark.pipeline.corpus_store import (
                write_bucketed_corpus,
            )

            # re-read the persisted parquet rather than re-running the
            # curation plan (the quality lane is persisted but the dedup
            # CC is not)
            write_bucketed_corpus(
                spark.read.parquet(out_path), bucketed_table
            )

        out = spark.read.parquet(out_path)
        by_split = {
            r["split"]: r["n"]
            for r in out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return CorpusStats(
            n_raw=d.count(),
            n_lang=d.filter(F.col("lang").isin(*langs)).count(),
            n_quality=quality.count(),
            n_dedup=out.count(),
            n_train=by_split.get("train", 0),
            n_test=by_split.get("test", 0),
        )
    finally:
        quality.unpersist()
