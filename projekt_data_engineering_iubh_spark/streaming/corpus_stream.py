"""Streaming corpus curation — the ingest tier of the two-tier corpus
pipeline (the batch tier is :mod:`pipeline.corpus`).

Composition over a JSONL/parquet document stream:

    raw docs → language filter → quality filter (the SAME shared
    score expression the batch lane and the DuckDB oracle use)
      → in-horizon exact dedup (md5 + dropDuplicatesWithinWatermark)
      → deterministic hash train/test split (same salt/percentage as
        batch — a doc gets the same split whether it arrived via stream
        or batch)
      → (split, lang)-partitioned parquet, append

Two-tier contract, explicit: the stream removes exact duplicates inside
its watermark horizon and cannot do transitive NEAR-dup removal (the
LSH band self-join and connected components need the corpus, not a
trigger's slice). The batch job (``pipeline.corpus.run``) runs
periodically over the accumulated partitions and owns global/near-dup
dedup — this is the standard ingest/compaction design, not a shortcut.

Every expression here is stateless or watermark-bounded, so the stream
scales with trigger volume, never with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from projekt_data_engineering_iubh_spark.functions import text as tx
from projekt_data_engineering_iubh_spark.pipeline.corpus import _quality_lane
from projekt_data_engineering_iubh_spark.streaming.dedup_stream import (
    exact_dedup_stream,
)

DEFAULT_LANGS = ("en", "de", "es", "fr")
DEFAULT_MIN_QUALITY = 0.5


def curate_stream(
    docs: DataFrame,
    *,
    langs: tuple[str, ...] = DEFAULT_LANGS,
    min_quality: float = DEFAULT_MIN_QUALITY,
    ts_col: str = "ingest_ts",
    dedup_horizon: str = "1 hour",
) -> DataFrame:
    """The curated stream (lazy). Works identically on a batch frame —
    which is how the test pins stream output to the batch quality lane.
    """
    quality = _quality_lane(docs, langs, min_quality)
    deduped = exact_dedup_stream(
        quality, ts_col=ts_col, dedup_horizon=dedup_horizon
    )
    return deduped.withColumn("split", tx.train_test_split(F.col("doc_id")))


def start_corpus_stream(
    docs: DataFrame,
    out_path: str,
    checkpoint: str,
    **curate_kwargs,
):
    """Start the append writer: (split, lang)-partitioned parquet, the
    layout the batch compaction job and training reads both expect."""
    curated = curate_stream(docs, **curate_kwargs)
    return (
        curated.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("split", "lang")
        .start()
    )


def main(argv: list[str], *, block: bool = True) -> int:
    """``python -m …streaming.corpus_stream [src] [out] [ckpt] [index]``

    The deploy-recipe entry point (deploy/docker-compose.yml
    corpus_stream_service): watch ``src`` for parquet document drops and
    run the curation stream until interrupted. With ``index`` set, the
    near-dup tier (streaming/neardup_stream.py) is wired in.
    ``block=False`` (tests) drains what is available and stops.
    """
    from projekt_data_engineering_iubh_spark.session import get_spark

    src = argv[1] if len(argv) > 1 else "/data/incoming"
    out = argv[2] if len(argv) > 2 else "/data/corpus/store"
    ckpt = argv[3] if len(argv) > 3 else "/data/corpus/checkpoint"
    index = argv[4] if len(argv) > 4 else None

    spark = get_spark("corpus_stream")
    docs = spark.readStream.schema(
        "doc_id long, text string, lang string, ingest_ts timestamp"
    ).parquet(src)
    if index:
        from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
            start_neardup_corpus_stream,
        )

        q = start_neardup_corpus_stream(docs, out, ckpt, index)
    else:
        q = start_corpus_stream(docs, out, ckpt)
    if block:  # pragma: no cover — the service mode
        q.awaitTermination()
    else:
        q.processAllAvailable()
        q.stop()
    return 0


if __name__ == "__main__":
    import sys

    raise SystemExit(main(sys.argv))
