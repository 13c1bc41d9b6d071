"""Streaming-tier throughput bench (r6 VERDICT #6).

Measures sustained rows/s and per-trigger latency for the two continuous
jobs, on synthetic drop-dirs sized like the sf0.1 batch inputs:

* ``pipeline`` — streaming/pipeline_stream.py: CSV drops (multi-machine
  full days) → cleanse → error flags → watermarked hourly rollup →
  idempotent parquet merge;
* ``neardup`` — streaming/neardup_stream.py: parquet doc drops →
  quality/dedup curation → LSH near-dup filter vs the persisted
  signature index (snapshot + LSM delta) → partitioned store append +
  band-delta append.

Per-trigger numbers come from the StreamingQuery's own progress events
(numInputRows, triggerExecution ms); sustained rows/s divides total
input rows by summed trigger-execution time (excludes this script's file
staging). Results recorded in BASELINE.md.

Usage: python tools/bench_streaming.py [--which pipeline|neardup|both]
"""

from __future__ import annotations

import argparse
import glob
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from projekt_data_engineering_iubh_spark.session import get_spark  # noqa: E402


def _progress_stats(q) -> tuple[int, float, list[dict]]:
    """(total rows, total trigger-exec seconds, per-trigger breakdown)
    over the query's recentProgress. Rows and seconds count the
    data-carrying triggers; the breakdown lists every trigger, including
    the empty batches a moving watermark schedules to evict state, so
    ``len(breakdown) / drops`` is the triggers a drop costs."""
    rows = 0
    secs = 0.0
    trig = []
    for p in q.recentProgress:
        dur = p.get("durationMs") or {}
        if "addBatch" not in dur:  # an idle-poll event, no batch ran
            continue
        n = p.get("numInputRows") or 0
        ms = dur.get("triggerExecution") or 0
        if n:
            rows += n
            secs += ms / 1000.0
        trig.append(
            {
                "batchId": p.get("batchId"),
                "rows": n,
                "trigger_ms": ms,
                "addBatch_ms": dur["addBatch"],
            }
        )
    return rows, secs, trig


def bench_pipeline(spark, work: Path, days: int, machines: int) -> dict:
    from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES
    from projekt_data_engineering_iubh_spark.pipeline.generate_data import (
        simulate_day,
        write_csv,
    )
    from projekt_data_engineering_iubh_spark.streaming import pipeline_stream as ps

    work.mkdir(parents=True, exist_ok=True)
    drop = work / "incoming"
    drop.mkdir()
    q = ps.start_pipeline(
        spark,
        str(drop),
        str(work / "summary"),
        DEFAULT_RULES,
        checkpoint_dir=str(work / "ckpt"),
    )
    wall0 = time.perf_counter()
    try:
        for d in range(days):
            date = f"2024-08-{d + 1:02d}"
            for m in range(machines):
                res = simulate_day(f"M_{m:02d}", date, hours=24, seed=100 * d + m)
                write_csv(res, drop / f"{date}_M{m:02d}.csv")
            q.processAllAvailable()
        rows, secs, trig = _progress_stats(q)
    finally:
        q.stop()
    return {
        "tier": "pipeline_stream",
        "drops": days,
        "machines_per_drop": machines,
        "input_rows": rows,
        "trigger_exec_sec": round(secs, 2),
        "sustained_rows_per_sec": round(rows / secs) if secs else None,
        "wall_sec": round(time.perf_counter() - wall0, 2),
        "triggers_per_drop": round(len(trig) / days, 2),
        "triggers": trig,
    }


def bench_neardup(spark, work: Path, sf_dir: str, batches: int) -> dict:
    from projekt_data_engineering_iubh_spark.catalog import load_table
    from projekt_data_engineering_iubh_spark.streaming.neardup_stream import (
        build_signature_index,
        start_neardup_corpus_stream,
    )

    from pyspark.sql import Window

    # split on a DENSE rank, not raw ids: replicated dirs (/tmp/sf1)
    # carry sparse offset ids, and an id-range filter there silently
    # selects nothing — the bench would report 0 rows instead of failing
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "text",
            "lang",
            F.lit("2024-08-01 00:00:00").cast("timestamp").alias("ingest_ts"),
        )
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy("doc_id")) - 1,
        )
        .localCheckpoint(eager=True)
    )
    n = docs.count()
    corpus_n = n // 2
    batch_n = (n - corpus_n) // batches or 1

    work.mkdir(parents=True, exist_ok=True)
    index_path = str(work / "sig_index")
    build_signature_index(
        docs.filter(F.col("rk") < corpus_n).drop("rk"), index_path
    )

    src = work / "src"
    src.mkdir()

    def drop(name: str, lo: int, hi: int) -> None:
        staging = work / f"stage_{name}"
        docs.filter(
            (F.col("rk") >= lo) & (F.col("rk") < hi)
        ).drop("rk").coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    schema = "doc_id long, text string, lang string, ingest_ts timestamp"
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = start_neardup_corpus_stream(
        stream,
        str(work / "out"),
        str(work / "ckpt_nd"),
        index_path,
        dedup_horizon="30 minutes",
    )
    wall0 = time.perf_counter()
    try:
        lo = corpus_n
        for b in range(batches):
            hi = min(lo + batch_n, n)
            drop(f"b{b}", lo, hi)
            lo = hi
            q.processAllAvailable()
        rows, secs, trig = _progress_stats(q)
    finally:
        q.stop()
    return {
        "tier": "neardup_stream",
        "sf_dir": sf_dir,
        "corpus_index_docs": corpus_n,
        "batches": batches,
        "input_rows": rows,
        "trigger_exec_sec": round(secs, 2),
        "sustained_rows_per_sec": round(rows / secs) if secs else None,
        "wall_sec": round(time.perf_counter() - wall0, 2),
        "triggers_per_drop": round(len(trig) / batches, 2),
        "triggers": trig,
    }


def bench_vector(spark, work: Path, sf_dir: str, batches: int) -> dict:
    from projekt_data_engineering_iubh_spark.catalog import load_table
    from projekt_data_engineering_iubh_spark.streaming.vector_stream import (
        build_vector_index,
        start_vector_ingest_stream,
    )

    from pyspark.sql import Window

    # dense-rank split for the same sparse-id reason as bench_neardup
    embs = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy("vec_id")) - 1,
        )
        .localCheckpoint(eager=True)
    )
    n = embs.count()
    corpus_n = n // 2
    batch_n = (n - corpus_n) // batches or 1

    work.mkdir(parents=True, exist_ok=True)
    index_path = str(work / "vec_index")
    build_vector_index(
        embs.filter(F.col("rk") < corpus_n).drop("rk"), index_path
    )

    src = work / "src"
    src.mkdir()

    def drop(name: str, lo: int, hi: int) -> None:
        staging = work / f"stage_{name}"
        out = embs.filter(
            (F.col("rk") >= lo) & (F.col("rk") < hi)
        ).drop("rk")
        n_out = out.count()
        if n_out == 0:
            raise RuntimeError(
                f"drop {name}: rank range [{lo},{hi}) selected 0 rows"
            )
        out.coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    schema = "vec_id long, embedding array<float>, label int"
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = start_vector_ingest_stream(
        stream,
        str(work / "out"),
        str(work / "ckpt_v"),
        index_path,
    )
    wall0 = time.perf_counter()
    try:
        lo = corpus_n
        for b in range(batches):
            hi = min(lo + batch_n, n)
            drop(f"b{b}", lo, hi)
            lo = hi
            q.processAllAvailable()
        rows, secs, trig = _progress_stats(q)
    finally:
        q.stop()
    return {
        "tier": "vector_stream",
        "sf_dir": sf_dir,
        "corpus_index_vecs": corpus_n,
        "batches": batches,
        "input_rows": rows,
        "trigger_exec_sec": round(secs, 2),
        "sustained_rows_per_sec": round(rows / secs) if secs else None,
        "wall_sec": round(time.perf_counter() - wall0, 2),
        "triggers_per_drop": round(len(trig) / batches, 2),
        "triggers": trig,
    }


def bench_codes(spark, work: Path, sf_dir: str, batches: int) -> dict:
    """The IVF-PQ CODES ingest tier (streaming/ann_ingest_stream.py):
    bootstrap trains the frozen codebooks on the first half of the
    corpus (one-off, reported separately), then each drop commits one
    append generation — map-side encode against broadcast books plus
    the codes-union snapshot write. The union write grows with index
    size, so the per-trigger breakdown is the interesting number: its
    FLOOR is the fixed trigger cost, its growth is the compaction
    write a real deployment amortizes."""
    from pyspark.sql import Window

    from projekt_data_engineering_iubh_spark.catalog import load_table
    from projekt_data_engineering_iubh_spark.streaming.ann_ingest_stream import (
        bootstrap_codes_index,
        start_codes_ingest_stream,
    )

    embs = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy("vec_id")) - 1,
        )
        .localCheckpoint(eager=True)
    )
    n = embs.count()
    corpus_n = n // 2
    batch_n = (n - corpus_n) // batches or 1

    work.mkdir(parents=True, exist_ok=True)
    root = str(work / "codes_index")
    t0 = time.perf_counter()
    bootstrap_codes_index(
        spark,
        embs.filter(F.col("rk") < corpus_n).select("vec_id", "embedding"),
        root,
    )
    bootstrap_sec = round(time.perf_counter() - t0, 2)

    src = work / "src"
    src.mkdir()

    def drop(name: str, lo: int, hi: int) -> None:
        staging = work / f"stage_{name}"
        out = embs.filter(
            (F.col("rk") >= lo) & (F.col("rk") < hi)
        ).select("vec_id", "embedding")
        if out.count() == 0:
            raise RuntimeError(
                f"drop {name}: rank range [{lo},{hi}) selected 0 rows"
            )
        out.coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    schema = "vec_id long, embedding array<float>"
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = start_codes_ingest_stream(stream, str(work / "ckpt_c"), root)
    wall0 = time.perf_counter()
    delivered = 0
    try:
        lo = corpus_n
        for b in range(batches):
            hi = min(lo + batch_n, n)
            drop(f"b{b}", lo, hi)
            delivered += hi - lo
            lo = hi
            q.processAllAvailable()
        rows, secs, trig = _progress_stats(q)
    finally:
        q.stop()
    # throughput on DELIVERED rows: numInputRows counts every source
    # scan of the micro-batch (the processor reads it twice: empty
    # pre-check + encode), so it overstates input by 2x
    return {
        "tier": "codes_stream",
        "sf_dir": sf_dir,
        "bootstrap_train_vecs": corpus_n,
        "bootstrap_sec": bootstrap_sec,
        "batches": batches,
        "delivered_rows": delivered,
        "reported_input_rows": rows,
        "trigger_exec_sec": round(secs, 2),
        "sustained_rows_per_sec": round(delivered / secs) if secs else None,
        "wall_sec": round(time.perf_counter() - wall0, 2),
        "triggers_per_drop": round(len(trig) / batches, 2),
        "triggers": trig,
    }


def bench_deletes(spark, work: Path, sf_dir: str, batches: int) -> dict:
    """The DELETE tier (streaming/ann_ingest_stream.start_codes_delete_
    stream): bootstrap + one append generation build the full index
    (one-off, reported), then each drop of takedown keys commits one
    tombstone generation. Under the r10 delta publish a delete commit is
    O(|keys|) + hardlinks, so the per-trigger wall should sit at the
    trigger FLOOR (no encode term, no codes write) and stay flat as the
    index grows — the number this lane exists to pin."""
    from pyspark.sql import Window

    from projekt_data_engineering_iubh_spark.catalog import load_table
    from projekt_data_engineering_iubh_spark.streaming.ann_ingest_stream import (
        bootstrap_codes_index,
        start_codes_delete_stream,
    )

    embs = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("rk", F.row_number().over(Window.orderBy("vec_id")) - 1)
        .localCheckpoint(eager=True)
    )
    n = embs.count()
    work.mkdir(parents=True, exist_ok=True)
    root = str(work / "codes_index")
    t0 = time.perf_counter()
    bootstrap_codes_index(
        spark, embs.select("vec_id", "embedding"), root
    )
    build_sec = round(time.perf_counter() - t0, 2)

    # takedown drops: batches disjoint key slices, n/(2*batches) each
    batch_n = n // (2 * batches) or 1
    src = work / "keys"
    src.mkdir()

    def drop(name: str, lo: int, hi: int) -> None:
        staging = work / f"stage_{name}"
        out = embs.filter(
            (F.col("rk") >= lo) & (F.col("rk") < hi)
        ).select("vec_id")
        out.coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))

    stream = spark.readStream.schema("vec_id long").parquet(str(src))
    q = start_codes_delete_stream(stream, str(work / "ckpt_d"), root)
    wall0 = time.perf_counter()
    delivered = 0
    try:
        lo = 0
        for b in range(batches):
            hi = lo + batch_n
            drop(f"d{b}", lo, hi)
            delivered += hi - lo
            lo = hi
            q.processAllAvailable()
        rows, secs, trig = _progress_stats(q)
    finally:
        q.stop()
    from projekt_data_engineering_iubh_spark.pipeline import ann_index, store

    live = ann_index.read_live_codes(spark, store.resolve(root)).count()
    return {
        "tier": "delete_stream",
        "sf_dir": sf_dir,
        "index_vecs": n,
        "build_sec": build_sec,
        "batches": batches,
        "delivered_keys": delivered,
        "live_after": live,
        "trigger_exec_sec": round(secs, 2),
        "sustained_keys_per_sec": round(delivered / secs) if secs else None,
        "wall_sec": round(time.perf_counter() - wall0, 2),
        "triggers_per_drop": round(len(trig) / batches, 2),
        "triggers": trig,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--which",
        default="both",
        choices=[
            "pipeline", "neardup", "vector", "codes", "deletes",
            "both", "all",
        ],
    )
    ap.add_argument("--days", type=int, default=3)
    ap.add_argument("--machines", type=int, default=8)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--batches", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    work = Path(tempfile.mkdtemp(prefix="stream_bench_"))
    try:
        if args.which in ("pipeline", "both", "all"):
            print(
                json.dumps(
                    bench_pipeline(spark, work / "p", args.days, args.machines)
                )
            )
        if args.which in ("neardup", "both", "all"):
            print(json.dumps(bench_neardup(spark, work / "n", args.sf_dir, args.batches)))
        if args.which in ("vector", "all"):
            print(json.dumps(bench_vector(spark, work / "v", args.sf_dir, args.batches)))
        if args.which in ("codes", "all"):
            print(json.dumps(bench_codes(spark, work / "c", args.sf_dir, args.batches)))
        if args.which in ("deletes", "all"):
            print(json.dumps(bench_deletes(spark, work / "d", args.sf_dir, args.batches)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
