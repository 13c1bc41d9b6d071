"""Provision the driver's class-data-sharing archive, and show what is left
of a cold first query (``make cds``).

Starts one session through ``session.get_spark`` (so the archive key is
the one every later session computes) and runs a short representative
session on tiny inputs it generates: one ``daily_aggregator.run``, one
registry query (``docs_dedup_apply``, the first query of a curation job)
and one trigger of ``pipeline_stream.start_pipeline``. With no archive
for the key, the JVM dumps one at exit; with one, it maps it.

Each step runs twice, cold then warm, and prints its walls and the
Janino compile time of each run (Spark's ``CodegenMetrics``); the cold
wall minus the warm wall minus the extra compile time is the class
loading, class init and JIT a cold JVM still pays. When the archive is
mapped, the classes its dump skipped are counted by reason from the dump
log (the JVM archives no class from a signed jar, Janino's included).

    SPARK_GRAFT_DRIVER_MEM=1g python tools/cds_warmup.py
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import sys
import tempfile
import time
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from projekt_data_engineering_iubh_spark import cds  # noqa: E402
from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da  # noqa: E402
from projekt_data_engineering_iubh_spark.pipeline import generate_data  # noqa: E402
from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES  # noqa: E402
from projekt_data_engineering_iubh_spark.plans import all_queries  # noqa: E402
from projekt_data_engineering_iubh_spark.session import get_spark  # noqa: E402
from projekt_data_engineering_iubh_spark.streaming import pipeline_stream as ps  # noqa: E402

DAY = "2024-08-01"


class _StartRecord(logging.Handler):
    def __init__(self):
        super().__init__()
        self.fields: dict = {}

    def emit(self, record):
        if hasattr(record, "cds"):
            self.fields = {k: getattr(record, k)
                           for k in ("gateway_s", "context_s", "cds", "cds_key")}


def _documents(sf_dir: str, n: int = 60) -> None:
    words = "spark scan hash join window merge token vector index shard query".split()
    texts = [" ".join(words[(i * 7 + j) % len(words)] for j in range(12 + i % 9))
             for i in range(n)]
    texts[-1] = texts[0]  # one exact duplicate for the dedup to drop
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))


def _compile_ms(spark) -> tuple[int, int]:
    """(compiles, summed compile ms) so far in this JVM."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return int(h.getCount()), int(sum(h.getSnapshot().getValues()))


def _timed(spark, fn) -> dict:
    n0, ms0 = _compile_ms(spark)
    t0 = time.perf_counter()
    fn()
    wall = (time.perf_counter() - t0) * 1000.0
    n1, ms1 = _compile_ms(spark)
    return {"wall_ms": round(wall), "compiles": n1 - n0, "compile_ms": ms1 - ms0}


def skipped_by_reason(dump_log: str) -> Counter:
    """Classes a dump left out, by the reason the JVM logged."""
    reasons: Counter = Counter()
    with open(dump_log, errors="replace") as f:
        for line in f:
            m = re.search(r"Skipping \S+: (.*)$", line)
            if m:
                reasons[re.sub(r"super class \S+ is excluded",
                               "super class is excluded", m.group(1).strip())] += 1
            elif "Pre JDK 6 class not supported by CDS" in line:
                reasons["Pre JDK 6 class (class file version 49)"] += 1
    return reasons


def main() -> None:
    record = _StartRecord()
    logging.getLogger("projekt_data_engineering_iubh_spark").addHandler(record)
    logging.getLogger("projekt_data_engineering_iubh_spark").setLevel(logging.INFO)
    spark = get_spark("cds-warmup", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cds-warmup-")
    sim = generate_data.simulate_day("M01", DAY, hours=0.25, seed=1)
    csv = str(generate_data.write_csv(sim, os.path.join(work, f"machine_event_logs_M01_{DAY}.csv")))
    sf_dir = os.path.join(work, "sf")
    os.makedirs(sf_dir)
    _documents(sf_dir)
    dedup = all_queries()["docs_dedup_apply"].fn

    def stream_trigger(k: int) -> None:
        drops = os.path.join(work, f"drops{k}")
        os.makedirs(drops)
        generate_data.write_csv(sim, os.path.join(drops, "drop.csv"))
        q = ps.start_pipeline(spark, drops, os.path.join(work, f"rollup{k}"), DEFAULT_RULES,
                              checkpoint_dir=os.path.join(work, f"ckpt{k}"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    steps = {
        "daily_aggregator.run": lambda k: da.run(spark, csv, os.path.join(work, f"wh{k}"),
                                                 DEFAULT_RULES),
        "docs_dedup_apply": lambda k: dedup(spark, sf_dir).collect(),
        "stream_trigger": stream_trigger,
    }
    report = {"session": record.fields, "steps": {}}
    for name, step in steps.items():
        cold = _timed(spark, lambda: step(0))
        warm = _timed(spark, lambda: step(1))
        cold["class_load_init_jit_ms"] = (cold["wall_ms"] - warm["wall_ms"]
                                          - (cold["compile_ms"] - warm["compile_ms"]))
        report["steps"][name] = {"cold": cold, "warm": warm}
    dump_log = os.path.join(cds.cache_dir(), f"{record.fields.get('cds_key')}.dump.log")
    if record.fields.get("cds") == "mapped" and os.path.exists(dump_log):
        report["dump_skipped_by_reason"] = dict(skipped_by_reason(dump_log).most_common())
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, indent=1))
    if record.fields.get("cds") == "dumping":
        print("the archive is dumped when this process exits (13-17 s)", file=sys.stderr)


if __name__ == "__main__":
    main()
