"""Delete-fraction serve curve for the ROUTED index at the 1M lane
point (r13, VERDICT r12 #4): the IVF-PQ tier has a measured
serve-flat-at-0-50%-dead curve; the routed tier's delete serve (#160)
was certified at sf0.01 only. This tool tombstones 10% / 30% / 50% of
the 1M replica corpus on the routed root tools/routed_scale_point.py
built, measuring per step:

* the delete-generation commit wall (expected O(|keys|) + hardlinks —
  NO growth with index size);
* the warm serve wall through the tombstone-honoring plan
  (_routed_serve_from_dir → ann_index.read_live_codes anti-join) —
  expected flat-ish while the key set stays broadcast-sized;
* the tombstone artifact bytes (the anti-join's broadcast build side);

then runs ann_index.compact once and re-measures: post-compact the serve
is a bare codes scan over survivors only.

Deletes are CUMULATIVE (vec_id % 10 < 1 ⊂ < 3 ⊂ < 5 — a corpus
shrinking over time), each step ONE delete generation. The plain
artifact dir from routed_scale_point is lifted into a manifest store by
the first delete commit (store.commit_snapshot v1 = links + tombstones)
— the same upgrade path a production root would take.

Usage:
  python tools/routed_delete_curve.py [--root /tmp/embR_sf0.1_x50/_routed_root_t64]
      [--src /tmp/embR_sf0.1_x50] [--runs 3]
Prints one JSON line per fraction plus the post-compact line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def _dir_bytes(d: str) -> int:
    if not os.path.isdir(d):
        return 0
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/tmp/embR_sf0.1_x50")
    ap.add_argument(
        "--root", default="/tmp/embR_sf0.1_x50/_routed_root_t64"
    )
    ap.add_argument("--tenths", type=int, nargs="+", default=[1, 3, 5])
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.catalog import load_table
    from projekt_data_engineering_iubh_spark.pipeline import ann_index, store
    from projekt_data_engineering_iubh_spark.plans import (
        vector_queries as vq,
    )
    from projekt_data_engineering_iubh_spark.session import get_spark

    if not os.path.isdir(args.root):
        print(
            f"routed root {args.root} missing — run "
            "tools/routed_scale_point.py first",
            file=sys.stderr,
        )
        return 2

    spark = get_spark("routed_delete_curve")
    spark.sparkContext.setLogLevel("ERROR")

    e = load_table(spark, args.src, "embeddings")
    n = e.count()

    def canary() -> float:
        t0 = time.perf_counter()
        e.agg(F.count(F.lit(1))).collect()
        return round(time.perf_counter() - t0, 4)

    def serve_walls() -> list[float]:
        cur = store.resolve(args.root)
        walls = []
        for _ in range(max(1, args.runs) + 1):  # first run warms
            t0 = time.perf_counter()
            vq._routed_serve_from_dir(spark, args.src, cur).write.format(
                "noop"
            ).mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
        return walls[1:]

    for tenth in args.tenths:
        keys = e.filter(F.col("vec_id") % 10 < tenth).select("vec_id")
        t0 = time.perf_counter()
        committed = ann_index.delete_generation(spark, args.root, keys)
        t_del = round(time.perf_counter() - t0, 2)
        cur = store.resolve(args.root)
        walls = serve_walls()
        print(
            json.dumps(
                {
                    "point": f"dead_{tenth}0pct",
                    "n_vectors": n,
                    "delete_committed": committed,
                    "delete_commit_sec": t_del,
                    "tombstone_bytes": _dir_bytes(
                        os.path.join(cur, "tombstones")
                    ),
                    "serve_walls": walls,
                    "serve_warm_min": min(walls),
                    "canary": canary(),
                }
            ),
            flush=True,
        )

    t0 = time.perf_counter()
    folded = ann_index.compact(spark, args.root)
    t_compact = round(time.perf_counter() - t0, 2)
    cur = store.resolve(args.root)
    walls = serve_walls()
    live = spark.read.parquet(os.path.join(cur, "codes")).count()
    print(
        json.dumps(
            {
                "point": "post_compact",
                "compacted": folded,
                "compact_sec": t_compact,
                "live_codes": live,
                "tombstone_bytes": _dir_bytes(
                    os.path.join(cur, "tombstones")
                ),
                "serve_walls": walls,
                "serve_warm_min": min(walls),
                "canary": canary(),
            }
        ),
        flush=True,
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
