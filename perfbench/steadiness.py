"""Steadiness check for the benchmark.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workloads a b ...]

Runs ``--sets`` sets of ``--runs`` untraced runs per workload, each run
with its own seed, and prints for every end-to-end metric the median,
the quartiles and the spread (q3 - q1) / median of each set. With two
sets it also says whether they agree within the bounds in
BENCHMARK.json: every spread except setup_s's within its bound, and the
second median no worse than the first by more than the bound. Exit code
0 when they agree (or with one set), 1 otherwise. Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

from harness import quartiles


def run_once(cfg: dict, workload: str, seed: int) -> tuple[dict, float]:
    cmd = cfg["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(cfg["run_seconds"]), "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = quartiles(values)
    return q1, q2, q3, (q3 - q1) / q2


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first`` (negative: better)."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--config", default="BENCHMARK.json")
    args = ap.parse_args(argv)

    with open(args.config) as f:
        cfg = json.load(f)
    workloads = args.workloads or [w["name"] for w in cfg["workloads"]]
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            results, walls = [], []
            for i in range(args.runs):
                seed = args.seed_base + s * args.runs + i
                res, wall = run_once(cfg, w, seed)
                results.append(res)
                walls.append(wall)
                print(f"{w} set {s} seed {seed}: {wall:.1f} s wall, correct={res['correct']}",
                      file=sys.stderr, flush=True)
                ok = ok and res["correct"]
            sets.append(results)
            print(f"{w} set {s}: run wall median {sorted(walls)[len(walls) // 2]:.1f} s")
        for m in cfg["end_to_end"]:
            name, bound = m["name"], m["bound"]
            medians = []
            for s, results in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in results]
                q1, q2, q3, sp = spread(vals)
                medians.append(q2)
                flag = "" if name == "setup_s" or sp <= bound else "  SPREAD > BOUND"
                if flag:
                    ok = False
                print(f"{w:15s} {name:12s} set {s}: median {q2:.4g}  q1 {q1:.4g}  "
                      f"q3 {q3:.4g}  spread {sp:.3f} (bound {bound}, third {bound / 3:.3f}){flag}")
            if len(medians) == 2:
                drift = worse_by(medians[0], medians[1], m["better"])
                agree = drift <= bound
                ok = ok and agree
                print(f"{w:15s} {name:12s} second median worse by {drift:+.3f}: "
                      f"{'agree' if agree else 'DISAGREE'}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
