"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds seeded inputs, measures the workload
for ``--seconds`` seconds against the package's public functions, checks
the outputs, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the same set-up
is followed by a traced phase instead, which prints the per-layer
metrics (plus a span JSONL under ``.perfbench_out/``). Everything
the run writes lives in ``.perfbench_work/`` under the current directory
and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    OpCounter,
    RssSampler,
    SparkStatus,
    Tracer,
    median,
    stop_spark_processes,
    tail_percentile,
)

WORKLOADS = ("machine", "llm_curation")
INPUT_BUILDS = 3

# End-to-end metrics: every run prints all of them. Each workload gives
# the shared names its own meaning (see README.md).
E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_p50_ms": "ms",
}

# Per-layer metrics: every traced run prints all of them; a layer the
# workload does not exercise reads 0.
COMMON_LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.job_floor_ms": "ms",
    "spark.gc_ms": "ms",
    "trace.overhead_ms": "ms",
}


def layer_units() -> dict[str, str]:
    units = dict(COMMON_LAYER_UNITS)
    for name in WORKLOADS:
        units.update(importlib.import_module(name).LAYER_UNITS)
    return units


def isolate_env(work: str, cpus: int) -> None:
    """Pin cores and memory, and point every scratch location of Spark,
    the JVMs and the package into this run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        # below this box's RAM; the session default (32g) is not
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"),
        SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(work, "checkpoints"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )


class Run:
    """One benchmark run: arguments, session, counters and metrics."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.work = work
        self.ops = OpCounter()
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.gen_s: list[float] = []
        self.warmup_s = 0.0
        self.session_start_s = 0.0
        self.spark = None
        self.status = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        from projekt_data_engineering_iubh_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.status = SparkStatus(self.spark)

    def generate(self, fn):
        """Build one kind of input INPUT_BUILDS times into fresh dirs (same
        seed, same bytes) and keep the last; setup_s counts the median
        build of each kind."""
        out, walls = None, []
        kind = len(self.gen_s)
        for rep in range(INPUT_BUILDS):
            d = self.path(f"inputs{kind}_{rep}")
            t0 = time.perf_counter()
            out = fn(d)
            walls.append(time.perf_counter() - t0)
            if rep < INPUT_BUILDS - 1:
                shutil.rmtree(d, ignore_errors=True)
        self.gen_s.append(median(walls))
        return out

    @contextmanager
    def layer(self, name: str, call: int = 0, **attrs):
        """Span around one call into a layer; its Spark jobs carry the
        tag ``<name>#<call>``."""
        tag = f"{name}#{call}"
        with self.tracer.span(name, call=call, **attrs) as sp:
            self.spark.addTag(tag)
            try:
                yield sp
            finally:
                self.spark.removeTag(tag)

    def job_floor_ms(self) -> float:
        sc = self.spark.sparkContext
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            sc.parallelize([0], 1).count()
            walls.append((time.perf_counter() - t0) * 1000.0)
        return median(walls)

    def setup_s(self) -> float:
        return self.session_start_s + sum(self.gen_s) + self.warmup_s


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes (seconds, not a measurement)")
    ap.add_argument("--spans-dir", default=".perfbench_out",
                    help="where a traced run writes its span JSONL")
    return ap.parse_args(argv)


def _exit_on_sigterm(signum, frame):
    # unwinds through main's ``finally``, which ends the JVM and workers
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    # import before touching the disk: without the package the run fails here
    import projekt_data_engineering_iubh_spark  # noqa: F401

    workload = importlib.import_module(args.workload)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(
        os.path.join(".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    )
    os.makedirs(work)
    isolate_env(work, cpus)
    rss = RssSampler().start()
    run = Run(args, work)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    try:
        run.start_session()
        state = workload.setup(run)
        phase("setup")
        mark = run.status.max_job_id()
        if run.trace:
            run.layers["session.start_s"] = run.session_start_s
            run.layers["session.job_floor_ms"] = run.job_floor_ms()
            workload.trace(run, state)
            run.layers["spark.gc_ms"] = run.status.stats(after=mark).gc_ms
            phase("trace")
        else:
            workload.measure(run, state)
            phase("measure")
        workload.check(run, state)
        phase("check")
        workload.teardown(run, state)
    finally:
        if run.spark is not None:
            try:
                run.spark.stop()
            except Exception as exc:  # e.g. the gateway link broke mid-call
                print(f"[perfbench] spark.stop: {type(exc).__name__}: {exc}", file=sys.stderr)
        left = stop_spark_processes()
        if left:
            print(f"[perfbench] processes still running: {left}", file=sys.stderr)
        phase("stop")
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(".perfbench_work")
        except OSError:
            pass

    n_ops = run.e2e.pop("_op_samples", 0)
    p = tail_percentile(int(n_ops))
    print(
        f"[perfbench] {args.workload}: {int(n_ops)} latency samples; "
        + (f"tail p{p:g} available" if p else "no tail percentile has >=10 samples beyond it"),
        file=sys.stderr,
    )
    print(f"[perfbench] phase seconds: {phases}; session start {run.session_start_s:.2f}, "
          f"median input builds {[round(s, 2) for s in run.gen_s]}, warm-up {run.warmup_s:.2f}",
          file=sys.stderr)
    for err in run.ops.errors:
        print(f"[perfbench] failed op: {err}", file=sys.stderr)
    if run.trace:
        run.layers["process.peak_rss_mb"] = peak_mb
        units = layer_units()
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        path = os.path.join(args.spans_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
        run.tracer.write(path)
        print(f"[perfbench] spans: {path}", file=sys.stderr)
    else:
        run.e2e["setup_s"] = run.setup_s()
        metrics = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": run.ops.failed == 0,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
