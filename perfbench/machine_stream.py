"""Stream phase of the ``machine`` workload: the same machine events as
a live feed, after the batch phase in the same application.

Two simulated machines cut into 5-minute drops (~7.8 k rows each),
each pre-staged as a hidden file and landed by atomic rename. Two
queries watch the directory: ``start_pipeline`` (watermarked hourly
rollup + idempotent parquet sink) and ``sessionize_stream(cleanse(
read_event_stream(...)))`` into a memory sink. The next drop lands only
after both queries have processed the previous one (closed loop, one
client). With this little work per trigger, latency is set by the
per-trigger floor: offset/WAL commits, planning, jobs, state commit.

op_p50_ms = median ms from a drop's rename until both queries have
            processed it.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs
from harness import median

from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES
from projekt_data_engineering_iubh_spark.pipeline.daily_aggregator import cleanse
from projekt_data_engineering_iubh_spark.streaming import pipeline_stream as ps
from projekt_data_engineering_iubh_spark.streaming.sessionize_stream import sessionize_stream

LAYER_UNITS = {
    "pipeline_stream.trigger_ms": "ms",
    "pipeline_stream.add_batch_ms": "ms",
    "pipeline_stream.log_commit_ms": "ms",
    "pipeline_stream.query_planning_ms": "ms",
    "pipeline_stream.state_commit_ms": "ms",
    "pipeline_stream.state_rows": "count",
    "pipeline_stream.sink_ms": "ms",
    "pipeline_stream.triggers_per_drop": "count",
    "pipeline_stream.jobs_per_drop": "count",
    "sessionize_stream.trigger_ms": "ms",
    "sessionize_stream.add_batch_ms": "ms",
    "sessionize_stream.log_commit_ms": "ms",
    "sessionize_stream.state_commit_ms": "ms",
    "sessionize_stream.state_rows": "count",
    "sessionize_stream.jobs_per_drop": "count",
}

MACHINES = 2
WARMUP_DROPS = 1  # it also starts both queries
MIN_DROPS = 5  # timed drops, however short --seconds is
MAX_DROPS = 6  # staged after the warm-up
TRACED_DROPS = 2  # traced run: each after an untraced drop
SETTLE_TIMEOUT_S = 60.0


@dataclass
class State:
    drops: list
    rollup: object = None
    sessions: object = None
    out_dir: str = ""
    sink_ms: list = field(default_factory=list)
    landed: list = field(default_factory=list)  # rows of every landed drop
    latencies_ms: list = field(default_factory=list)
    next_drop: int = 0


def _land(st: State, hidden: str, visible: str, rows) -> None:
    os.rename(hidden, visible)
    st.landed.extend(rows)


def _drain(st: State) -> None:
    st.rollup.processAllAvailable()
    st.sessions.processAllAvailable()


def _timed_drop(run, st: State) -> None:
    hidden, visible, rows = st.drops[st.next_drop]
    st.next_drop += 1
    t0 = time.perf_counter()
    _land(st, hidden, visible, rows)
    run.ops.run("stream drop", _drain, st)
    st.latencies_ms.append((time.perf_counter() - t0) * 1000.0)


def setup(run) -> State:
    """Stage the drops; the queries start later, in ``start``."""
    hours = (WARMUP_DROPS + MAX_DROPS) * inputs.DROP_MINUTES / 60.0
    drops = run.generate(
        lambda d: inputs.stage_drops(
            inputs.simulate_machines(run.seed, machines=MACHINES, hours=hours),
            os.path.join(d, "src"),
        )
    )
    return State(drops=drops, out_dir=run.path("rollup_out"))


def start(run, st: State) -> None:
    """Start both queries and land the warm-up drops (set-up time)."""
    src = os.path.dirname(st.drops[0][1])
    t0 = time.perf_counter()
    spark = run.spark
    if run.trace:
        # traced wiring: start_pipeline's plan with a foreachBatch that
        # also times write_summary_batch
        def sink(df, bid):
            t = time.perf_counter()
            ps.write_summary_batch(df, bid, st.out_dir)
            st.sink_ms.append((time.perf_counter() - t) * 1000.0)

        st.rollup = (
            ps.hourly_error_rollup(ps.read_event_stream(spark, src), DEFAULT_RULES)
            .writeStream.outputMode("append")
            .option("checkpointLocation", run.path("ckpt_rollup"))
            .foreachBatch(sink)
            .start()
        )
    else:
        st.rollup = ps.start_pipeline(
            spark, src, st.out_dir, DEFAULT_RULES,
            checkpoint_dir=run.path("ckpt_rollup"),
        )
    st.sessions = (
        sessionize_stream(cleanse(ps.read_event_stream(spark, src)))
        .writeStream.format("memory")
        .queryName(f"perfbench_sessions_{os.getpid()}")
        .outputMode("append")
        .option("checkpointLocation", run.path("ckpt_sessions"))
        .start()
    )
    for _ in range(WARMUP_DROPS):
        hidden, visible, rows = st.drops[st.next_drop]
        st.next_drop += 1
        _land(st, hidden, visible, rows)
        _drain(st)
    run.warmup_s += time.perf_counter() - t0


def measure(run, st: State) -> None:
    first = st.next_drop
    t_end = time.perf_counter() + run.seconds
    while st.next_drop < len(st.drops) and (
        st.next_drop < first + MIN_DROPS or time.perf_counter() < t_end
    ):
        _timed_drop(run, st)
    run.e2e["op_p50_ms"] = median(st.latencies_ms)
    run.e2e["_op_samples"] = len(st.latencies_ms)


def _phase_stats(progress: list[dict]) -> dict[str, float]:
    data = [p for p in progress if p.get("numInputRows")]
    dur = [p.get("durationMs") or {} for p in data]
    state = [op for p in data for op in (p.get("stateOperators") or [])]
    return {
        "trigger_ms": median([d.get("triggerExecution", 0) for d in dur]),
        "add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "log_commit_ms": median([
            d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for d in dur
        ]),
        "query_planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
        "state_commit_ms": median([s.get("commitTimeMs", 0) for s in state]) if state else 0.0,
        "state_rows": median([s.get("numRowsTotal", 0) for s in state]) if state else 0.0,
    }


def trace(run, st: State) -> None:
    """TRACED_DROPS drops with spans, each after an untraced one (latency
    still falls as the JVM warms, so the two alternate). Phases and state
    metrics of the traced drops come from each query's progress events,
    jobs from its job group."""
    L, status = run.layers, run.status
    roll, sess, sink_ms, untraced, walls = [], [], [], [], []
    roll_jobs = sess_jobs = 0
    for _ in range(TRACED_DROPS):
        _timed_drop(run, st)
        untraced.append(st.latencies_ms[-1])
        b_roll = st.rollup.lastProgress["batchId"]
        b_sess = st.sessions.lastProgress["batchId"]
        mark = status.max_job_id()
        n_sink = len(st.sink_ms)
        with run.tracer.span("stream.drop") as sp:
            _timed_drop(run, st)
        walls.append(sp.ms)
        roll += [p for p in st.rollup.recentProgress if p["batchId"] > b_roll]
        sess += [p for p in st.sessions.recentProgress if p["batchId"] > b_sess]
        sink_ms += st.sink_ms[n_sink:]
        roll_jobs += status.stats(after=mark, group=str(st.rollup.runId)).jobs
        sess_jobs += status.stats(after=mark, group=str(st.sessions.runId)).jobs
    for k, v in _phase_stats(roll).items():
        L[f"pipeline_stream.{k}"] = v
    for k, v in _phase_stats(sess).items():
        if f"sessionize_stream.{k}" in LAYER_UNITS:
            L[f"sessionize_stream.{k}"] = v
    L["pipeline_stream.triggers_per_drop"] = len(roll) / TRACED_DROPS
    L["pipeline_stream.sink_ms"] = median(sink_ms) if sink_ms else 0.0
    L["pipeline_stream.jobs_per_drop"] = roll_jobs / TRACED_DROPS
    L["sessionize_stream.jobs_per_drop"] = sess_jobs / TRACED_DROPS
    L["trace.overhead_ms"] = median(walls) - median(untraced)


def check(run, st: State) -> None:
    """Land one flush row per machine two hours past the last drop so the
    watermark closes every window that holds dropped rows, then:
    Σ n_events per (hour, machine) window = rows dropped in it, and the
    closed sessions = the generator's cycles ending in the dropped rows
    (8 events each)."""
    last_ts = max(r[0] for r in st.landed)
    flush_ts = f"{inputs.DAY}T{int(last_ts[11:13]) + 2:02d}{last_ts[13:]}"
    machines = sorted({r[1] for r in st.landed})
    flush = os.path.join(os.path.dirname(st.drops[0][1]), ".flush.csv")
    with open(flush, "w") as f:
        f.write("timestamp,machine_id,event_name,parameter_name,value\n")
        for m in machines:
            f.write(f"{flush_ts},{m},AS_Check,AS_VacuumUnits,50.0\n")
    os.rename(flush, flush.replace(".flush", "flush"))

    want = Counter((r[1], int(r[0][11:13])) for r in st.landed)
    got: dict = {}
    deadline = time.time() + SETTLE_TIMEOUT_S
    while time.time() < deadline:
        _drain(st)
        if os.path.isdir(st.out_dir):
            t = pq.read_table(st.out_dir).to_pandas()
            got = {
                (str(r.machine_id), int(r.hour_of_day)): int(r.n_events)
                for r in t.itertuples()
            }
            if len(got) >= len(want):
                break
        time.sleep(0.2)
    run.ops.record(got == dict(want), f"rollup windows: {got} vs {dict(want)}")

    sess = run.spark.table(f"perfbench_sessions_{os.getpid()}").toPandas()
    closed = sess[sess["closed"]]
    n_end = sum(1 for r in st.landed if r[2] == "Cycle_End")
    run.ops.record(
        len(closed) == n_end and bool((closed["n_events"] == 8).all()),
        f"sessions: {len(closed)} closed vs {n_end} cycle ends",
    )


def teardown(run, st: State) -> None:
    for q in (st.rollup, st.sessions):
        if q is not None:
            q.stop()
