"""Batch phase of the ``machine`` workload: the paper's headline path.

One ``daily_aggregator.run`` per machine-day CSV (the reference runs one
spark-submit per file), each followed by dashboard reads
(``serving.available_dates`` + ``serving.day_slice``) on the warehouse
just written. Closed loop, one client.

rows_per_s = CSV rows of the ``run`` calls / their summed wall.

Measured from cold, as the reference runs one spark-submit per file: the
``run`` pays codegen and JIT. The dashboard reads check the warehouse;
their walls go to stderr, and the traced run reports the serving layer.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import inputs
from harness import median, prefix_self_times, files_scanned, planning_ms

from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
from projekt_data_engineering_iubh_spark.pipeline import serving
from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES

LAYER_UNITS = {
    "sources.scan_cleanse_ms": "ms",
    "sources.input_bytes": "B",
    "operators.sessionize_ms": "ms",
    "operators.sessionize_max_task_ms": "ms",
    "operators.rules_ms": "ms",
    "daily_aggregator.hourly_summary_ms": "ms",
    "daily_aggregator.enriched_ms": "ms",
    "daily_aggregator.sink_write_ms": "ms",
    "daily_aggregator.jobs": "count",
    "daily_aggregator.stages": "count",
    "daily_aggregator.shuffle_bytes": "B",
    "daily_aggregator.bytes_written_per_input_byte": "B/B",
    "serving.planning_ms": "ms",
    "serving.exec_ms": "ms",
    "serving.jobs_per_query": "count",
    "serving.files_scanned_per_query": "count",
}

MACHINES = 1
HOURS = 0.25  # ~11.6 k rows per machine file
TINY_HOURS = 0.1
PASSES = 3  # the first one cold
READS_PER_RUN = 1
TRACED_READS = 3


@dataclass
class State:
    days: list
    rng: random.Random
    last_wh: str  # the last warehouse that holds every machine's day
    run_rows: int = 0
    run_walls_s: list = field(default_factory=list)
    read_walls_ms: list = field(default_factory=list)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _subset(rng: random.Random, days) -> list[str]:
    ids = [d.machine_id for d in days]
    return sorted(rng.sample(ids, rng.randint(1, len(ids))))


def dashboard_read(spark, warehouse: str, machine_ids: list[str]):
    """One dashboard refresh: the date picker, then the chosen day's slice."""
    summary = serving.summary_table(spark, warehouse)
    dates_df = serving.available_dates(summary)
    dates = [r[0] for r in dates_df.collect()]
    slice_df = serving.day_slice(summary, dates[0], machine_ids=machine_ids)
    return dates, slice_df.collect()


def _expected_slice_rows(days, machine_ids) -> int:
    """Summary rows of a machine = distinct hours in which its cycles start."""
    n = 0
    for d in days:
        if d.machine_id in machine_ids:
            n += len({r[0][11:13] for r in d.rows if r[2] == "Cycle_Start"})
    return n


def _run_op(run, st: State, i: int, wh: str) -> None:
    """``daily_aggregator.run`` on the i-th file of a pass into ``wh``."""
    d = st.days[i]
    t0 = time.perf_counter()
    out = run.ops.run("daily_aggregator.run", da.run, run.spark, d.path, wh, DEFAULT_RULES)
    st.run_walls_s.append(time.perf_counter() - t0)
    st.run_rows += len(d.rows)
    seen = sum(len(x.rows) for x in st.days[: i + 1])
    if out is not None and out["events"] != seen:
        run.ops.record(False, f"run: {out['events']} events, expected {seen}")


def _read_op(run, st: State, wh: str, written: list) -> None:
    """One dashboard read on ``wh``, which holds the ``written`` days."""
    ids = _subset(st.rng, written)
    t0 = time.perf_counter()
    out = run.ops.run("dashboard_read", dashboard_read, run.spark, wh, ids)
    st.read_walls_ms.append((time.perf_counter() - t0) * 1000.0)
    if out is not None:
        dates, rows = out
        ok = [str(x) for x in dates] == [inputs.DAY]
        ok = ok and len(rows) == _expected_slice_rows(written, ids)
        if not ok:
            run.ops.record(False, f"dashboard_read: {dates} / {len(rows)} rows for {ids}")


def setup(run) -> State:
    hours = TINY_HOURS if run.tiny else HOURS
    days = run.generate(
        lambda d: inputs.machine_days(d, run.seed, machines=MACHINES, hours=hours)
    )
    return State(days, random.Random(run.seed), "")


def _pass(run, st: State, wh: str) -> None:
    """One ``run`` per file into the fresh warehouse ``wh``, each followed
    by dashboard reads on it; ``wh`` then replaces the last warehouse."""
    for i in range(len(st.days)):
        _run_op(run, st, i, wh)
        for _ in range(READS_PER_RUN):
            _read_op(run, st, wh, st.days[: i + 1])
    if st.last_wh:
        shutil.rmtree(st.last_wh, ignore_errors=True)
    st.last_wh = wh


def measure(run, st: State) -> None:
    """PASSES passes over the files, each into a fresh warehouse."""
    for k in range(PASSES):
        _pass(run, st, run.path(f"warehouse{k}"))
    run.e2e["rows_per_s"] = st.run_rows / sum(st.run_walls_s)
    print(f"[perfbench] batch: run walls {[round(w, 2) for w in st.run_walls_s]} s "
          f"for {st.run_rows} rows; dashboard reads "
          f"{[round(w) for w in st.read_walls_ms]} ms", file=sys.stderr)


def trace(run, st: State) -> None:
    """After one untraced pass (warm-up), force each cumulative prefix of
    the batch plan with a noop write (cleanse, +sessionize, +rules,
    +summary / +enriched), then the real ``run``; self times are prefix
    differences. Then dashboard reads on the warehouse those runs wrote,
    each checked untraced, then traced."""
    spark, status, L = run.spark, run.status, run.layers
    _pass(run, st, run.path("warehouse_warmup"))
    per_file: dict[str, list[float]] = {}

    def add(k, v):
        per_file.setdefault(k, []).append(float(v))

    wh = run.path("warehouse_traced")
    for i, d in enumerate(st.days):
        with run.tracer.span("machine_file", machine_id=d.machine_id):
            events = da.cleanse(da.read_events_csv(spark, d.path))
            with run.layer("sources", i) as p1:
                _noop(events)
            with_seq, cycle_times = da.compute_cycles(events)
            with run.layer("operators.sessionize", i) as p2:
                _noop(with_seq)
            events_err = da.flag_errors(with_seq, DEFAULT_RULES)
            with run.layer("operators.rules", i) as p3:
                _noop(events_err)
            with run.layer("daily_aggregator.hourly_summary", i) as p4a:
                _noop(da.hourly_summary(events_err, cycle_times))
            with run.layer("daily_aggregator.enriched", i) as p4b:
                _noop(da.enriched_events(events_err, cycle_times))
            with run.layer("daily_aggregator.run", i) as pr:
                da.run(spark, d.path, wh, DEFAULT_RULES)
        self_ms = prefix_self_times(
            [("scan", p1.ms), ("sessionize", p2.ms), ("rules", p3.ms)]
        )
        add("sources.scan_cleanse_ms", self_ms["scan"])
        add("operators.sessionize_ms", self_ms["sessionize"])
        add("operators.rules_ms", self_ms["rules"])
        add("daily_aggregator.hourly_summary_ms", p4a.ms - p3.ms)
        add("daily_aggregator.enriched_ms", p4b.ms - p3.ms)
        add("daily_aggregator.sink_write_ms", pr.ms - (p4a.ms + p4b.ms - p3.ms))
        add("sources.input_bytes", status.stats(tag=f"sources#{i}").input_bytes)
        add("operators.sessionize_max_task_ms",
            status.stats(tag=f"operators.sessionize#{i}", max_task=True).max_task_ms)
        agg = status.stats(tag=f"daily_aggregator.run#{i}")
        add("daily_aggregator.jobs", agg.jobs)
        add("daily_aggregator.stages", agg.stages)
        add("daily_aggregator.shuffle_bytes", agg.shuffle_bytes)
        add("daily_aggregator.bytes_written_per_input_byte",
            agg.output_bytes / os.path.getsize(d.path))
    for k, v in per_file.items():
        L[k] = median(v)

    shutil.rmtree(st.last_wh, ignore_errors=True)
    st.last_wh = wh
    walls, plans, jobs, files = [], [], [], []
    for i in range(TRACED_READS):
        _read_op(run, st, wh, st.days)
        ids = _subset(st.rng, st.days)
        with run.layer("serving", i) as sp:
            summary = serving.summary_table(spark, wh)
            dates_df = serving.available_dates(summary)
            plan_ms = planning_ms(dates_df)
            day = dates_df.collect()[0][0]
            slice_df = serving.day_slice(summary, day, machine_ids=ids)
            plan_ms += planning_ms(slice_df)
            slice_df.collect()
        walls.append(sp.ms)
        plans.append(plan_ms)
        jobs.append(status.stats(tag=f"serving#{i}").jobs)
        files.append(files_scanned(dates_df) + files_scanned(slice_df))
    L["serving.planning_ms"] = median(plans)
    L["serving.exec_ms"] = median([w - p for w, p in zip(walls, plans)])
    L["serving.jobs_per_query"] = median(jobs)
    L["serving.files_scanned_per_query"] = median(files)


_ORACLE_SQL = """
WITH ev AS (
  SELECT machine_id, event_name, coalesce(parameter_name, '') AS param,
         TRY_CAST(value AS DOUBLE) AS v,
         strptime(timestamp, '%Y-%m-%dT%H:%M:%S.%gZ') AS ts
  FROM read_csv({files}, header = true, all_varchar = true)
), seq AS (
  SELECT *, SUM(CASE WHEN event_name = 'Cycle_Start' THEN 1 ELSE 0 END) OVER (
      PARTITION BY machine_id
      ORDER BY ts, CASE event_name WHEN 'Cycle_End' THEN 0
                                   WHEN 'Cycle_Start' THEN 2 ELSE 1 END, param
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cyc
  FROM ev
), starts AS (
  SELECT machine_id, cyc, min(ts) AS start_ts FROM seq
  WHERE cyc > 0 AND event_name IN ('Cycle_Start', 'Cycle_End')
  GROUP BY machine_id, cyc
)
SELECT s.machine_id, hour(st.start_ts) AS hour_of_day,
  sum(CASE WHEN event_name = 'AS_Check' AND param = 'AS_VacuumUnits' AND v > 70 THEN 1 ELSE 0 END) AS as_vacuum_error_count,
  sum(CASE WHEN event_name = 'Pick_Check' AND param = 'PP_VacuumUnits' AND v > 75 THEN 1 ELSE 0 END) AS pp_vacuum_error_count,
  sum(CASE WHEN event_name = 'AS_Blowoff_Check' AND param = 'AS_VacuumUnits' AND v < 450 THEN 1 ELSE 0 END) AS as_release_error_count,
  sum(CASE WHEN event_name = 'Place_Check' AND param = 'PP_VacuumUnits' AND v < 450 THEN 1 ELSE 0 END) AS pp_release_error_count,
  sum(CASE WHEN event_name = 'Pick_Check' AND param = 'PP_Force' AND (v < 60 OR v > 120) THEN 1 ELSE 0 END) AS pick_force_error_count,
  sum(CASE WHEN event_name = 'Place_Check' AND param = 'PP_Force' AND (v < 60 OR v > 120) THEN 1 ELSE 0 END) AS place_force_error_count
FROM seq s JOIN starts st ON s.machine_id = st.machine_id AND s.cyc = st.cyc
GROUP BY ALL
"""

_ERR_COLS = (
    "as_vacuum_error_count", "pp_vacuum_error_count", "as_release_error_count",
    "pp_release_error_count", "pick_force_error_count", "place_force_error_count",
)


def check(run, st: State) -> None:
    """Outside the timed region, on the last warehouse written:
    Σ cycle_count = the generator's cycles, and the hourly error counts
    equal a DuckDB recomputation over the same CSVs."""
    summary = pq.read_table(os.path.join(st.last_wh, "hourly_machine_summary")).to_pandas()
    n_cycles = sum(d.n_cycles for d in st.days)
    run.ops.record(
        int(summary["cycle_count"].sum()) == n_cycles,
        f"cycle_count sum {int(summary['cycle_count'].sum())} != {n_cycles}",
    )
    files = "[" + ", ".join(f"'{d.path}'" for d in st.days) + "]"
    oracle = duckdb.connect().execute(_ORACLE_SQL.format(files=files)).fetchdf()
    got = {
        (str(r.machine_id), int(r.hour_of_day)): tuple(int(getattr(r, c)) for c in _ERR_COLS)
        for r in summary.itertuples()
    }
    want = {
        (str(r.machine_id), int(r.hour_of_day)): tuple(int(getattr(r, c)) for c in _ERR_COLS)
        for r in oracle.itertuples()
    }
    run.ops.record(got == want, f"hourly error counts differ: {got} vs {want}")
