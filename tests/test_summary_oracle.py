"""Full-column oracle for the batch job's hourly summary.

``daily_aggregator`` builds the summary in ONE aggregation over the events
joined to their cycle. The reference builds it from two branches — a
per-cycle rollup and a per-event rollup, FULL OUTER JOINed on (date, hour,
machine) and zero-filled (``src/daily_aggregator.py:193-265``). This test
renders that two-branch formulation in DuckDB and compares every one of
the 20 summary columns written by ``run`` — so the equivalence the
one-pass plan relies on is checked on data, not just argued.
"""

from __future__ import annotations

import csv
import datetime as dt

import duckdb
import pytest

from projekt_data_engineering_iubh_spark.operators.rules import rules_to_sql_predicate
from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
from projekt_data_engineering_iubh_spark.pipeline import generate_data
from projekt_data_engineering_iubh_spark.pipeline.config import (
    DEFAULT_RULES,
    PARAMETER_EVENT_MAPPING,
)
from tests.test_pipeline_golden import FIXTURE_ROWS

# Spark's round(double, s) is HALF_UP on the double's decimal string
# (Double.toString); the VARCHAR → DECIMAL detour renders exactly that
_ROUND = (
    "CREATE MACRO r(x, s) AS "
    "CAST(round(CAST(CAST(x AS VARCHAR) AS DECIMAL(38, 12)), s) AS DOUBLE)"
)

_FORCES = [
    ("pick", "Pick_Check"),
    ("place", "Place_Check"),
]
_ERRORS = [
    ("as_vacuum_error_count", "AS_VacuumUnits", "AS_Check"),
    ("pp_vacuum_error_count", "PP_VacuumUnits", "Pick_Check"),
    ("as_release_error_count", "AS_VacuumUnits", "AS_Blowoff_Check"),
    ("pp_release_error_count", "PP_VacuumUnits", "Place_Check"),
    ("pick_force_error_count", "PP_Force", "Pick_Check"),
    ("place_force_error_count", "PP_Force", "Place_Check"),
]


def _reference_sql(path: str) -> str:
    pred = rules_to_sql_predicate(DEFAULT_RULES, PARAMETER_EVENT_MAPPING)
    forces = ",\n".join(
        f"{fn}(CASE WHEN event_name = '{ev}' AND parameter_name = 'PP_Force' "
        f"THEN value END) AS {fn}_{name}_force"
        for name, ev in _FORCES
        for fn in ("avg", "max", "min")
    )
    errors = ",\n".join(
        f"sum(CASE WHEN parameter_name = '{p}' AND event_name = '{e}' "
        f"AND is_error = 1 THEN 1 ELSE 0 END) AS {col}"
        for col, p, e in _ERRORS
    )
    filled = ",\n".join(
        [
            f"r(coalesce(e.{fn}_{name}_force, 0), 2) AS {fn}_{name}_force"
            for name, _ in _FORCES
            for fn in ("avg", "max", "min")
        ]
        + [f"CAST(coalesce(e.{col}, 0) AS BIGINT) AS {col}" for col, _, _ in _ERRORS]
        + [
            "coalesce(c.cycle_count, 0) AS cycle_count",
            "r(coalesce(c.min_ct, 0), 3) AS min_cycle_time_seconds",
            "r(coalesce(c.max_ct, 0), 3) AS max_cycle_time_seconds",
            "r(coalesce(c.avg_ct, 0), 3) AS avg_cycle_time_seconds",
            "CAST(coalesce(e.total_error_count, 0) AS BIGINT) AS total_error_count",
        ]
    )
    return f"""
WITH clean AS (
  SELECT machine_id, event_name, coalesce(parameter_name, '') AS parameter_name,
         TRY_CAST(value AS DOUBLE) AS value,
         TRY_STRPTIME(timestamp, '%Y-%m-%dT%H:%M:%S.%gZ') AS ts
  FROM read_csv('{path}', header = true, all_varchar = true)
), seq AS (
  SELECT *,
    SUM(CASE WHEN event_name = 'Cycle_Start' THEN 1 ELSE 0 END) OVER (
      PARTITION BY machine_id
      ORDER BY ts, CASE event_name WHEN 'Cycle_End' THEN 0
                                   WHEN 'Cycle_Start' THEN 2 ELSE 1 END,
               parameter_name) AS cycle_seq,
    CASE WHEN {pred} THEN 1 ELSE 0 END AS is_error
  FROM clean
  WHERE ts IS NOT NULL AND machine_id IS NOT NULL AND event_name IS NOT NULL
), cycles AS (
  SELECT machine_id, cycle_seq, min(ts) AS start_ts,
         round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 3) AS ct
  FROM seq
  WHERE cycle_seq > 0 AND event_name IN ('Cycle_Start', 'Cycle_End')
  GROUP BY machine_id, cycle_seq
), cycle_summary AS (
  SELECT CAST(start_ts AS DATE) AS d, hour(start_ts) AS h, machine_id,
         count(DISTINCT cycle_seq) AS cycle_count,
         avg(ct) AS avg_ct, min(ct) AS min_ct, max(ct) AS max_ct
  FROM cycles GROUP BY ALL
), event_summary AS (
  SELECT CAST(c.start_ts AS DATE) AS d, hour(c.start_ts) AS h, s.machine_id,
         {forces},
         {errors},
         sum(is_error) AS total_error_count
  FROM seq s JOIN cycles c USING (machine_id, cycle_seq)
  GROUP BY ALL
)
SELECT CAST(coalesce(c.d, e.d) AS VARCHAR) AS summary_date,
       CAST(coalesce(c.h, e.h) AS INTEGER) AS hour_of_day,
       coalesce(c.machine_id, e.machine_id) AS machine_id,
       {filled}
FROM cycle_summary c FULL OUTER JOIN event_summary e
  ON c.d = e.d AND c.h = e.h AND c.machine_id = e.machine_id
"""


def _two_machine_rows() -> list[list]:
    """Two simulated machines over 00:58:30-01:01:30 (crossing an hour),
    a 2-row cycle among M1's 8-row ones (so a per-row mean of cycle time
    differs from the per-cycle one), and a cycle of one lone Cycle_Start
    in an hour of its own."""
    shift = dt.timedelta(minutes=58, seconds=30)
    rows = []
    for mid, seed in (("M1", 11), ("M2", 12)):
        sim = generate_data.simulate_day(mid, "2024-08-01", hours=0.05, seed=seed)
        for ts, *rest in sim.rows:
            t = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ") + shift
            rows.append([t.isoformat(timespec="milliseconds") + "Z", *rest])
    rows.sort(key=lambda r: r[0])
    rows.append(["2024-08-01T01:01:50.000Z", "M1", "Cycle_Start", None, None])
    rows.append(["2024-08-01T01:01:50.250Z", "M1", "Cycle_End", None, None])
    rows.append(["2024-08-01T02:00:00.000Z", "M2", "Cycle_Start", None, None])
    return rows


@pytest.fixture(params=["golden", "two_machines"])
def day_csv(request, tmp_path):
    p = tmp_path / "day.csv"
    if request.param == "golden":
        p.write_text("\n".join(FIXTURE_ROWS) + "\n")
    else:
        with open(p, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(generate_data.HEADER)
            w.writerows(_two_machine_rows())
    return str(p)


def test_run_summary_matches_two_branch_reference(spark, day_csv, tmp_path):
    cols = [*da.SUMMARY_COLUMNS, "total_error_count"]
    _, summary = da.transform(da.read_events_csv(spark, day_csv), DEFAULT_RULES)
    assert summary.columns == cols
    out = str(tmp_path / "wh")
    da.run(spark, day_csv, out, DEFAULT_RULES)
    got = sorted(
        tuple(r) for r in spark.read.parquet(f"{out}/hourly_machine_summary")
        .selectExpr(
            "CAST(summary_date AS STRING) AS summary_date",
            *[c for c in cols if c != "summary_date"],
        )
        .select(*cols)
        .collect()
    )
    con = duckdb.connect()
    con.execute(_ROUND)
    want = sorted(
        con.execute(_reference_sql(day_csv)).fetchdf()[cols].itertuples(
            index=False, name=None
        )
    )
    assert len(got) == len(want) > 1
    for g, w in zip(got, want):
        assert dict(zip(cols, g)) == dict(zip(cols, w))
