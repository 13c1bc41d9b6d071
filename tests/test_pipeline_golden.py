"""Golden tests for the reference-parity pipeline (FIXTURES.md §1).

Hand-computed expectations over a fixture that exercises every documented
edge: same-millisecond Cycle_End/Cycle_Start ties, pre-cycle events,
unparseable timestamps, non-numeric values, boundary threshold values,
a cycle missing its end marker, multi-hour and multi-machine grouping,
and idempotent summary rewrites.
"""

from __future__ import annotations

import pytest

from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES

FIXTURE_ROWS = [
    "timestamp,machine_id,event_name,parameter_name,value",
    # pre-cycle event: cycle_seq must stay 0, excluded from summary
    "2024-05-01T00:00:00.000Z,M1,AS_Check,AS_VacuumUnits,50.0",
    # cycle 1
    "2024-05-01T00:00:01.000Z,M1,Cycle_Start,,",
    "2024-05-01T00:00:01.140Z,M1,AS_Check,AS_VacuumUnits,75.55",       # err >70
    "2024-05-01T00:00:01.240Z,M1,Pick_Check,PP_VacuumUnits,75.0",      # boundary: ok
    "2024-05-01T00:00:01.240Z,M1,Pick_Check,PP_Force,130.5",           # err >120
    "2024-05-01T00:00:01.290Z,M1,AS_Blowoff_Check,AS_VacuumUnits,449.99",  # err <450
    "2024-05-01T00:00:01.520Z,M1,Place_Check,PP_Force,60.0",           # boundary: ok
    "2024-05-01T00:00:01.520Z,M1,Place_Check,PP_VacuumUnits,500.0",
    "2024-05-01T00:00:01.600Z,M1,Cycle_End,,",
    # cycle 2 starts in the same millisecond cycle 1 ends (tie-break)
    "2024-05-01T00:00:01.600Z,M1,Cycle_Start,,",
    "2024-05-01T00:00:01.740Z,M1,AS_Check,AS_VacuumUnits,60.0",
    "2024-05-01T00:00:01.740Z,M1,AS_Check,AS_VacuumUnits,notanumber",  # NULL value
    "2024-05-01T00:00:02.200Z,M1,Cycle_End,,",
    # unparseable timestamp: dropped by cleanse
    "garbage-timestamp,M1,AS_Check,AS_VacuumUnits,55.0",
    # cycle 3: next hour, no Cycle_End (start==end → 0.0s)
    "2024-05-01T01:00:00.500Z,M1,Cycle_Start,,",
    "2024-05-01T01:00:00.640Z,M1,AS_Check,AS_VacuumUnits,71.0",        # err >70
    # second machine
    "2024-05-01T00:00:05.000Z,M2,Cycle_Start,,",
    "2024-05-01T00:00:05.140Z,M2,AS_Check,AS_VacuumUnits,65.0",
    "2024-05-01T00:00:05.600Z,M2,Cycle_End,,",
]


@pytest.fixture(scope="module")
def fixture_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("golden") / "day.csv"
    p.write_text("\n".join(FIXTURE_ROWS) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def outputs(spark, fixture_csv):
    raw = da.read_events_csv(spark, fixture_csv)
    enriched, summary = da.transform(raw, DEFAULT_RULES)
    return enriched.collect(), summary.collect()


def test_cleanse_drops_bad_timestamp_only(outputs):
    events, _ = outputs
    assert len(events) == 18  # 19 data rows - 1 unparseable timestamp


def test_cycle_assignment_and_tiebreak(outputs):
    events, _ = outputs
    by_key = {}
    for r in events:
        by_key.setdefault((r.machine_id, r.cycle_seq), []).append(r)
    # pre-cycle event stays in cycle 0
    assert len(by_key[("M1", 0)]) == 1
    # cycle 1 contains its Cycle_End even though cycle 2 starts same ms
    c1_names = [r.event_name for r in by_key[("M1", 1)]]
    assert c1_names.count("Cycle_End") == 1 and c1_names.count("Cycle_Start") == 1
    assert len(by_key[("M1", 1)]) == 8
    assert len(by_key[("M1", 2)]) == 4
    assert len(by_key[("M1", 3)]) == 2
    assert len(by_key[("M2", 1)]) == 3


def test_cycle_times(outputs):
    events, _ = outputs
    times = {
        (r.machine_id, r.cycle_seq): r.cycle_time_seconds
        for r in events
        if r.event_name == "Cycle_Start"
    }
    assert times[("M1", 1)] == pytest.approx(0.6)
    assert times[("M1", 2)] == pytest.approx(0.6)
    assert times[("M1", 3)] == 0.0  # missing end marker → start==end
    assert times[("M2", 1)] == pytest.approx(0.6)
    # pre-cycle row has no cycle time
    pre = [r for r in events if r.cycle_seq == 0][0]
    assert pre.cycle_time_seconds is None


def test_error_flags_boundaries(outputs):
    events, _ = outputs
    flagged = {
        (r.event_name, r.parameter_name, r.value): r.is_error
        for r in events
        if r.value is not None
    }
    assert flagged[("AS_Check", "AS_VacuumUnits", 75.55)] == 1
    assert flagged[("Pick_Check", "PP_VacuumUnits", 75.0)] == 0  # strict >
    assert flagged[("Pick_Check", "PP_Force", 130.5)] == 1
    assert flagged[("AS_Blowoff_Check", "AS_VacuumUnits", 449.99)] == 1
    assert flagged[("Place_Check", "PP_Force", 60.0)] == 0  # range inclusive
    assert flagged[("AS_Check", "AS_VacuumUnits", 71.0)] == 1
    # NULL value is never an error
    nulls = [r for r in events if r.value is None and r.parameter_name != ""]
    assert all(r.is_error == 0 for r in nulls)


def test_hourly_summary_golden(outputs):
    _, summary = outputs
    rows = {(str(r.summary_date), r.hour_of_day, r.machine_id): r for r in summary}
    assert set(rows) == {
        ("2024-05-01", 0, "M1"),
        ("2024-05-01", 1, "M1"),
        ("2024-05-01", 0, "M2"),
    }
    h0 = rows[("2024-05-01", 0, "M1")]
    assert h0.cycle_count == 2
    assert h0.avg_cycle_time_seconds == pytest.approx(0.6)
    assert h0.avg_pick_force == pytest.approx(130.5)
    assert h0.min_place_force == pytest.approx(60.0)
    assert h0.as_vacuum_error_count == 1
    assert h0.as_release_error_count == 1
    assert h0.pick_force_error_count == 1
    assert h0.pp_vacuum_error_count == 0
    assert h0.place_force_error_count == 0
    assert h0.total_error_count == 3

    h1 = rows[("2024-05-01", 1, "M1")]
    assert h1.cycle_count == 1
    assert h1.avg_cycle_time_seconds == 0.0
    # zero-fill: no force measurements that hour
    assert h1.avg_pick_force == 0.0 and h1.max_place_force == 0.0
    assert h1.as_vacuum_error_count == 1
    assert h1.total_error_count == 1

    m2 = rows[("2024-05-01", 0, "M2")]
    assert m2.cycle_count == 1
    assert m2.total_error_count == 0


def test_empty_rules_all_ok(spark, fixture_csv):
    raw = da.read_events_csv(spark, fixture_csv)
    enriched, _ = da.transform(raw, {})
    assert all(r.is_error == 0 for r in enriched.collect())


def test_idempotent_summary_rerun(spark, fixture_csv, tmp_path):
    out = str(tmp_path / "warehouse")
    first = da.run(spark, fixture_csv, out, DEFAULT_RULES)
    second = da.run(spark, fixture_csv, out, DEFAULT_RULES)
    # summary is replaced per-partition, not duplicated (D1/D4 fix)
    assert first["summary_rows"] == second["summary_rows"] == 3
    # enriched events append (documented reference behavior)
    assert second["events"] == 2 * first["events"]
    summary = spark.read.parquet(f"{out}/hourly_machine_summary")
    assert summary.count() == 3
