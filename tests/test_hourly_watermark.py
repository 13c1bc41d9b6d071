"""The live machine rollup's grid-aligned watermark, pinned two ways.

* Equivalence: a multi-hour, multi-drop CSV feed with a late replay drop
  runs through ``start_pipeline`` (watermark and window on the event time
  floored to the ``gcd(delay, 1 hour)`` grid) and, side by side, through a
  reference rollup built here on the raw ``event_timestamp``. After every
  drop the output snapshots must be equal, and so must the rows the
  watermark dropped. Delays "1 hour" and "10 minutes", under UTC and under
  a half-hour-offset session time zone (Asia/Kolkata: a floor to local
  hours would land between F.window's epoch-hour boundaries).
* Trigger budget: a drop that crosses no hour line runs one trigger (a
  watermark on the raw time moves on every drop and adds an empty
  eviction batch).
"""

from __future__ import annotations

import datetime as dt

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark.operators.rules import with_error_flag
from projekt_data_engineering_iubh_spark.pipeline.config import (
    DEFAULT_RULES,
    PARAMETER_EVENT_MAPPING,
)
from projekt_data_engineering_iubh_spark.pipeline.daily_aggregator import cleanse
from projekt_data_engineering_iubh_spark.pipeline.generate_data import (
    SimResult,
    simulate_day,
    write_csv,
)
from projekt_data_engineering_iubh_spark.streaming import pipeline_stream as ps

DAY = "2024-08-01"
DELAYS = ("1 hour", "10 minutes")


def _feed(hours: float) -> list[list]:
    """Two machines, every 50th 8-row cycle of a simulated day (~1 k rows
    an hour), time-ordered."""
    rows = []
    for seed, m in ((1, "M_a"), (2, "M_b")):
        sim = simulate_day(m, DAY, hours=hours, seed=seed).rows
        rows += [r for i, r in enumerate(sim) if (i // 8) % 50 == 0]
    return sorted(rows, key=lambda r: r[0])


def _between(rows, lo_min: float, hi_min: float) -> list[list]:
    lo = f"{DAY}T{int(lo_min // 60):02d}:{int(lo_min % 60):02d}"
    hi = f"{DAY}T{int(hi_min // 60):02d}:{int(hi_min % 60):02d}"
    return [r for r in rows if lo <= r[0][:16] < hi]


def _drop(drop_dir, name: str, rows) -> None:
    assert rows, name
    write_csv(SimResult(rows=rows, error_rates={}), drop_dir / f"{name}.csv")


def _key(date, hour, machine) -> tuple:
    return (str(date), int(hour), machine)


def _reference(spark, src: str, delay: str, sink: dict):
    """The rollup on the raw event time: watermark and window on
    ``event_timestamp`` itself; emitted rows collect into ``sink``."""
    flagged = with_error_flag(
        cleanse(ps.read_event_stream(spark, src)), DEFAULT_RULES,
        PARAMETER_EVENT_MAPPING,
    )
    force = lambda ev: F.when(
        (F.col("event_name") == ev) & (F.col("parameter_name") == "PP_Force"),
        F.col("value"),
    )
    agg = (
        flagged.withWatermark("event_timestamp", delay)
        .groupBy(F.window("event_timestamp", "1 hour").alias("w"), "machine_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_error").alias("total_error_count"),
            F.avg(force("Pick_Check")).alias("avg_pick_force"),
            F.avg(force("Place_Check")).alias("avg_place_force"),
        )
    )

    def collect(df, _bid):
        for r in df.select(
            F.to_date("w.start").alias("d"), F.hour("w.start").alias("h"),
            "machine_id", "n_events", "total_error_count", "avg_pick_force",
            "avg_place_force",
        ).collect():
            sink[_key(r.d, r.h, r.machine_id)] = tuple(r)[3:]

    return agg.writeStream.outputMode("append").foreachBatch(collect)


def _snapshot(out) -> dict:
    if not any(out.glob("summary_date=*")):  # nothing emitted yet
        return {}
    return {
        _key(r["summary_date"], r["hour_of_day"], r["machine_id"]): (
            r["n_events"], r["total_error_count"], r["avg_pick_force"],
            r["avg_place_force"],
        )
        for r in pq.read_table(out).to_pylist()
    }


def _dropped(q) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators") or []
    )


def test_grid_watermark_matches_raw_reference_per_drop(spark, tmp_path):
    rows = _feed(hours=3.6)
    # (lo, hi) minutes of each drop: some cross an hour line, some do not;
    # "replay" re-sends 00:00-02:30 once the watermark has passed the
    # first hour, so its oldest rows are late and the rest land in windows
    # still open (under "1 hour") or already closed (under "10 minutes");
    # the last drop, six hours in, closes every window
    nudge = [[f"{DAY}T06{r[0][13:]}", *r[1:]] for r in _between(rows, 0, 5)]
    drops = [_between(rows, lo, hi) for lo, hi in
             [(0, 25), (25, 70), (70, 110), (110, 150), (0, 150),
              (150, 216)]] + [nudge]
    drop_dir = tmp_path / "incoming"
    drop_dir.mkdir()
    # each pair: start_pipeline (parquet sink) and the raw-time reference;
    # a query keeps the session time zone it started under
    cases = [(tz, d) for tz in ("UTC", "Asia/Kolkata") for d in DELAYS
             if tz == "UTC" or d == "1 hour"]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    pairs: list = []
    try:
        for i, (tz, d) in enumerate(cases):
            spark.conf.set("spark.sql.session.timeZone", tz)
            sink: dict = {}
            pairs.append((
                tmp_path / f"out{i}",
                sink,
                ps.start_pipeline(
                    spark, str(drop_dir), str(tmp_path / f"out{i}"),
                    DEFAULT_RULES, checkpoint_dir=str(tmp_path / f"ck{i}"),
                    watermark=d,
                ),
                _reference(spark, str(drop_dir), d, sink)
                .option("checkpointLocation", str(tmp_path / f"ref_ck{i}"))
                .start(),
            ))
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        for n, part in enumerate(drops):
            _drop(drop_dir, f"d{n:02d}", part)
            for case, (out, sink, q, ref) in zip(cases, pairs):
                q.processAllAvailable()
                ref.processAllAvailable()
                assert _snapshot(out) == sink, (n, case)
                assert _dropped(q) == _dropped(ref), (n, case)
        for case, (out, sink, q, _ref) in zip(cases, pairs):
            assert _dropped(q) > 0, case  # the replay hit closed windows
            assert len(sink) >= 8, case  # 4 hours x 2 machines emitted
    finally:
        for *_, q, ref in pairs:
            q.stop()
            ref.stop()
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_drop_within_the_hour_runs_one_trigger(spark, tmp_path):
    rows = _feed(hours=0.7)
    drop_dir = tmp_path / "incoming"
    drop_dir.mkdir()
    q = ps.start_pipeline(
        spark, str(drop_dir), str(tmp_path / "out"), DEFAULT_RULES,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        _drop(drop_dir, "a", _between(rows, 0, 20))
        q.processAllAvailable()
        before = len(q.recentProgress)
        _drop(drop_dir, "b", _between(rows, 20, 40))
        q.processAllAvailable()
        added = q.recentProgress[before:]
        watermark = q.lastProgress["eventTime"]["watermark"]
    finally:
        q.stop()
    assert len(added) == 1, [p["numInputRows"] for p in added]
    assert added[0]["numInputRows"] > 0
    # floor(00:39) - 1 h: grid-aligned, not the raw max minus the delay
    assert watermark == "2024-07-31T23:00:00.000Z"


@pytest.mark.parametrize(
    "text,us",
    [
        ("1 hour", 3_600_000_000),
        ("10 minutes", 600_000_000),
        ("interval 1 hour 30 minutes", 5_400_000_000),
        ("2 DAYS", 172_800_000_000),
        ("0 seconds", 0),
    ],
)
def test_interval_micros(text, us):
    from projekt_data_engineering_iubh_spark.streaming.hourly_stream import (
        _interval_micros,
    )

    assert _interval_micros(text) == us


@pytest.mark.parametrize("text", ["", "1", "1 fortnight", "-1 hour", "1.5 hours"])
def test_interval_micros_rejects(text):
    from projekt_data_engineering_iubh_spark.streaming.hourly_stream import (
        _interval_micros,
    )

    with pytest.raises(ValueError):
        _interval_micros(text)


def test_grid_window_equals_raw_window_on_batch(spark):
    """The floored column lands every row in its raw-time window, for
    times before the epoch too (pmod, not %)."""
    from projekt_data_engineering_iubh_spark.streaming.hourly_stream import (
        hourly_groupby,
    )

    ts = [dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
          dt.datetime(2024, 8, 1, 0, 0), dt.datetime(2024, 8, 1, 0, 59, 59),
          dt.datetime(2024, 8, 1, 10, 35, 1)]
    df = spark.createDataFrame([(t,) for t in ts], "ts timestamp")
    got = sorted(
        tuple(r) for r in hourly_groupby(df, "ts", "10 minutes")
        .count().select("hour_window.start", "count").collect()
    )
    want = sorted(
        tuple(r) for r in df.groupBy(F.window("ts", "1 hour").alias("w"))
        .count().select("w.start", "count").collect()
    )
    assert got == want
