"""The die-bonder daily batch pipeline, reimplemented Spark-first.

Semantics match ``/root/reference/src/daily_aggregator.py`` stage for
stage — CSV cleanse (:161-168), cycle sessionization (:32-67), threshold
errors (:70-116), enriched-event output (:173-188), hourly summary
(:193-265) — with the four deliberate fixes SURVEY.md §7C calls out:

1. **Stable ordering** — the reference tiebreaks equal timestamps with
   ``monotonically_increasing_id`` (:33), which varies with partitioning.
   Here the order is (event_timestamp, marker_rank, parameter_name): a
   ``Cycle_End`` sharing a millisecond with the next ``Cycle_Start`` (the
   generator emits exactly that) sorts End < measurements < Start, which
   reproduces file order deterministically on any partitioning.
2. **Cached shared subtree** — the reference recomputes the whole lineage
   for its second write action (SURVEY.md §3 step 7); ``run`` persists one
   frame, the flagged events joined to their cycle's start and duration,
   and both sinks read it.
3. **Idempotent summary** — the README documents a staging+merge the code
   never had (D1/D4); the parquet sink overwrites per ``summary_date``
   partition (re-running a day replaces it, byte-identical), and the JDBC
   sink does staging-overwrite + ``INSERT … ON CONFLICT DO UPDATE``
   (sources/jdbc.py).
4. **Exact durations** — cycle time is integer-µs difference / 1e6 (not a
   double-epoch subtraction), then rounded to 3dp like the reference.

Two further OUTPUT-SCHEMA deviations, also deliberate:

5. **``total_error_count`` is kept** in the hourly summary — the
   reference computes it (:256) and then drops it from the final select
   (:256-265); keeping it costs nothing (same aggregation pass) and the
   serving layer uses it.
6. **``value`` is rounded to 2dp** in the enriched-event output — the
   reference writes the raw float and lets Postgres ``NUMERIC(7,2)``
   round on insert (:173-188 + init_db.sql); the parquet sink has no
   column type to do that, so the rounding is applied in the plan to
   keep both sinks byte-equivalent.

Scale: the only shuffles are the per-machine window sort and the one
hourly aggregation; the cycle-times side of the join is broadcast (8×
smaller than events, per the fixed cycle shape). One machine-day is
~1.15 M rows; the machine_id key domain is what parallelizes a fleet.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from projekt_data_engineering_iubh_spark.operators.rules import with_error_flag
from projekt_data_engineering_iubh_spark.operators.sessionize import (
    with_session_seq,
    with_session_seq_presorted,
)
from projekt_data_engineering_iubh_spark.pipeline.config import (
    CYCLE_END_EVENT,
    CYCLE_START_EVENT,
    PARAMETER_EVENT_MAPPING,
    TIMESTAMP_FORMAT_INPUT,
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType(), True),
        T.StructField("machine_id", T.StringType(), True),
        T.StructField("event_name", T.StringType(), True),
        T.StructField("parameter_name", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

SUMMARY_COLUMNS = [
    "summary_date",
    "hour_of_day",
    "machine_id",
    "avg_pick_force",
    "max_pick_force",
    "min_pick_force",
    "avg_place_force",
    "max_place_force",
    "min_place_force",
    "as_vacuum_error_count",
    "pp_vacuum_error_count",
    "as_release_error_count",
    "pp_release_error_count",
    "pick_force_error_count",
    "place_force_error_count",
    "cycle_count",
    "min_cycle_time_seconds",
    "max_cycle_time_seconds",
    "avg_cycle_time_seconds",
]


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: schema'd CSV scan — no inference, bad rows surface as NULLs."""
    return spark.read.csv(path, header=True, schema=INPUT_SCHEMA)


def cleanse(raw: DataFrame) -> DataFrame:
    """P1-P6: parse timestamp, numeric cast (invalid → NULL), NULL policy.

    Under ANSI mode (Spark 4 default) plain to_timestamp/cast THROW on bad
    input; the reference ran Spark 3.5 non-ANSI where they yield NULL. The
    ``try_`` variants restore the reference's bad-row-tolerant semantics
    without disabling ANSI for everything else.
    """
    return raw.select(
        "machine_id",
        "event_name",
        F.coalesce("parameter_name", F.lit("")).alias("parameter_name"),
        F.try_to_timestamp("timestamp", F.lit(TIMESTAMP_FORMAT_INPUT)).alias(
            "event_timestamp"
        ),
        F.col("value").try_cast("double").alias("value"),
    ).dropna(subset=["event_timestamp", "machine_id", "event_name"])


def _marker_rank() -> F.Column:
    """Total-order rank for same-millisecond events: a Cycle_End that shares
    its timestamp with the following Cycle_Start must sort first so the
    running count assigns it to the *previous* cycle (file-order parity)."""
    return (
        F.when(F.col("event_name") == CYCLE_END_EVENT, 0)
        .when(F.col("event_name") == CYCLE_START_EVENT, 2)
        .otherwise(1)
    )


def compute_cycles(
    events: DataFrame, *, presorted: bool = False
) -> tuple[DataFrame, DataFrame]:
    """W1 + A1 + P11: assign cycle_seq by running count of Cycle_Start per
    machine; derive per-cycle start timestamp and duration from the marker
    rows. Returns (events_with_cycle_seq, cycle_times).

    ``presorted=True`` selects the two-level prefix-sum sessionizer for
    time-ordered single-machine files (the reference's actual input shape):
    ~4× faster on a 1.1M-row machine-day here, and unlike the window it
    parallelizes across splits instead of serializing on the hot machine
    key. Only valid when file order == time order.
    """
    is_start = F.col("event_name") == CYCLE_START_EVENT
    if presorted:
        with_seq = with_session_seq_presorted(
            events, is_marker=is_start, session_col="cycle_seq"
        )
    else:
        with_seq = with_session_seq(
            events,
            partition_by=["machine_id"],
            order_by=["event_timestamp", _marker_rank(), "parameter_name"],
            is_marker=is_start,
            session_col="cycle_seq",
        )

    cycle_times = (
        with_seq.filter(
            (F.col("cycle_seq") > 0)
            & F.col("event_name").isin(CYCLE_START_EVENT, CYCLE_END_EVENT)
        )
        .groupBy("machine_id", "cycle_seq")
        .agg(
            F.min("event_timestamp").alias("cycle_start_ts"),
            F.max("event_timestamp").alias("cycle_end_ts"),
        )
        .select(
            "machine_id",
            "cycle_seq",
            "cycle_start_ts",
            F.round(
                (F.unix_micros("cycle_end_ts") - F.unix_micros("cycle_start_ts"))
                / F.lit(1000000.0),
                3,
            ).alias("cycle_time_seconds"),
        )
    )
    return with_seq, cycle_times


def flag_errors(events: DataFrame, rules: dict[str, Any]) -> DataFrame:
    """P12: compile the threshold config to one Column predicate."""
    return with_error_flag(events, rules, PARAMETER_EVENT_MAPPING)


def _with_cycle_times(events_err: DataFrame, cycle_times: DataFrame) -> DataFrame:
    """J1: attach each event's cycle start and duration (NULL before the
    first Cycle_Start). Both outputs read these joined rows."""
    return events_err.join(
        F.broadcast(cycle_times), on=["machine_id", "cycle_seq"], how="left"
    )


def _enriched(joined: DataFrame) -> DataFrame:
    """P13 + P5: the enriched-event output columns."""
    return joined.select(
        "event_timestamp",
        "machine_id",
        "event_name",
        "parameter_name",
        F.round("value", 2).alias("value"),
        "is_error",
        "cycle_seq",
        "cycle_time_seconds",
    )


def enriched_events(events_err: DataFrame, cycle_times: DataFrame) -> DataFrame:
    """J1 + P13 + P5: attach per-cycle duration to every event row."""
    return _enriched(_with_cycle_times(events_err, cycle_times))


def _force(name: str, param: str) -> F.Column:
    return F.when(
        (F.col("event_name") == name) & (F.col("parameter_name") == param),
        F.col("value"),
    )


def _err_count(param: str, event: str) -> F.Column:
    return F.sum(
        F.when(
            (F.col("parameter_name") == param)
            & (F.col("event_name") == event)
            & (F.col("is_error") == 1),
            1,
        ).otherwise(0)
    )


def _zero_filled(agg: F.Column, scale: int) -> F.Column:
    """``fillna(0)`` (NULL and NaN → 0), then round to ``scale`` dp."""
    return F.round(F.coalesce(F.nanvl(agg, F.lit(None)), F.lit(0.0)), scale)


def _summary(joined: DataFrame) -> DataFrame:
    """A2 + A3 + P14/P15/P13 over the joined rows, in one aggregation whose
    output is the SUMMARY_COLUMNS (+ total_error_count) in order.

    Every cycle has exactly one Cycle_Start row, so counting those rows is
    the cycle count and the cycle-time stats over them are per-cycle
    stats: the reference's cycle-side and event-side rollups (J2 + J3,
    joined FULL OUTER) have equal key sets and collapse into this pass."""
    cycle_time = F.when(
        F.col("event_name") == CYCLE_START_EVENT, F.col("cycle_time_seconds")
    )
    forces = [
        _zero_filled(fn(_force(event, "PP_Force")), 2).alias(f"{name}_{kind}_force")
        for kind, event in (("pick", "Pick_Check"), ("place", "Place_Check"))
        for name, fn in (("avg", F.avg), ("max", F.max), ("min", F.min))
    ]
    return (
        joined.filter(F.col("cycle_start_ts").isNotNull())
        .groupBy(
            F.to_date("cycle_start_ts").alias("summary_date"),
            F.hour("cycle_start_ts").alias("hour_of_day"),
            "machine_id",
        )
        .agg(
            *forces,
            _err_count("AS_VacuumUnits", "AS_Check").alias("as_vacuum_error_count"),
            _err_count("PP_VacuumUnits", "Pick_Check").alias("pp_vacuum_error_count"),
            _err_count("AS_VacuumUnits", "AS_Blowoff_Check").alias(
                "as_release_error_count"
            ),
            _err_count("PP_VacuumUnits", "Place_Check").alias("pp_release_error_count"),
            _err_count("PP_Force", "Pick_Check").alias("pick_force_error_count"),
            _err_count("PP_Force", "Place_Check").alias("place_force_error_count"),
            F.count(cycle_time).alias("cycle_count"),
            _zero_filled(F.min(cycle_time), 3).alias("min_cycle_time_seconds"),
            _zero_filled(F.max(cycle_time), 3).alias("max_cycle_time_seconds"),
            _zero_filled(F.avg(cycle_time), 3).alias("avg_cycle_time_seconds"),
            F.sum("is_error").alias("total_error_count"),
        )
    )


def hourly_summary(events_err: DataFrame, cycle_times: DataFrame) -> DataFrame:
    """A2 + A3 + J2 + J3 + P14/P15/P13: the 19-column wide hourly rollup.

    Events bucket into the hour their *cycle started* (reference joins
    cycle_start_ts back before extracting date/hour, :207-214)."""
    return _summary(_with_cycle_times(events_err, cycle_times))


def _joined(raw: DataFrame, rules: dict[str, Any]) -> DataFrame:
    """The batch DAG up to the fork into the two outputs."""
    with_seq, cycle_times = compute_cycles(cleanse(raw))
    return _with_cycle_times(flag_errors(with_seq, rules), cycle_times)


def transform(
    raw: DataFrame, rules: dict[str, Any]
) -> tuple[DataFrame, DataFrame]:
    """Full logical pipeline: raw CSV rows → (enriched events, hourly summary)."""
    joined = _joined(raw, rules)
    return _enriched(joined), _summary(joined)


def run(
    spark: SparkSession,
    input_csv: str,
    output_dir: str,
    rules: dict[str, Any],
) -> dict[str, int]:
    """Execute the job against parquet sinks.

    * enriched events → append, partitioned by event date (a daily rerun
      appends duplicates, like the reference DB table — see note in D4);
    * hourly summary → **dynamic partition overwrite** on
      (summary_date, machine_id): re-running a machine-day replaces exactly
      that pair — the idempotent merge the reference documents but never
      implemented (D1), at the granularity its per-machine daily files
      actually arrive in.
    """
    joined = _joined(read_events_csv(spark, input_csv), rules).persist()
    try:
        enriched = _enriched(joined).withColumn(
            "event_date", F.to_date("event_timestamp")
        )
        enriched.write.mode("append").partitionBy("event_date").parquet(
            f"{output_dir}/processed_machine_events"
        )
        # partition by (date, machine): a rerun of one machine-day replaces
        # exactly that pair — partitioning by date alone would clobber other
        # machines' rows for the same day when jobs run per machine-file
        summary = _summary(joined)
        (
            summary.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("summary_date", "machine_id")
            .parquet(f"{output_dir}/hourly_machine_summary")
        )
        # read back with the written schemas: no inference job per read
        n_events = spark.read.schema(enriched.schema).parquet(
            f"{output_dir}/processed_machine_events"
        ).count()
        n_summary = spark.read.schema(summary.schema).parquet(
            f"{output_dir}/hourly_machine_summary"
        ).count()
        return {"events": n_events, "summary_rows": n_summary}
    finally:
        joined.unpersist()


def validate_input_filename(name: str) -> str | None:
    """CLI arg validation (reference P19, daily_aggregator.py:292-301):
    bare ``*.csv`` filename — returns an error string or None."""
    if not name or "/" in name or "\\" in name or not name.lower().endswith(".csv"):
        return f"invalid file name {name!r}: expected a bare *.csv filename"
    return None


def main(argv: list[str]) -> int:
    """``python -m …pipeline.daily_aggregator <file.csv> [data_dir] [out_dir]``

    The reference's spark-submit entry point (§3 entry 1), against parquet
    sinks: file lives under ``data_dir`` (default ./raw_data), outputs
    under ``out_dir`` (default ./warehouse), rules from
    ``SCHWELLWERTE_PATH`` env or built-in defaults.
    """
    import os

    from projekt_data_engineering_iubh_spark.pipeline.config import load_rules
    from projekt_data_engineering_iubh_spark.session import get_spark

    if len(argv) < 2:
        print("usage: daily_aggregator.py <file.csv> [data_dir] [out_dir]")
        return 1
    err = validate_input_filename(argv[1])
    if err:
        print(err)
        return 1
    data_dir = argv[2] if len(argv) > 2 else "./raw_data"
    out_dir = argv[3] if len(argv) > 3 else "./warehouse"
    rules_path = os.environ.get("SCHWELLWERTE_PATH")
    rules = load_rules(rules_path) if rules_path else load_rules(None)
    spark = get_spark(f"daily_aggregator_{argv[1]}")
    try:
        counts = run(spark, os.path.join(data_dir, argv[1]), out_dir, rules)
        print(counts)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    import sys

    raise SystemExit(main(sys.argv))
