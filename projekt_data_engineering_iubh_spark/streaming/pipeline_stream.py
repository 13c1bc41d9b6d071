"""The reference pipeline as a continuous job (SURVEY.md §2.9 realized).

Composition: CSV file stream (new daily drops land in a watched directory)
→ cleanse (same narrow ops as batch) → threshold error flags (same
compiled predicate) → watermarked 1-hour tumbling rollup per machine →
``foreachBatch`` idempotent parquet merge. Cycle sessionization runs as
its own stateful stream (sessionize_stream.py) because it needs per-key
state; this module covers the error/measurement rollup path.

Deviation from batch, by design: the streaming rollup buckets rows by
their own event time, not by their cycle's start hour — cycle-hour
attribution needs closed-cycle state and is exactly what the batch job
(or the sessionize stream feeding a downstream agg) provides. Late rows
beyond the watermark are dropped; the batch reference assumed complete
daily files so lateness is a new, explicit knob.

Operational semantics worth knowing (observed, and inherent to
event-time watermarks):

* the watermark is global per query — dropping a file that REPLAYS an
  already-watermarked time range makes its rows late data (silently
  dropped). Backfills of historical machine-days belong to the batch job;
  the stream is for event time that advances;
* an append-mode window is emitted by a batch that runs AFTER the
  watermark passes its end — with foreachBatch that reliably happens when
  the next data arrives. The trailing windows of a stopped feed flush via
  the batch job, or by nudging the source with newer data;
* the watermark sits on the event time floored to a grid of
  ``gcd(watermark, 1 hour)`` — the hour itself for the default delay
  (``hourly_stream.hourly_groupby``). The reported ``eventTime.watermark``
  is therefore grid-aligned and only moves when a drop crosses a grid
  line. The batch that emits a window and the rows dropped as late are
  the same as with the raw event time, but a drop that crosses no grid
  line runs one trigger, not a data trigger plus an empty eviction
  batch.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from projekt_data_engineering_iubh_spark.operators.rules import with_error_flag
from projekt_data_engineering_iubh_spark.pipeline.config import (
    PARAMETER_EVENT_MAPPING,
)
from projekt_data_engineering_iubh_spark.pipeline.daily_aggregator import (
    INPUT_SCHEMA,
    cleanse,
)
from projekt_data_engineering_iubh_spark.streaming.hourly_stream import (
    hourly_groupby,
    write_hour_partitions,
)


def read_event_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("header", True)
        .csv(input_dir)
    )


def hourly_error_rollup(
    events: DataFrame,
    rules: dict[str, Any],
    *,
    watermark: str = "1 hour",
    observe_name: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window analog of the batch A3 error counters.

    ``observe_name``: attach a named Observation (Spark's zero-extra-pass
    metric channel — the counters accumulate DURING the normal execution,
    no second scan) on the cleansed+flagged rows: per-trigger input row /
    flagged-error / null-value counts surface in each
    StreamingQueryProgress under ``observedMetrics[observe_name]`` — the
    monitoring feed an operator alerts on without touching the data path.
    """
    flagged = with_error_flag(cleanse(events), rules, PARAMETER_EVENT_MAPPING)
    if observe_name is not None:
        zero = F.lit(0).cast("long")
        flagged = flagged.observe(
            observe_name,
            F.count(F.lit(1)).alias("input_rows"),
            F.coalesce(F.sum(F.col("is_error").cast("long")), zero).alias(
                "flagged_errors"),
            F.coalesce(F.sum(F.col("value").isNull().cast("long")), zero).alias(
                "null_values"),
        )
    force = lambda ev, p: F.when(
        (F.col("event_name") == ev) & (F.col("parameter_name") == p),
        F.col("value"),
    )
    return hourly_groupby(
        flagged, "event_timestamp", watermark, F.col("machine_id")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("is_error").alias("total_error_count"),
        F.avg(force("Pick_Check", "PP_Force")).alias("avg_pick_force"),
        F.avg(force("Place_Check", "PP_Force")).alias("avg_place_force"),
    )


def write_summary_batch(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """foreachBatch sink: idempotent per (date, hour, machine) partition
    merge (``hourly_stream.write_hour_partitions``).

    The partition key MUST include the hour here, unlike the batch job's
    (date, machine): append-mode emits each window in whatever batch
    closes it, so consecutive batches write *different hours* of the same
    machine-day — a (date, machine)-grained dynamic overwrite would clobber
    the hours emitted by earlier batches (caught by the e2e test)."""
    write_hour_partitions(batch_df, output_dir, "machine_id", keep_window=False)


def start_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    rules: dict[str, Any],
    *,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    observe_name: str | None = None,
):
    """Wire the continuous pipeline and return the StreamingQuery."""
    agg = hourly_error_rollup(read_event_stream(spark, input_dir), rules,
                              watermark=watermark,
                              observe_name=observe_name)
    return (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda df, bid: write_summary_batch(df, bid, output_dir)
        )
        .start()
    )

# NOTE on the file source: drops into the watched directory must be atomic
# (write to a hidden temp name, rename in). The source polls continuously
# and will read a half-written file, silently truncating that batch —
# pipeline/generate_data.write_csv implements the pattern.
