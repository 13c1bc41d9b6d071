"""Streaming hourly rollup: the A2/A3 aggregation under event time.

Watermarked tumbling-window aggregation over the event stream; late rows
beyond the watermark are dropped (the batch reference assumes a complete
daily file, so lateness is a new knob — default 1 hour).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hourly_rollup_stream(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """events readStream → watermark → 1h tumbling window per user.

    Output schema mirrors the batch hourly rollup (window struct instead
    of date+hour columns). Works identically on a batch DataFrame, which
    is how tests pin streaming results to the batch oracle.
    """
    is_purchase = F.col(type_col) == "purchase"
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("hour_window"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(is_purchase, 1).otherwise(0)).alias("n_purchases"),
            F.sum(F.when(is_purchase, F.col(value_col))).alias("purchase_value"),
            F.sum(F.when(F.col(type_col) == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
    )


def write_idempotent_hourly(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """foreachBatch sink: per-partition overwrite keyed by (date, hour) of
    the window start. The hour must be part of the key because append mode
    emits different hours of the same date in different batches — a
    date-grained overwrite would clobber previously emitted hours (see
    pipeline_stream.write_summary_batch)."""
    (
        batch_df.withColumn("summary_date", F.to_date(F.col("hour_window.start")))
        .withColumn("hour_of_day", F.hour(F.col("hour_window.start")))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("summary_date", "hour_of_day")
        .parquet(output_dir)
    )
