"""Streaming hourly rollup: the A2/A3 aggregation under event time.

Watermarked tumbling-window aggregation over the event stream; late rows
beyond the watermark are dropped (the batch reference assumes a complete
daily file, so lateness is a new knob — default 1 hour).

This module owns the hourly event-time window and the hourly partition
sink that both hourly rollups (this one and pipeline_stream's) share.

Operational semantics: the watermark is set on the event time floored
to a grid of ``gcd(watermark delay, 1 hour)`` (epoch micros, the grid
``F.window`` uses), so the ``eventTime.watermark`` a progress event
reports is grid-aligned. Every window end plus the delay lies on that
grid, hence ``floor(max) >= end + delay`` exactly when
``max >= end + delay``: each window closes in the same batch as with a
watermark on the raw time, the same late rows are dropped, and every
row falls in the same window. The watermark only moves when a grid line
is crossed, so a drop that crosses none runs one trigger instead of a
data trigger plus an empty eviction batch.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, GroupedData, functions as F

_HOUR_US = 3_600_000_000
_DAY_US = 24 * _HOUR_US
# units Spark's interval strings accept; a month counts 31 days, as in
# Spark's own watermark delay
_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": _HOUR_US,
    "day": _DAY_US,
    "week": 7 * _DAY_US,
    "month": 31 * _DAY_US,
    "year": 12 * 31 * _DAY_US,
}
_GRID_COL = "_watermark_grid_ts"


def _interval_micros(delay: str) -> int:
    """Micros of a watermark delay such as ``"1 hour"`` or
    ``"interval 1 hour 30 minutes"``; raises ValueError on any other
    shape."""
    toks = delay.lower().split()
    if toks[:1] == ["interval"]:
        toks = toks[1:]
    if not toks or len(toks) % 2:
        raise ValueError(f"unsupported watermark delay: {delay!r}")
    total = 0
    for n, unit in zip(toks[::2], toks[1::2]):
        us = _UNIT_US.get(unit.removesuffix("s"))
        if us is None or not n.isdigit():
            raise ValueError(f"unsupported watermark delay: {delay!r}")
        total += int(n) * us
    return total


def hourly_groupby(
    events: DataFrame, ts_col: str, watermark: str, *keys
) -> GroupedData:
    """events → watermark → group by (1 h tumbling ``hour_window``, keys).

    Watermark and window both use ``ts_col`` floored to the
    ``gcd(watermark, 1 hour)`` grid (see the module docstring). The
    window equals the one over the raw column because the grid divides
    the hour; on a batch frame ``withWatermark`` does nothing."""
    grid = math.gcd(_interval_micros(watermark), _HOUR_US)
    us = F.unix_micros(F.col(ts_col))
    floored = F.timestamp_micros(us - F.pmod(us, F.lit(grid)))
    return (
        events.withColumn(_GRID_COL, floored)
        .withWatermark(_GRID_COL, watermark)
        .groupBy(F.window(_GRID_COL, "1 hour").alias("hour_window"), *keys)
    )


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
    return hourly_groupby(events, ts_col, watermark, F.col(user_col)).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(is_purchase, 1).otherwise(0)).alias("n_purchases"),
        F.sum(F.when(is_purchase, F.col(value_col))).alias("purchase_value"),
        F.sum(F.when(F.col(type_col) == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
    )


def write_hour_partitions(
    batch_df: DataFrame, output_dir: str, *keys: str, keep_window: bool = True
) -> None:
    """foreachBatch sink of both hourly rollups: dynamic overwrite of the
    (date, hour of the window start[, keys]) partitions the batch holds.

    The hour must be part of the key because append mode emits different
    hours of the same date in different batches — a date-grained
    overwrite would clobber previously emitted hours. A replayed batch
    (failure recovery) lands on exactly its own partitions → idempotent."""
    out = batch_df.withColumn(
        "summary_date", F.to_date(F.col("hour_window.start"))
    ).withColumn("hour_of_day", F.hour(F.col("hour_window.start")))
    if not keep_window:
        out = out.drop("hour_window")
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("summary_date", "hour_of_day", *keys)
        .parquet(output_dir)
    )


def write_idempotent_hourly(batch_df: DataFrame, batch_id: int, output_dir: str) -> None:
    """foreachBatch sink: per-partition overwrite keyed by (date, hour) of
    the window start (``write_hour_partitions``)."""
    write_hour_partitions(batch_df, output_dir)
