"""Marker-based sessionization (reference W1).

The reference assigns each machine event to a "cycle" by a running count of
``Cycle_Start`` markers per machine (``src/daily_aggregator.py:32-67``):

    Window.partitionBy(machine_id).orderBy(event_timestamp, tiebreak)
    cycle_seq = sum(when(event == CYCLE_START, 1).otherwise(0)).over(w)

Differences from the reference, deliberate:

* The tiebreaker must be a *stable* column (a unique id from the data), not
  ``monotonically_increasing_id()`` — the reference's choice varies with
  partitioning (SURVEY.md §4 "non-determinism") and would break
  oracle-differential tests.
* At 100 TB the window is a single shuffle hash-partitioned by the session
  key; skew (one hot machine) is handled by AQE only for joins, so the
  session key domain must be large (machines/users), which it is. The
  cumulative sum itself is O(n log n) sort per key group — fine while one
  key's events fit a partition (~1e8 rows); beyond that use the two-level
  prefix-sum strategy noted in SURVEY.md §7.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def with_session_seq(
    df: DataFrame,
    *,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    is_marker: Column,
    session_col: str = "session_seq",
) -> DataFrame:
    """Add a running count of marker rows per partition → session id.

    Rows before the first marker get session_seq == 0 (the reference drops
    them with ``filter(cycle_seq > 0)``; callers decide).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    flag = F.when(is_marker, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(session_col, F.sum(flag).over(w))


def _is_file_backed(df: DataFrame) -> bool:
    """True when the frame's plan reads from a file source
    (``inputFiles()`` is the public best-effort file listing)."""
    return bool(df.inputFiles())


def with_session_seq_presorted(
    df: DataFrame,
    *,
    is_marker: Column,
    session_col: str = "session_seq",
) -> DataFrame:
    """Two-level prefix-sum sessionization for time-sorted inputs
    (SURVEY.md §4/§7: the single-hot-key fix).

    ``with_session_seq`` hash-partitions by the session key; a daily file
    containing ONE machine collapses onto one core and the window sort
    serializes ~1M rows. When the input is already ordered on disk (the
    reference's layout: per-machine daily CSVs written in time order,
    one file per machine-day, date-named — ``generate_data.py:55``), the
    running marker count decomposes:

    1. per input BLOCK (file split, identified by ``input_file_name`` +
       ``input_file_block_start``): local running count of markers —
       every core works, no global shuffle;
    2. per block: total marker count → tiny driver-side exclusive prefix
       sum over blocks ordered by (file path, byte offset) — #blocks
       values, not rows;
    3. session id = local count + block offset, broadcast-joined back.

    Ordering contract: LEXICOGRAPHIC file-path order must equal time
    order (true for date-named daily files in one directory; callers
    with other layouts must rename or fall back to
    ``with_session_seq``). Within a file, byte order is data order —
    always true for splittable line formats. Multi-file directories are
    handled since round 3: Spark packs splits into partitions in
    SIZE order, so the offset pass orders by (file, block start), never
    by partition id.

    Guard (r2 ADVICE): ``input_file_name()`` returns ``''`` downstream
    of any exchange, which would silently misorder a repartitioned
    frame. File-backed plans with empty file names are therefore
    REJECTED — call this operator directly on the scan, before any
    shuffle/repartition. Pure in-memory frames (no file source in the
    plan) are allowed, ordered by partition id: there the caller owns
    the ordering contract.
    """
    file_backed = _is_file_backed(df)
    part = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__file", F.input_file_name())
        .withColumn("__bs", F.input_file_block_start())
    )
    w = (
        Window.partitionBy("__pid", "__file", "__bs")
        .orderBy(F.monotonically_increasing_id())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag = F.when(is_marker, F.lit(1)).otherwise(F.lit(0))
    # persisted only for the totals pass; released right after — the
    # final plan recomputes the narrow per-block window (deterministic:
    # split packing and in-split row order are plan-time properties)
    # instead of pinning the whole frame in memory for its lifetime
    local = part.withColumn("__local_seq", F.sum(flag).over(w)).persist()
    try:
        totals = (
            local.groupBy("__pid", "__file", "__bs")
            .agg(F.max("__local_seq").alias("__cnt"))
            .collect()
        )
    finally:
        local.unpersist()
    if file_backed and any(not row["__file"] for row in totals):
        raise ValueError(
            "with_session_seq_presorted: file-backed plan but "
            "input_file_name() is empty — an exchange (repartition/join/"
            "agg) sits between the scan and this operator, so split "
            "order no longer equals data order. Apply the operator "
            "directly on the scan, or use with_session_seq."
        )
    # exclusive prefix sum over blocks in (file path, byte offset) order;
    # in-memory frames ('' file, -1 offset) degrade to partition-id order
    offsets, acc = {}, 0
    for row in sorted(
        totals, key=lambda r: (r["__file"], r["__bs"], r["__pid"])
    ):
        offsets[(row["__pid"], row["__file"], row["__bs"])] = acc
        acc += row["__cnt"] or 0
    spark = df.sparkSession
    offset_df = spark.createDataFrame(
        [(pid, f, bs, off) for (pid, f, bs), off in offsets.items()],
        "__pid int, __file string, __bs long, __offset long",
    )
    out = (
        local.join(F.broadcast(offset_df), ["__pid", "__file", "__bs"])
        .withColumn(session_col, F.col("__local_seq") + F.col("__offset"))
        .drop("__pid", "__file", "__bs", "__local_seq", "__offset")
    )
    return out


def session_bounds(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    session_col: str = "session_seq",
) -> DataFrame:
    """Per-session boundary aggregate (reference A1 + P11).

    Returns one row per (keys…, session) with start/end timestamps, event
    count, and exact integer-µs duration. Duration is computed in integer
    microseconds (``unix_micros``) so results are bit-identical across
    engines — the reference's double-epoch subtraction
    (``src/daily_aggregator.py:56-62``) is FP-order sensitive.
    """
    out = (
        df.filter(F.col(session_col) > 0)
        .groupBy(*keys, session_col)
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "duration_us",
            F.unix_micros(F.col("session_end")) - F.unix_micros(F.col("session_start")),
        )
        .withColumn("duration_sec", F.col("duration_us") / F.lit(1000000.0))
    )
    return out
