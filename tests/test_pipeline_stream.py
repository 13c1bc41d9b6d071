"""End-to-end continuous pipeline: CSV drop-dir → error rollup →
idempotent parquet summary, pinned to the batch computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projekt_data_engineering_iubh_spark import localfs
from projekt_data_engineering_iubh_spark.operators.rules import with_error_flag
from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
from projekt_data_engineering_iubh_spark.pipeline.config import (
    DEFAULT_RULES,
    PARAMETER_EVENT_MAPPING,
)
from projekt_data_engineering_iubh_spark.pipeline.generate_data import (
    SimResult,
    simulate_day,
    write_csv,
)
from projekt_data_engineering_iubh_spark.session import CHECKPOINT_FILE_MANAGER
from projekt_data_engineering_iubh_spark.streaming import pipeline_stream as ps
from projekt_data_engineering_iubh_spark.streaming.sessionize_stream import (
    sessionize_stream,
)
from tests.test_checkpoint_manager import checkpoint_manager


def test_streaming_pipeline_end_to_end(spark, tmp_path):
    drop_dir = tmp_path / "incoming"
    drop_dir.mkdir()
    res = simulate_day("M_cont", "2024-08-01", hours=2.5, seed=3)
    write_csv(res, drop_dir / "day.csv")

    out = str(tmp_path / "summary")
    q = ps.start_pipeline(
        spark,
        str(drop_dir),
        out,
        DEFAULT_RULES,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        # deterministically flush closed windows: emission happens in a
        # batch AFTER the watermark advances, so nudge the source with a
        # later-in-time row (a second machine reporting hours later)
        nudge = simulate_day("M_nudge", "2024-08-01", hours=0.01, seed=4)
        nudge.rows = [
            [r[0].replace("T00:", "T06:"), *r[1:]] for r in nudge.rows[:8]
        ]
        write_csv(nudge, drop_dir / "nudge.csv")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (str(r.summary_date), r.hour_of_day, r.machine_id): (
            r.n_events,
            r.total_error_count,
        )
        for r in spark.read.parquet(out).collect()
    }
    assert got, "stream produced no summary rows"

    # batch equivalent, restricted to windows the watermark closed
    events = da.cleanse(da.read_events_csv(spark, str(drop_dir / "day.csv")))
    flagged = with_error_flag(events, DEFAULT_RULES, PARAMETER_EVENT_MAPPING)
    max_ts = events.agg(F.max("event_timestamp")).collect()[0][0]
    import datetime as dt

    cutoff = max_ts - dt.timedelta(hours=1)
    batch = {
        (str(r.d), r.h, r.machine_id): (r.n_events, r.total_error_count)
        for r in (
            flagged.groupBy(
                F.to_date("event_timestamp").alias("d"),
                F.hour("event_timestamp").alias("h"),
                "machine_id",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("is_error").alias("total_error_count"),
            )
            .collect()
        )
        if dt.datetime.combine(
            dt.date.fromisoformat(str(r.d)), dt.time(hour=r.h)
        ) + dt.timedelta(hours=1) <= cutoff
    }
    assert got.keys() >= batch.keys()
    for k, v in batch.items():
        assert got[k] == v, k
    # errors flowed through: the 2.5h day should flag some
    assert sum(v[1] for v in got.values()) > 0


def test_streaming_pipeline_multidrop_advancing_time(spark, tmp_path):
    """Multi-drop live scenario (the single-drop test is blind to state
    carried wrongly across micro-batches and to re-emission instability):
    chronological chunks of one day arrive as separate files with
    ADVANCING event-time ranges, draining between drops. Checks
    (a) final per-hour counts equal the batch ground truth over all
    closed windows, and (b) a window value never changes after its first
    emission (append mode must emit each finalized window exactly once)."""
    import datetime as dt

    drop_dir = tmp_path / "incoming"
    drop_dir.mkdir()
    res = simulate_day("M_multi", "2024-08-02", hours=4.0, seed=11)
    # 4 chronological chunks, cycle-aligned (8 rows per cycle)
    n = len(res.rows)
    cut = [0, n // 4 // 8 * 8, n // 2 // 8 * 8, 3 * n // 4 // 8 * 8, n]
    chunks = [res.rows[cut[i] : cut[i + 1]] for i in range(4)]
    assert all(chunks)

    out = str(tmp_path / "summary")
    q = ps.start_pipeline(
        spark,
        str(drop_dir),
        out,
        DEFAULT_RULES,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    def snapshot():
        try:
            return {
                (str(r.summary_date), r.hour_of_day, r.machine_id): (
                    r.n_events,
                    r.total_error_count,
                )
                for r in spark.read.parquet(out).collect()
            }
        except Exception:  # no output yet
            return {}

    seen: dict = {}
    try:
        for i, chunk in enumerate(chunks):
            part = SimResult(rows=chunk, error_rates=res.error_rates)
            write_csv(part, drop_dir / f"chunk_{i}.csv")
            q.processAllAvailable()
            snap = snapshot()
            # (b) re-emission stability: previously emitted windows keep
            # their first-emitted values
            for k, v in seen.items():
                assert snap.get(k) == v, f"window {k} changed after emission"
            seen = snap
        # close the remaining windows: much-later nudge row
        nudge = simulate_day("M_nudge2", "2024-08-02", hours=0.01, seed=12)
        nudge.rows = [[r[0].replace("T00:", "T09:"), *r[1:]] for r in nudge.rows[:8]]
        write_csv(nudge, drop_dir / "nudge.csv")
        q.processAllAvailable()
    finally:
        q.stop()

    got = snapshot()
    assert got, "stream produced no summary rows"

    # (a) batch ground truth over the union of all chunk files
    events = da.cleanse(
        da.read_events_csv(spark, str(drop_dir / "chunk_*.csv"))
    )
    flagged = with_error_flag(events, DEFAULT_RULES, PARAMETER_EVENT_MAPPING)
    batch = {
        (str(r.d), r.h, r.machine_id): (r.n_events, r.total_error_count)
        for r in (
            flagged.groupBy(
                F.to_date("event_timestamp").alias("d"),
                F.hour("event_timestamp").alias("h"),
                "machine_id",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("is_error").alias("total_error_count"),
            )
            .collect()
        )
    }
    # every M_multi window is closed by the 09:00 nudge → exact equality
    multi_got = {k: v for k, v in got.items() if k[2] == "M_multi"}
    multi_batch = {k: v for k, v in batch.items() if k[2] == "M_multi"}
    assert multi_got == multi_batch


def test_observed_metrics_match_batch_ground_truth(spark, tmp_path):
    """Observation API (zero-extra-pass monitoring): the per-trigger
    observedMetrics must equal the batch-computed counts over the same
    file — the counters accumulate during the normal rollup execution,
    not via a second scan."""
    drop_dir = tmp_path / "incoming"
    drop_dir.mkdir()
    res = simulate_day("M_obs", "2024-08-01", hours=0.5, seed=11)
    write_csv(res, drop_dir / "day.csv")

    q = ps.start_pipeline(
        spark,
        str(drop_dir),
        str(tmp_path / "summary"),
        DEFAULT_RULES,
        checkpoint_dir=str(tmp_path / "ckpt"),
        observe_name="gate",
    )
    try:
        q.processAllAvailable()
        observed = [
            p["observedMetrics"]["gate"]
            for p in q.recentProgress
            if "gate" in (p.get("observedMetrics") or {})
        ]
    finally:
        q.stop()

    assert observed, "no observed metrics surfaced in progress"
    got_rows = sum(m["input_rows"] for m in observed)
    got_errors = sum(m["flagged_errors"] for m in observed)
    got_nulls = sum(m["null_values"] for m in observed)

    events = da.cleanse(da.read_events_csv(spark, str(drop_dir / "day.csv")))
    flagged = with_error_flag(events, DEFAULT_RULES, PARAMETER_EVENT_MAPPING)
    want = flagged.agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(F.col("is_error").cast("long")).alias("e"),
        F.sum(F.col("value").isNull().cast("long")).alias("n"),
    ).collect()[0]
    assert (got_rows, got_errors, got_nulls) == (want.r, want.e, want.n)


def _assert_restart_is_exactly_once(spark, before, tmp_path):
    """Both streams run two drops in the session ``before``, stop, and
    resume in ``spark``: their rollup partitions and closed sessions equal
    those of one uninterrupted run in ``spark``, each exactly once."""
    # two machines, time-ordered, cut into four drops (mid-cycle cuts
    # carry open sessions and open hours across the restart), then a
    # much later row that closes every hour
    rows = sorted(
        simulate_day("M_RA", "2024-08-03", hours=2.0, seed=21).rows
        + simulate_day("M_RB", "2024-08-03", hours=2.0, seed=22).rows,
        key=lambda r: r[0],
    )
    n = len(rows)
    drops = [rows[i * n // 4 : (i + 1) * n // 4] for i in range(4)]
    nudge = simulate_day("M_Rnudge", "2024-08-03", hours=0.01, seed=23).rows[:8]
    drops.append([[r[0].replace("T00:", "T09:"), *r[1:]] for r in nudge])

    def start(session, run):
        src = str(tmp_path / run / "in")
        rollup = ps.start_pipeline(
            session, src, str(tmp_path / run / "rollup"), DEFAULT_RULES,
            checkpoint_dir=str(tmp_path / run / "ckpt_rollup"),
        )
        sessions = (
            sessionize_stream(da.cleanse(ps.read_event_stream(session, src)))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / run / "sessions"))
            .option("checkpointLocation", str(tmp_path / run / "ckpt_sessions"))
            .start()
        )
        return rollup, sessions

    def land(run, queries, first, last):
        for i in range(first, last):
            part = SimResult(rows=drops[i], error_rates={})
            write_csv(part, tmp_path / run / "in" / f"drop_{i}.csv")
            for q in queries:
                q.processAllAvailable()

    def lives(run, plan):
        for session, first, last in plan:
            queries = start(session, run)
            try:
                land(run, queries, first, last)
            finally:
                for q in queries:
                    q.stop()
        rollup = sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / run / "rollup")).collect()
        )
        sessions = sorted(
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / run / "sessions"))
            .where("closed")
            .collect()
        )
        return rollup, sessions

    (tmp_path / "restarted" / "in").mkdir(parents=True)
    (tmp_path / "single" / "in").mkdir(parents=True)
    got = lives("restarted", [(before, 0, 2), (spark, 2, len(drops))])
    want = lives("single", [(spark, 0, len(drops))])

    rollup, sessions = got
    assert rollup and sessions
    assert {r[0] for r in sessions} >= {"M_RA", "M_RB"}
    assert len({r[-3:] for r in rollup}) == len(rollup)  # one row per partition
    assert len({r[:2] for r in sessions}) == len(sessions)  # one row per session
    assert got == want


def test_restart_onto_filesystem_checkpoint_manager_is_exactly_once(spark, tmp_path):
    """Checkpoints written by Spark's default FileContext manager resume
    under the FileSystem manager ``get_spark`` sets."""
    default_session = spark.newSession()
    default_session.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    assert checkpoint_manager(spark, str(tmp_path)) == CHECKPOINT_FILE_MANAGER
    assert checkpoint_manager(default_session, str(tmp_path)).endswith(
        ".FileContextBasedCheckpointFileManager"
    )
    _assert_restart_is_exactly_once(spark, default_session, tmp_path)


def file_system_class(session) -> str:
    """Class of the ``file://`` file system a query of ``session`` uses."""
    jvm = session.sparkContext._jvm
    conf = session._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    return fs.getClass().getName()


def test_restart_onto_fork_free_local_fs_is_exactly_once(spark, tmp_path):
    """Checkpoints and sinks written through the class ``file://``
    resolves to without ``get_spark``'s setting (Hive's proxy) resume
    under the fork-free local file system."""
    jvm = spark.sparkContext._jvm
    old = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
        "file", jvm.org.apache.hadoop.conf.Configuration()
    ).getName()
    old_session = spark.newSession()
    old_session.conf.set("fs.file.impl", old)
    # the FileSystem cache is keyed by scheme, not class
    old_session.conf.set("fs.file.impl.disable.cache", "true")
    assert file_system_class(spark) == localfs.CLASS
    assert file_system_class(old_session) == old != localfs.CLASS
    _assert_restart_is_exactly_once(spark, old_session, tmp_path)
