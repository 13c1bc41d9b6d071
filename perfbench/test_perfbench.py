"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Unit tests of the statistics, self-time and op-counting rules, the
seeded inputs, and smoke runs of every workload at tiny sizes (each
starts a Spark session, so they take tens of seconds on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

from harness import (  # noqa: E402
    OpCounter,
    prefix_self_times,
    quartiles,
    stop_spark_processes,
    tail_percentile,
)

WORKLOADS = ("machine", "llm_curation")


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert round(n * (100 - p) / 100, 6) >= 10


def test_quartiles_match_statistics():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, q2, q3 = quartiles(vals)
    assert [q1, q2, q3] == statistics.quantiles(vals, n=4)
    assert q2 == statistics.median(vals)


def test_prefix_self_times_are_consecutive_differences():
    got = prefix_self_times([("scan", 100.0), ("sessionize", 250.0), ("rules", 240.0)])
    assert got == {"scan": 100.0, "sessionize": 150.0, "rules": -10.0}
    assert sum(got.values()) == 240.0


def test_failed_ops_count_exceptions_and_wrong_outputs():
    ops = OpCounter()
    assert ops.run("ok", lambda: 7) == 7
    assert ops.run("boom", lambda: 1 / 0) is None
    ops.record(False, "wrong output")
    ops.record(True)
    assert (ops.attempted, ops.failed) == (4, 2)
    assert ops.errors[0].startswith("boom: ZeroDivisionError")
    assert ops.errors[1] == "wrong output"


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_stop_spark_processes_ends_children_and_grandchildren():
    proc = subprocess.Popen(["bash", "-c", "sleep 60 & sleep 60 & wait"])
    for _ in range(100):
        kids = [int(p) for p in os.listdir("/proc") if p.isdigit() and _running(int(p))
                and open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()[1] == str(proc.pid)]
        if len(kids) == 2:
            break
        time.sleep(0.05)
    assert len(kids) == 2
    assert stop_spark_processes(timeout_s=5.0) == []
    assert proc.poll() is not None
    assert not any(_running(p) for p in kids)


def _survivors(work_root: str) -> list[int]:
    """Processes whose environment points into the benchmark's work dir
    (the JVM and Python workers a run starts)."""
    out = []
    for p in os.listdir("/proc"):
        try:
            with open(f"/proc/{p}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if work_root.encode() in env and _running(int(p)):
            out.append(int(p))
    return out


def test_corpus_is_seeded(tmp_path):
    import inputs

    a = inputs.corpus(str(tmp_path / "a"), 7, n_docs=50, n_vecs=32, dup_pairs=3)
    b = inputs.corpus(str(tmp_path / "b"), 7, n_docs=50, n_vecs=32, dup_pairs=3)
    c = inputs.corpus(str(tmp_path / "c"), 8, n_docs=50, n_vecs=32, dup_pairs=3)
    for t in ("documents", "embeddings"):
        pa = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert pa == (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert pa != (tmp_path / "c" / f"{t}.parquet").read_bytes()
    assert a.exact_dup_pairs == b.exact_dup_pairs

    import pyarrow.parquet as pq

    docs = pq.read_table(a.sf_dir + "/documents.parquet").to_pandas().set_index("doc_id")
    assert sorted(docs.index) == list(range(50))
    for kept, dropped in a.exact_dup_pairs:
        assert kept < dropped and docs.text[kept] == docs.text[dropped]
    emb = pq.read_table(a.sf_dir + "/embeddings.parquet").to_pandas()
    assert sorted(emb.vec_id) == list(range(32))


def test_drops_cover_every_row_in_five_minute_slices(tmp_path):
    import inputs

    days = inputs.simulate_machines(3, machines=2, hours=0.25)
    drops = inputs.stage_drops(days, str(tmp_path))
    assert sum(len(rows) for _, _, rows in drops) == sum(len(d.rows) for d in days)
    for hidden, visible, rows in drops:
        assert os.path.basename(hidden).startswith(".") and os.path.exists(hidden)
        assert not os.path.exists(visible)
        assert len({inputs.minute_of_day(r[0]) // inputs.DROP_MINUTES for r in rows}) == 1


def _bench(args, out_dir, cwd=REPO):
    """Run the benchmark with its output in files, not pipes: a pipe would
    make this wait for every process that inherited it, hiding survivors."""
    with open(out_dir / "stdout", "w+") as out, open(out_dir / "stderr", "w+") as err:
        proc = subprocess.run([sys.executable, "perfbench/run.py", *args],
                              cwd=cwd, stdout=out, stderr=err, timeout=600)
        out.seek(0)
        err.seek(0)
        proc.stdout, proc.stderr = out.read(), err.read()
    return proc


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run(workload, trace, tmp_path):
    proc = _bench(["--workload", workload, "--seed", "3", "--seconds", "1",
                   "--trace", str(trace), "--tiny", "--spans-dir", str(tmp_path)], tmp_path)
    assert _survivors(os.path.join(REPO, ".perfbench_work")) == []
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, proc.stderr[-3000:]
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    wanted = cfg["per_layer"] if trace else cfg["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        spans = tmp_path / f"{workload}-seed3-spans.jsonl"
        recs = [json.loads(line) for line in spans.read_text().splitlines()]
        assert recs and all(r["end"] >= r["start"] for r in recs)
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(REPO, ".perfbench_work"))


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "machine",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
