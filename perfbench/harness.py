"""Shared machinery of the benchmark: statistics, op counting, spans,
Spark status-store readers, the process-tree RSS sampler and the
shutdown that ends every process a run started.

Everything here observes the engine from outside: the benchmark calls
the package's public functions and reads Spark's own status store and
streaming progress afterwards. Nothing in the package is patched.
"""

from __future__ import annotations

import json
import os
import re
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

# Tail percentiles considered, highest first.
_TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
_MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest standard percentile that leaves at least ten of ``n``
    samples beyond it, or None when no percentile above the median does."""
    for p in _TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 6) >= _MIN_BEYOND:
            return p
    return None


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def prefix_self_times(prefix_ms: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each stage of a lazily evaluated chain, from the
    walls of its cumulative prefixes forced one after another: stage i
    costs prefix i minus prefix i-1 (the first stage costs its prefix)."""
    out, prev = {}, 0.0
    for name, ms in prefix_ms:
        out[name] = ms - prev
        prev = ms
    return out


@dataclass
class OpCounter:
    """Counts operations and the ones that failed: an op fails when it
    raises or when its output check is false."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def run(self, what: str, fn, *args, **kwargs):
        """Call ``fn``; an exception counts as one failed op and yields
        None, so one failed op does not end the run."""
        try:
            out = fn(*args, **kwargs)
        except Exception as exc:  # the benchmark must keep measuring
            self.record(False, f"{what}: {type(exc).__name__}: {exc}")
            return None
        self.record(True)
        return out


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as
    JSONL once the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self_inner):
                self_inner.rec = {
                    "name": name,
                    "start": time.time(),
                    "end": None,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "id": len(tracer.spans),
                    "run_id": tracer.run_id,
                    **attrs,
                }
                tracer.spans.append(self_inner.rec)
                tracer._stack.append(self_inner.rec["id"])
                self_inner.t0 = time.perf_counter()
                return self_inner

            def __exit__(self_inner, *exc):
                self_inner.ms = (time.perf_counter() - self_inner.t0) * 1000.0
                self_inner.rec["end"] = self_inner.rec["start"] + self_inner.ms / 1000.0
                tracer._stack.pop()
                return False

        return _Span()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent -> children, pid -> RSS bytes) of every live process, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if parts[0] == "Z":
            continue
        pid = int(name)
        children.setdefault(int(parts[1]), []).append(pid)
        rss[pid] = int(parts[21]) * os.sysconf("SC_PAGE_SIZE")
    return children, rss


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``, parents before their children."""
    children, _ = _proc_table()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it when it is our own child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait up to ``timeout_s`` for ``pids`` to end; returns those still running."""
    t_end = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < t_end:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def stop_spark_processes(timeout_s: float = 15.0) -> list[int]:
    """End the JVM that PySpark launched and every other process this one
    started (Python workers included), and wait until each has ended.

    ``SparkSession.stop`` leaves the gateway JVM running until the Python
    process exits, and it then shuts down on its own a moment later. Here
    its stdin is closed (it exits on EOF) and waited for; whatever still
    runs gets SIGTERM, then SIGKILL. Returns the pids that could not be
    ended (empty on success)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if isinstance(proc, subprocess.Popen):
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=timeout_s)
        except (OSError, subprocess.TimeoutExpired):
            pass
    if gw is not None:
        try:
            gw.close()
        except (OSError, Py4JError):  # the JVM side is gone already
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = _wait_gone(tree + descendants(os.getpid()), 0.0)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        left = _wait_gone(left, timeout_s)
    return left


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss(root: int) -> int:
        children, rss = _proc_table()
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss(os.getpid()))
        return self.peak_bytes / 1e6


# ---------------------------------------------------------------------------
# Spark status store (the same store the disabled UI would render)
# ---------------------------------------------------------------------------

_EXCHANGE_RE = re.compile(r"\bExchange \w|BroadcastExchange")


def count_exchanges(df) -> int:
    """Shuffle plus broadcast exchanges in the DataFrame's physical plan
    (reused exchanges are not counted)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE_RE.findall(plan))


def planning_ms(df) -> float:
    """Analysis + optimization + physical planning time recorded by the
    DataFrame's QueryPlanningTracker (forces planning if not done yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += float(opt.get().durationMs())
    return total


def files_scanned(df) -> int:
    """Files read by the file scans of an executed DataFrame, from the
    scans' ``numFiles`` SQL metric (walks through adaptive query stages)."""
    total, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numFiles")
            if m.isDefined():
                total += int(m.get().value())
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return total


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    gc_ms: int = 0
    max_task_ms: float = 0.0


class SparkStatus:
    """Reads finished jobs and their stages from Spark's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        best = -1
        for i in range(jobs.size()):
            best = max(best, jobs.apply(i).jobId())
        return best

    def _jobs(self, *, after: int = -1, tag: str | None = None, group: str | None = None):
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= after:
                continue
            if tag is not None:
                tags = j.jobTags()
                if not any(
                    str(tags.apply(k)).endswith("-" + tag) for k in range(tags.size())
                ):
                    continue
            if group is not None:
                g = j.jobGroup()
                if not g.isDefined() or str(g.get()) != group:
                    continue
            out.append(j)
        return out

    def stats(self, *, after: int = -1, tag: str | None = None,
              group: str | None = None, max_task: bool = False) -> JobStats:
        s = JobStats()
        seen: set[int] = set()
        for j in self._jobs(after=after, tag=tag, group=group):
            s.jobs += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                s.stages += 1
                s.shuffle_bytes += st.shuffleWriteBytes()
                s.input_bytes += st.inputBytes()
                s.output_bytes += st.outputBytes()
                s.gc_ms += st.jvmGcTime()
                if max_task:
                    tasks = self.store.taskList(sid, st.attemptId(), 100000)
                    for t in range(tasks.size()):
                        d = tasks.apply(t).duration()
                        if d.isDefined():
                            s.max_task_ms = max(s.max_task_ms, float(d.get()))
        return s
