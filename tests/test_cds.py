"""The driver's class-data-sharing archive (``cds.py``, ``session.get_spark``).

The unit tests cover the archive key, the conf-dir rule, the sweep and the
publish rule without a JVM. The session tests start real drivers in child
processes, with a 1g heap and a cache dir of their own, in two phases:

1. on an empty cache, two sessions dump at once, and a third has its
   dumping JVM killed with SIGKILL;
2. a dumping session exits through perfbench's stop path while, one
   after the other, the published archive is mapped as is, with a
   flipped byte in its body, and truncated.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from projekt_data_engineering_iubh_spark import cds

REPO = Path(__file__).resolve().parent.parent

# ---------------------------------------------------------------------------
# unit tests (no JVM)
# ---------------------------------------------------------------------------


def _fake_homes(tmp_path: Path) -> tuple[str, str]:
    java = tmp_path / "jdk"
    (java / "lib" / "server").mkdir(parents=True)
    (java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    for name in ("libjvm.so", "classes.jsa", "classes_nocoops.jsa"):
        (java / "lib" / "server" / name).write_bytes(b"x" * 8)
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (spark / "jars" / name).write_bytes(b"jar")
    return str(java), str(spark)


def _key(java: str, spark: str, heap: str, extra: str = "") -> str:
    cp = cds.driver_classpath(spark, "/conf", extra)
    return cds.archive_key(java, cp, cds.compressed_oops(heap, ""))


def test_key_separates_oops_modes_and_class_paths(tmp_path):
    java, spark = _fake_homes(tmp_path)
    base = _key(java, spark, "1g")
    assert _key(java, spark, "2g") == base  # same compressed-oops mode
    assert _key(java, spark, "32g") != base  # 32g runs without them
    assert cds.compressed_oops("31g", "") and not cds.compressed_oops("32g", "")
    extra = tmp_path / "extra.jar"
    extra.write_bytes(b"jar")
    assert _key(java, spark, "1g", str(extra)) != base
    (Path(spark) / "jars" / "c.jar").write_bytes(b"jar")
    added = _key(java, spark, "1g")
    assert added != base
    os.utime(Path(spark) / "jars" / "c.jar", ns=(1, 1))
    assert _key(java, spark, "1g") != added  # mtime counts
    before = _key(java, spark, "1g")
    (Path(java) / "lib" / "server" / "libjvm.so").write_bytes(b"y" * 9)
    assert _key(java, spark, "1g") != before  # another JDK build
    assert cds.heap_bytes("512m") == 512 << 20 and cds.heap_bytes("1024") == 1 << 30


def test_conf_dir_rule(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    plan = cds.plan_launch({"spark.driver.memory": "1g"}, 0.0)
    assert plan.state == "dumping", plan
    assert plan.conf_dir and not os.listdir(plan.conf_dir)
    assert f"-XX:ArchiveClassesAtExit={plan.tmp}" in plan.java_opts
    assert "-Xlog:cds*=off" in plan.java_opts  # keeps CDS warnings off stdout
    (conf_dir / "spark-defaults.conf").write_text("spark.x 1\n")
    plan = cds.plan_launch({"spark.driver.memory": "1g"}, 0.0)
    assert plan.state.startswith("off:conf-dir-not-empty"), plan
    assert plan.java_opts == "" and plan.conf_dir is None


def test_sweep_removes_files_of_ended_owners(tmp_path):
    done = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    dead = int(done.stdout)
    stale = tmp_path / f"k1.{dead}-aa.tmp"
    live = tmp_path / f"k1.{os.getppid()}-bb.tmp"
    archive = tmp_path / "k1.jsa"
    for p in (stale, live, archive):
        p.write_bytes(b"x")
    assert cds.sweep(str(tmp_path), 0.0) == [str(stale)]
    assert live.exists() and archive.exists()


@pytest.mark.parametrize("exit_code,written,published", [
    (0, True, True), (0, False, False), (3, True, False), (-9, True, False),
])
def test_publish_only_a_written_dump_of_a_clean_exit(tmp_path, exit_code, written,
                                                     published):
    p = cds.Plan("dumping", "k2", str(tmp_path / "k2.jsa"),
                 log_path=str(tmp_path / "k2.1-aa.log"), tmp=str(tmp_path / "k2.1-aa.tmp"))
    Path(p.tmp).write_bytes(b"archive")
    Path(p.log_path).write_text(cds.WRITTEN_LINE + "\n" if written else "dumping\n")
    code = f"import os, signal; os.kill(os.getpid(), {-exit_code})" if exit_code < 0 \
        else f"raise SystemExit({exit_code})"
    proc = subprocess.Popen([sys.executable, "-c", code])
    proc.wait()
    assert cds.publish(p, proc) is published
    assert Path(p.archive).exists() is published
    assert not Path(p.tmp).exists() and not Path(p.log_path).exists()
    assert (tmp_path / "k2.dump.log").exists() is published


# ---------------------------------------------------------------------------
# sessions in child processes
# ---------------------------------------------------------------------------

_CHILD = textwrap.dedent("""
    import json, logging, os, signal, sys, time
    sys.path.insert(0, {repo!r})
    records, warns = [], []

    class Keep(logging.Handler):
        def emit(self, r):
            if hasattr(r, "cds"):
                records.append({{k: getattr(r, k) for k in
                                 ("gateway_s", "context_s", "cds", "cds_key")}})
            elif r.levelno >= logging.WARNING:
                warns.append(r.getMessage())

    pkg = logging.getLogger("projekt_data_engineering_iubh_spark")
    pkg.setLevel(logging.INFO)
    pkg.addHandler(Keep())
    from pyspark import SparkContext
    from projekt_data_engineering_iubh_spark.plans.registry import all_queries
    from projekt_data_engineering_iubh_spark.session import get_spark

    spark = get_spark("cds-probe")
    get_spark("cds-probe")  # reuses the session: no second record
    rows = all_queries()["q1_pricing_summary"].fn(spark, {sf!r}).collect()
    exit_mode = sys.argv[1]
    proc = SparkContext._gateway.proc
    spark.stop()
    if exit_mode == "stop-path":
        sys.path.insert(0, os.path.join({repo!r}, "perfbench"))
        from harness import stop_spark_processes
        assert stop_spark_processes() == []
    elif exit_mode == "kill":
        proc.stdin.close()  # the JVM starts its exit, and the dump
        time.sleep(3)
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait()
    print(json.dumps({{"records": records, "warnings": warns,
                      "rows": sorted(repr(tuple(r)) for r in rows)}}))
""")


def _start(cache: Path, exit_mode: str, sf_dir: str) -> subprocess.Popen:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="2")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    code = _CHILD.format(repo=str(REPO), sf=sf_dir)
    return subprocess.Popen([sys.executable, "-c", code, exit_mode], env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _finish(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    lines = out.strip().splitlines()
    res = json.loads(lines[-1])
    res["stdout"] = lines
    return res


def _files(cache: Path, pattern: str) -> list[Path]:
    return sorted((cache / "spark-graft" / "cds").glob(pattern))


def _damage(archive: Path, original: Path, how: str) -> None:
    """Put a damaged copy of ``original`` at ``archive``."""
    data = bytearray(original.read_bytes())
    if how == "flipped":
        data[len(data) // 2] ^= 0xFF
    else:
        del data[8 << 20:]
    archive.write_bytes(data)


@pytest.fixture(scope="module")
def sessions(tmp_path_factory, sf_dir):
    root = tmp_path_factory.mktemp("cds")
    dirs = {name: root / name for name in ("shared", "killed", "stop")}
    first = {"plain-a": _start(dirs["shared"], "plain", sf_dir),
             "plain-b": _start(dirs["shared"], "plain", sf_dir),
             "kill": _start(dirs["killed"], "kill", sf_dir)}
    out = {name: _finish(p) for name, p in first.items()}
    out["published"] = _files(dirs["shared"], "*.jsa")
    # the stop path runs beside one session at a time: perfbench gives the
    # dump 15 s, then 15 s more after SIGTERM
    stop_path = _start(dirs["stop"], "stop-path", sf_dir)
    out["mapped"] = _finish(_start(dirs["shared"], "plain", sf_dir))
    # the empty conf dir is on the class path, so the archive only maps
    # from this cache dir: damage it in place, one way after the other
    [archive] = out["published"]
    original = root / "original.jsa"
    shutil.copyfile(archive, original)
    for how in ("flipped", "truncated"):
        _damage(archive, original, how)
        out[how] = _finish(_start(dirs["shared"], "plain", sf_dir))
        out[how]["left"] = _files(dirs["shared"], "*.jsa")
        out[how]["rejected_logs"] = _files(dirs["shared"], "*.rejected.log")
    out["stop-path"] = _finish(stop_path)
    out["dirs"] = dirs
    return out


def test_concurrent_dumps_publish_one_valid_archive(sessions):
    for name in ("plain-a", "plain-b"):
        [rec] = sessions[name]["records"]  # one record per session
        assert rec["cds"] == "dumping" and rec["cds_key"]
        assert rec["gateway_s"] > 0 and rec["context_s"] > 0
    [archive] = sessions["published"]
    assert archive.name == sessions["plain-a"]["records"][0]["cds_key"] + ".jsa"
    [rec] = sessions["mapped"]["records"]
    assert rec["cds"] == "mapped"
    for d in sessions["dirs"].values():
        assert _files(d, "*.tmp") == [] and _files(d, "*-*.log") == []


def test_stop_path_publishes_the_dump(sessions):
    [rec] = sessions["stop-path"]["records"]
    assert rec["cds"] == "dumping"
    assert [p.name for p in _files(sessions["dirs"]["stop"], "*.jsa")] == [
        rec["cds_key"] + ".jsa"]


def test_stdout_stays_clean(sessions):
    for name in ("stop-path", "plain-a", "mapped"):
        lines = sessions[name]["stdout"]
        assert not [x for x in lines if "[cds" in x or "Skipping" in x], name
        json.loads(lines[-1])


def test_results_identical_with_and_without_archive(sessions):
    rows = sessions["plain-a"]["rows"]
    assert rows
    for name in ("plain-b", "stop-path", "mapped", "flipped", "truncated", "kill"):
        assert sessions[name]["rows"] == rows, name


def test_killed_dump_leaves_nothing_mappable(sessions):
    killed = sessions["dirs"]["killed"]
    assert _files(killed, "*.jsa") == [] and _files(killed, "*.tmp") == []
    assert sessions["kill"]["records"][0]["cds"] == "dumping"


@pytest.mark.parametrize("how", ["flipped", "truncated"])
def test_damaged_archive_is_reported_and_deleted(sessions, how):
    res = sessions[how]
    [rec] = res["records"]
    assert rec["cds"] == "rejected"
    assert res["left"] == [] and res["rejected_logs"]
    archive = str(sessions["published"][0])
    assert any(archive in w for w in res["warnings"]), res["warnings"]
