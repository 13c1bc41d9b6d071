"""The fork-free ``file://`` file system (``localfs.py``, ``artifacts.py``).

The unit tests cover the fallbacks, the jar cache and the publish rule
without a JVM. The session tests start drivers in child interpreters:

* one through ``get_spark`` with a ``chmod`` shim on its ``PATH``. It
  counts the forks of one ``daily_aggregator.run``, one
  ``start_pipeline`` trigger and one ``sessionize_stream`` trigger, then
  compares the modes the new class gives files and dirs with those of
  the class ``file://`` resolved to before (Hive's proxy);
* one vanilla session, as a verification driver creates it, handed to
  ``prepare_session``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

from projekt_data_engineering_iubh_spark import artifacts, localfs

REPO = Path(__file__).resolve().parent.parent

# ---------------------------------------------------------------------------
# unit tests (no JVM)
# ---------------------------------------------------------------------------


@pytest.fixture
def clean_env(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return tmp_path / "cache" / "spark-graft" / "localfs"


def test_no_javac_keeps_hadoops_path(clean_env, tmp_path, monkeypatch, caplog):
    jre = tmp_path / "jre"
    (jre / "bin").mkdir(parents=True)
    (jre / "bin" / "java").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(jre))
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    assert localfs.find_javac() is None
    plan = localfs.plan({"spark.driver.memory": "1g"}, 0.0)
    assert plan.state == "off:no-javac"
    conf = {"spark.driver.extraClassPath": "/x.jar"}
    assert plan.apply(conf) == conf
    assert any("no-javac" in r.getMessage() and r.levelname == "WARNING"
               for r in caplog.records)


def test_compile_error_keeps_hadoops_path(clean_env, tmp_path, caplog):
    broken = tmp_path / "NioLocalFileSystem.java"
    broken.write_text(Path(localfs.SOURCE).read_text().replace("extends LocalFileSystem",
                                                               "extends NoSuchClass"))
    plan = localfs.plan({}, 0.0, source=str(broken))
    assert plan.state.startswith("off:compile-failed:"), plan
    assert "error" in plan.state
    assert plan.apply({}) == {}
    assert sorted(os.listdir(clean_env)) == []  # no jar, no session file
    assert any("NoSuchClass" in r.getMessage() for r in caplog.records)


def test_user_set_impl_wins(clean_env, monkeypatch):
    conf = {localfs.IMPL_KEY: "org.example.MyFs"}
    plan = localfs.plan(conf, 0.0)
    assert plan.state == "off:user-set:org.example.MyFs"
    assert plan.apply(conf) == conf
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       f"--conf {localfs.IMPL_KEY}=org.example.Other pyspark-shell")
    assert localfs.plan({}, 0.0).state == "off:user-set:org.example.Other"
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-class-path /x.jar pyspark-shell")
    assert localfs.plan({}, 0.0).state == "off:submit-args-replace-class-path"
    assert not clean_env.exists()  # nothing compiled


def test_jar_compiled_once_per_key(clean_env, tmp_path):
    first = localfs.plan({}, 0.0)
    assert first.state == "on" and first.compile_s > 0
    again = localfs.plan({}, 0.0)
    assert (again.state, again.jar, again.compile_s) == ("on", first.jar, 0.0)
    assert sorted(os.listdir(clean_env)) == [os.path.basename(first.jar)]
    with zipfile.ZipFile(first.jar) as jar:
        assert sorted(jar.namelist()) == ["sparkgraft/fs/NioLocalFileSystem$Raw.class",
                                          "sparkgraft/fs/NioLocalFileSystem.class"]
    conf = first.apply({"spark.driver.extraClassPath": "/x.jar"})
    assert conf["spark.driver.extraClassPath"] == f"/x.jar{os.pathsep}{first.jar}"
    assert conf[localfs.IMPL_KEY] == localfs.CLASS
    edited = tmp_path / "NioLocalFileSystem.java"
    edited.write_text(Path(localfs.SOURCE).read_text() + "\n// edited\n")
    assert localfs.plan({}, 0.0, source=str(edited)).jar != first.jar


def test_publish_first_publisher_wins(tmp_path):
    final = tmp_path / "k.jar"
    a, b = tmp_path / "k.1-aa.tmp", tmp_path / "k.2-bb.tmp"
    a.write_bytes(b"first")
    b.write_bytes(b"second")
    assert artifacts.publish(str(a), str(final)) is True
    assert artifacts.publish(str(b), str(final)) is False
    assert final.read_bytes() == b"first"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["k.jar"]


# ---------------------------------------------------------------------------
# sessions in child interpreters
# ---------------------------------------------------------------------------

_SHIM = """#!/bin/sh
echo "$@" >> {log}
exec {chmod} "$@"
"""

_CHILD = textwrap.dedent("""
    import json, logging, os, sys
    sys.path.insert(0, {repo!r})
    records = []

    class Keep(logging.Handler):
        def emit(self, r):
            if hasattr(r, "localfs"):
                records.append({{k: getattr(r, k, None)
                                 for k in ("localfs", "localfs_compile_s", "cds")}})

    pkg = logging.getLogger("projekt_data_engineering_iubh_spark")
    pkg.setLevel(logging.INFO)
    pkg.addHandler(Keep())
    from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
    from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES
    from projekt_data_engineering_iubh_spark.pipeline.generate_data import (
        simulate_day, write_csv)
    from projekt_data_engineering_iubh_spark.session import get_spark, prepare_session
    from projekt_data_engineering_iubh_spark.streaming import pipeline_stream as ps
    from projekt_data_engineering_iubh_spark.streaming.sessionize_stream import (
        sessionize_stream)

    work, shim_log = sys.argv[1], sys.argv[2]

    def forks():
        with open(shim_log) as f:
            return len(f.readlines())

    spark = get_spark("localfs-probe")
    prepare_session(spark)
    out = {{"records": records, "forks": {{}}}}
    day = simulate_day("M_fs", "2024-08-01", hours=1.0, seed=5)
    write_csv(day, os.path.join(work, "day.csv"))
    os.makedirs(os.path.join(work, "in"))
    write_csv(day, os.path.join(work, "in", "drop.csv"))

    n = forks()
    da.run(spark, os.path.join(work, "day.csv"), os.path.join(work, "wh"), DEFAULT_RULES)
    out["forks"]["daily_aggregator.run"] = forks() - n
    n = forks()
    q = ps.start_pipeline(spark, os.path.join(work, "in"), os.path.join(work, "rollup"),
                          DEFAULT_RULES, checkpoint_dir=os.path.join(work, "ckpt_rollup"))
    q.processAllAvailable()
    q.stop()
    out["forks"]["start_pipeline"] = forks() - n
    n = forks()
    q = (sessionize_stream(da.cleanse(ps.read_event_stream(spark, os.path.join(work, "in"))))
         .writeStream.outputMode("append").format("parquet")
         .option("path", os.path.join(work, "sessions"))
         .option("checkpointLocation", os.path.join(work, "ckpt_sessions")).start())
    q.processAllAvailable()
    q.stop()
    out["forks"]["sessionize_stream"] = forks() - n
    out["state_files"] = {{
        ckpt: sum(name.endswith(".delta") for _, _, names in
                  os.walk(os.path.join(work, ckpt, "state")) for name in names)
        for ckpt in ("ckpt_rollup", "ckpt_sessions")}}

    jvm = spark.sparkContext._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    root = jvm.java.net.URI("file:///")
    FileSystem, FsPermission = jvm.org.apache.hadoop.fs.FileSystem, \\
        jvm.org.apache.hadoop.fs.permission.FsPermission
    out["session_class"] = FileSystem.get(root, hconf).getClass().getName()
    old = FileSystem.getFileSystemClass("file", jvm.org.apache.hadoop.conf.Configuration())
    out["old_class"] = old.getName()

    perm = FsPermission  # FsPermission(int mode)

    def probe(cls, umask, base):
        conf = jvm.org.apache.hadoop.conf.Configuration(hconf)
        conf.set("fs.file.impl", cls)
        conf.setBoolean("fs.file.impl.disable.cache", True)
        conf.set("fs.permissions.umask-mode", umask)
        fs = FileSystem.get(root, conf)
        assert fs.getClass().getName() == cls
        P = lambda name: jvm.org.apache.hadoop.fs.Path("file://" + os.path.join(base, name))
        fs.mkdirs(P(""))
        fs.create(P("file")).close()
        fs.mkdirs(P("dir"))
        fs.mkdirs(P("dir0750"), perm(0o750))
        fs.mkdirs(P("dir1777"), perm(0o1777))
        fs.create(P("chmod0750")).close()
        fs.setPermission(P("chmod0750"), perm(0o750))
        n = forks()
        fs.mkdirs(P("sticky"))
        fs.setPermission(P("sticky"), perm(0o1777))
        fs.create(P("setuid")).close()
        fs.setPermission(P("setuid"), perm(0o4750))
        special_forks = forks() - n
        fs.create(P("dst")).close()
        fs.create(P("src")).close()
        renamed = fs.rename(P("src"), P("dst"))
        try:
            fs.setPermission(P("missing"), perm(0o644))
            missing = "no error"
        except Exception as e:
            ioe = jvm.java.lang.Class.forName("java.io.IOException")
            missing = "IOException" if ioe.isInstance(e.java_exception) else repr(e)
        modes = {{name: oct(os.stat(os.path.join(base, name)).st_mode & 0o7777)
                 for name in sorted(os.listdir(base))}}
        return {{"modes": modes, "renamed_onto_file": renamed, "missing": missing,
                 "special_forks": special_forks}}

    out["probes"] = {{f"{{cls}}/{{umask}}": probe(cls, umask,
                                                os.path.join(work, "modes", cls, umask))
                      for cls in (out["old_class"], out["session_class"])
                      for umask in ("022", "027")}}
    spark.stop()
    print(json.dumps(out))
""")

_VANILLA = textwrap.dedent("""
    import json, logging, sys
    sys.path.insert(0, {repo!r})
    records = []

    class Keep(logging.Handler):
        def emit(self, r):
            if hasattr(r, "localfs"):
                records.append(r.localfs)

    pkg = logging.getLogger("projekt_data_engineering_iubh_spark")
    pkg.setLevel(logging.INFO)
    pkg.addHandler(Keep())
    from pyspark.sql import SparkSession
    from projekt_data_engineering_iubh_spark.session import prepare_session

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false") \\
        .getOrCreate()
    prepare_session(spark)
    spark.stop()
    print(json.dumps(records))
""")


@pytest.fixture(scope="module")
def sessions(tmp_path_factory):
    root = tmp_path_factory.mktemp("localfs")
    shim_dir, work = root / "shim", root / "work"
    shim_dir.mkdir()
    work.mkdir()
    shim_log = root / "chmod.log"
    shim_log.write_text("")
    chmod = subprocess.run(["sh", "-c", "command -v chmod"], capture_output=True,
                           text=True, check=True).stdout.strip()
    (shim_dir / "chmod").write_text(_SHIM.format(log=shim_log, chmod=chmod))
    (shim_dir / "chmod").chmod(0o755)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2",
               PATH=f"{shim_dir}{os.pathsep}{os.environ['PATH']}")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    procs = {
        "probe": subprocess.Popen(
            [sys.executable, "-c", _CHILD.format(repo=str(REPO)), str(work), str(shim_log)],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True),
        "vanilla": subprocess.Popen(
            [sys.executable, "-c", _VANILLA.format(repo=str(REPO))],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True),
    }
    out = {}
    for name, proc in procs.items():
        stdout, stderr = proc.communicate(timeout=900)
        assert proc.returncode == 0, stderr[-3000:]
        out[name] = json.loads(stdout.strip().splitlines()[-1])
    return out


def test_get_spark_session_reports_on(sessions):
    start, prepared = sessions["probe"]["records"]
    assert start["localfs"] == "on" and start["localfs_compile_s"] >= 0
    assert start["cds"]  # the start record, not the prepare record
    assert prepared["localfs"] == "on"


def test_vanilla_session_reports_off(sessions):
    assert sessions["vanilla"] == ["off:not-launched-by-get_spark"]


def test_file_scheme_resolves_to_the_new_class(sessions):
    probe = sessions["probe"]
    assert probe["session_class"] == localfs.CLASS
    assert probe["old_class"] == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"


def test_writes_and_triggers_fork_no_chmod(sessions):
    probe = sessions["probe"]
    assert probe["forks"] == {"daily_aggregator.run": 0, "start_pipeline": 0,
                              "sessionize_stream": 0}
    # the triggers wrote state versions, each of which forked before
    assert probe["state_files"]["ckpt_rollup"] > 0
    assert probe["state_files"]["ckpt_sessions"] > 0


@pytest.mark.parametrize("umask", ["022", "027"])
def test_modes_match_hadoops_own_path(sessions, umask):
    probes = sessions["probe"]["probes"]
    old = probes[f"{sessions['probe']['old_class']}/{umask}"]
    new = probes[f"{localfs.CLASS}/{umask}"]
    assert new["modes"] == old["modes"]
    assert {k: v for k, v in new.items() if k != "special_forks"} == \
        {k: v for k, v in old.items() if k != "special_forks"}
    assert new["missing"] == "IOException"
    assert new["renamed_onto_file"] is False  # HDFS's rule, as Hive's class
    # FsPermission keeps the sticky bit and drops setuid/setgid, so only
    # the sticky chmod takes Hadoop's path on the new class
    assert new["special_forks"] == 1 < old["special_forks"]
    modes = new["modes"]
    assert modes["sticky"] == "0o1777" and modes["setuid"] == "0o750"
    assert modes["dir1777"] == modes["dir"]  # mkdirs drops the sticky bit
    assert modes["dir0750"] == "0o750" and modes["chmod0750"] == "0o750"
    assert modes[".file.crc"] == modes["file"]
