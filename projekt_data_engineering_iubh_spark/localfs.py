"""The ``file://`` file system of sessions that ``get_spark`` launches.

Without the native Hadoop library, ``RawLocalFileSystem.setPermission``
forks ``chmod`` for every file and directory Spark creates on
``file://``: each stream trigger's offset and commit logs, every state
version and its ``.crc``, every sink and batch commit file. Under a
trigger's load one fork takes 3-16 ms. ``jvm/NioLocalFileSystem.java``
is Hadoop's ``LocalFileSystem`` (checksums kept) with a raw file system
that sets the nine rwx bits through ``java.nio`` instead; sticky, setuid
and setgid modes, and stores without POSIX attributes, take Hadoop's own
path. Its ``rename`` keeps the rule of Hive's ``ProxyLocalFileSystem``,
which ``file://`` resolves to in this install without the setting (from
hive-exec's service file): a rename never replaces an existing file.

``plan`` runs before the driver JVM starts. It compiles the source with
the JDK's ``javac`` against ``$SPARK_HOME/jars/hadoop-client-api-*.jar``
once per key (the source, that jar's stat, the ``javac`` build), caches
the jar beside the CDS archives (``artifacts.py``) and adds it to
``spark.driver.extraClassPath``, with ``spark.hadoop.fs.file.impl``
naming the class. The session start record says ``localfs=on``, or
``off:<reason>`` with Hadoop's path kept: no ``javac`` (a JRE only), a
failed compile, a JVM launched outside ``get_spark``, or a user-set
``fs.file.impl`` (the user's value wins). Scope is ``file://`` only.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import time
import zipfile
from dataclasses import dataclass

from projekt_data_engineering_iubh_spark import artifacts, cds

log = logging.getLogger(__name__)

CLASS = "sparkgraft.fs.NioLocalFileSystem"
SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm",
                      "NioLocalFileSystem.java")
IMPL_KEY = "spark.hadoop.fs.file.impl"
CLASSPATH_KEY = "spark.driver.extraClassPath"
COMPILE_TIMEOUT_S = 120.0
# javac is a short-lived JVM: C1 only and the serial collector start it
# in about a third of the default's wall
_JAVAC_FLAGS = ("-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC", "-proc:none",
                "-nowarn")


@dataclass
class Plan:
    """``state`` is ``on`` or ``off:<reason>``; ``compile_s`` is the wall of
    this session's compile (0 when the jar was cached)."""

    state: str
    jar: str = ""
    compile_s: float = 0.0

    def apply(self, conf: dict[str, str]) -> dict[str, str]:
        """``conf`` with the jar on the driver class path and the class
        set for ``file://``; unchanged when off."""
        if self.state != "on":
            return conf
        cp = [p for p in (conf.get(CLASSPATH_KEY, ""), self.jar) if p]
        return {**conf, CLASSPATH_KEY: os.pathsep.join(cp), IMPL_KEY: CLASS}


def _off(reason: str, warn: bool = False) -> Plan:
    if warn:
        log.warning("the fork-free local file system is off (%s): Hadoop's "
                    "RawLocalFileSystem forks chmod for every file it creates",
                    reason)
    return Plan(f"off:{reason}")


def find_javac() -> str | None:
    """The ``javac`` of the JDK ``spark-class`` runs, else one on PATH."""
    home = cds.java_home()
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def _java_version(home: str | None) -> str:
    """``JAVA_VERSION`` of a JDK's ``release`` file ("" when unreadable)."""
    if not home:
        return ""
    try:
        with open(os.path.join(home, "release")) as f:
            for line in f:
                if line.startswith("JAVA_VERSION="):
                    return line.split("=", 1)[1].strip().strip('"')
    except OSError:
        pass
    return ""


def jar_key(source: bytes, api_jar: str, javac: str) -> str:
    real = os.path.realpath(javac)
    jdk = os.path.dirname(os.path.dirname(real))
    return artifacts.digest([hashlib.sha256(source).hexdigest(),
                             artifacts.stat_line(api_jar),
                             f"{real} {_java_version(jdk)}"])


def _compile(javac: str, source: str, api_jar: str, out: str) -> str:
    """Compile ``source`` into the jar ``out``; returns javac's error text
    ("" on success)."""
    cmd = [javac, *_JAVAC_FLAGS, "-cp", api_jar]
    runtime = _java_version(cds.java_home()).split(".")[0]
    if runtime.isdigit():  # classes the driver's JVM can load
        cmd += ["--release", runtime]
    with tempfile.TemporaryDirectory(prefix="spark-graft-localfs-") as classes:
        try:
            done = subprocess.run([*cmd, "-d", classes, source], capture_output=True,
                                  text=True, timeout=COMPILE_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as exc:
            return str(exc)
        if done.returncode != 0:
            return (done.stderr or done.stdout or f"exit {done.returncode}").strip()
        with zipfile.ZipFile(out, "w") as jar:
            for path in sorted(glob.glob(os.path.join(classes, "**", "*.class"),
                                         recursive=True)):
                jar.write(path, os.path.relpath(path, classes))
    return ""


def plan(conf: dict[str, str], now: float, source: str = SOURCE) -> Plan:
    """Decide, before the driver JVM starts, whether it uses the class,
    compiling and caching its jar when there is none for the key."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return _off("jvm-launched-outside")
    submitted = cds.submit_args(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    user = {**conf, **submitted}.get(IMPL_KEY)
    if user:
        return _off(f"user-set:{user}")
    if CLASSPATH_KEY in submitted:
        return _off("submit-args-replace-class-path", warn=True)
    javac = find_javac()
    if not javac:
        return _off("no-javac", warn=True)
    from pyspark.find_spark_home import _find_spark_home

    api = sorted(glob.glob(os.path.join(_find_spark_home(), "jars",
                                        "hadoop-client-api-*.jar")))
    if not api:
        return _off("no-hadoop-client-api", warn=True)
    directory = artifacts.cache_dir("localfs")
    try:
        os.makedirs(directory, exist_ok=True)
        with open(source, "rb") as f:
            key = jar_key(f.read(), api[-1], javac)
    except OSError as exc:
        return _off(f"{exc.filename}:{exc.strerror}", warn=True)
    jar = os.path.join(directory, f"{key}.jar")
    if os.path.exists(jar):
        return Plan("on", jar)
    artifacts.sweep(directory, now)
    tmp = artifacts.session_stem(directory, key) + ".tmp"
    t0 = time.perf_counter()
    error = _compile(javac, source, api[-1], tmp)
    if error:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        log.warning("javac %s failed; the fork-free local file system is off "
                    "and Hadoop forks chmod for every file it creates:\n%s",
                    source, error)
        return _off(f"compile-failed:{error.splitlines()[0][:200]}")
    try:
        artifacts.publish(tmp, jar)  # else a concurrent session's jar is used
    except OSError as exc:
        return _off(f"publish:{exc.strerror}", warn=True)
    return Plan("on", jar, time.perf_counter() - t0)


def session_state(spark) -> str:
    """``on`` when ``spark``'s Hadoop conf names the class for ``file://``."""
    impl = spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl")
    if impl == CLASS:
        return "on"
    return f"off:{'user-set:' + impl if impl else 'not-launched-by-get_spark'}"
