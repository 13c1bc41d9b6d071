"""The driver JVM's class-data-sharing (AppCDS) archive.

A fresh driver JVM spends most of its first seconds loading, verifying
and linking the ~15k classes a Spark session touches. The JDK can write
the classes a JVM loaded into a *dynamic archive* when it exits
(``-XX:ArchiveClassesAtExit``) and map that archive into later JVMs
(``-XX:SharedArchiveFile``), which then start with those classes already
parsed. ``session.get_spark`` provisions the archive itself; no build
step is needed (Spark 4 runs on JDK 17+, which has both flags):

* an archive for this JVM's key exists: the driver maps it;
* none exists: the driver dumps one at exit into a temp file named after
  this process. Once the JVM has exited 0 and its CDS log says the dump
  was written, this process publishes the file (``artifacts.py``: the
  first publisher wins).

Only a complete archive is ever mapped. A dump killed part-way leaves a
temp file that no session maps, and that a later session sweeps once its
owner has gone. The archives live under
``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/``, one per key:

* the JDK build (``release``, ``libjvm.so`` and its base archives);
* the driver class path: ``spark.driver.extraClassPath`` (which holds
  the jar of ``localfs.py``), the conf dir and the name, size and mtime
  of every jar;
* the compressed-oops mode, which follows the heap size (a JVM with a
  32g heap maps the JDK's ``classes_nocoops.jsa`` as its base, so an
  archive dumped at 1g cannot layer on it).

The JVM drops an archive that does not match without saying so at its
default log level. Each launch therefore logs CDS to a file, and
``verify`` reads it after the launch: an archive the JVM did not map is
deleted with a warning naming it. CDS is off, with the reason recorded,
when the effective Spark conf dir holds real files (the dump refuses a
non-empty directory on the class path), when the JVM was launched
outside this process, or when the options would override the flags.
"""

from __future__ import annotations

import atexit
import glob
import logging
import os
import shlex
import shutil
import subprocess
from dataclasses import dataclass

from projekt_data_engineering_iubh_spark import artifacts

log = logging.getLogger(__name__)

# lines the JVM writes to its CDS log (JDK 17). A region is logged as
# mapped before its checksum is checked, so a mapped archive is one with
# that line and without the JVM's phrase for dropping an archive.
MAPPED_LINE = "Mapped dynamic region #0"
DROPPED_LINE = "Unable to use shared archive"
WRITTEN_LINE = "Written dynamic archive"

# a dump takes 13-17 s for a perfbench-sized session (4 cores); the wait
# at interpreter exit gives it ample room and never hangs the process
DUMP_WAIT_S = 300.0
# largest heap that keeps compressed oops on JDK 17 / x86-64 (measured:
# -Xmx32736m has them, -Xmx32752m does not)
_COOPS_MAX_HEAP = (32 << 30) - (32 << 20)
_CDS_FLAGS = ("SharedArchiveFile", "ArchiveClassesAtExit", "-Xshare")


def cache_dir() -> str:
    return artifacts.cache_dir("cds")


def heap_bytes(spec: str) -> int:
    """Bytes of a Spark memory string (``1g``, ``512m``; no unit = MiB)."""
    s = spec.strip().lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        return int(s[:-1]) * units[s[-1]]
    return int(s) << 20


def compressed_oops(heap: str, java_opts: str) -> bool:
    if "-XX:-UseCompressedOops" in java_opts or "-XX:+UseZGC" in java_opts:
        return False
    return heap_bytes(heap) <= _COOPS_MAX_HEAP


def java_home() -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def archive_key(home: str, classpath: list[str], coops: bool) -> str:
    """Hash of everything the JVM checks before it maps a dynamic archive."""
    lines = [os.path.realpath(home)]
    for name in ("release", "lib/server/libjvm.so", "lib/server/classes.jsa",
                 "lib/server/classes_nocoops.jsa"):
        lines.append(artifacts.stat_line(os.path.join(home, name)))
    for entry in classpath:
        if entry.endswith("*"):  # a jar directory, expanded by the launcher
            lines += [artifacts.stat_line(j) for j in sorted(glob.glob(entry + ".jar"))]
        else:
            lines.append(artifacts.stat_line(entry))
    lines.append(f"coops={coops}")
    return artifacts.digest(lines)


def submit_args(raw: str) -> dict[str, str]:
    """The driver settings in ``PYSPARK_SUBMIT_ARGS``, as Spark conf keys."""
    flags = {
        "--driver-memory": "spark.driver.memory",
        "--driver-class-path": "spark.driver.extraClassPath",
        "--driver-java-options": "spark.driver.extraJavaOptions",
    }
    out: dict[str, str] = {}
    words = shlex.split(raw)
    for flag, value in zip(words, words[1:]):
        if flag in flags:
            out[flags[flag]] = value
        elif flag == "--conf" and "=" in value:
            k, v = value.split("=", 1)
            out[k] = v
    return out


def driver_classpath(spark_home: str, conf_dir: str, extra: str) -> list[str]:
    """The driver's ``-cp`` in the order Spark's launcher builds it."""
    cp = [p for p in extra.split(os.pathsep) if p]
    cp += [conf_dir, os.path.join(spark_home, "jars", "*")]
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        if os.environ.get(var):
            cp.append(os.environ[var])
    cp += [p for p in os.environ.get("SPARK_DIST_CLASSPATH", "").split(os.pathsep) if p]
    return cp


def _dir_entries(path: str) -> list[str]:
    """Names in ``path``: none when it is no directory, a placeholder when
    it cannot be read."""
    try:
        return os.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return []
    except OSError as exc:
        return [f"({exc.strerror})"]


@dataclass
class Plan:
    """What one driver launch does with the archive.

    ``state`` is ``mapped`` or ``dumping`` before the launch (what was
    asked for) and the outcome after ``verify``: ``mapped``, ``dumping``,
    ``rejected`` or ``off:<reason>``."""

    state: str
    key: str = ""
    archive: str = ""
    java_opts: str = ""
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch
    log_path: str = ""
    tmp: str = ""


def plan_launch(conf: dict[str, str], now: float) -> Plan:
    """Decide, before the driver JVM starts, whether it maps or dumps."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return Plan("off:jvm-launched-outside")
    home = java_home()
    if not home:
        return Plan("off:no-java")
    submitted = submit_args(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    if "spark.driver.extraJavaOptions" in submitted:
        return Plan("off:submit-args-replace-java-options")
    conf = {**conf, **submitted}
    user_opts = conf.get("spark.driver.extraJavaOptions", "")
    if any(f in user_opts for f in _CDS_FLAGS):
        return Plan("off:cds-flags-in-java-options")
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    real = sorted(n for n in _dir_entries(conf_dir) if not n.endswith(".template"))
    if real:
        return Plan(f"off:conf-dir-not-empty:{conf_dir}({real[0]})")
    directory = cache_dir()
    if any(c.isspace() for c in directory):  # the launcher splits options on it
        return Plan("off:whitespace-in-cache-dir")
    empty_conf = os.path.join(os.path.dirname(directory), "empty-conf")
    try:
        os.makedirs(directory, exist_ok=True)
        os.makedirs(empty_conf, exist_ok=True)
    except OSError as exc:
        return Plan(f"off:cache-dir:{exc.strerror}")
    classpath = driver_classpath(
        spark_home, empty_conf, conf.get("spark.driver.extraClassPath", "")
    )
    for entry in classpath:
        if _dir_entries(entry):
            return Plan(f"off:non-empty-dir-on-classpath:{entry}")
    try:
        coops = compressed_oops(conf.get("spark.driver.memory", "1g"), user_opts)
    except ValueError:
        return Plan("off:unparsed-driver-memory")
    key = archive_key(home, classpath, coops)
    artifacts.sweep(directory, now)
    stem = artifacts.session_stem(directory, key)
    p = Plan("dumping", key, os.path.join(directory, f"{key}.jsa"),
             conf_dir=empty_conf, log_path=stem + ".log")
    if os.path.exists(p.archive):
        p.state = "mapped"
        # the CRC check turns a damaged archive into a logged rejection
        # (~0.1 s per start); an archive shorter than its header says
        # crashes the JVM instead, which get_spark handles
        flags = [f"-XX:SharedArchiveFile={p.archive}", "-XX:+VerifySharedSpaces",
                 f"-XX:ErrorFile={stem}.hs_err"]
    else:
        p.tmp = stem + ".tmp"
        flags = [f"-XX:ArchiveClassesAtExit={p.tmp}"]
    # CDS warnings (hundreds of "Skipping ...: Signed JAR" at a dump) go to
    # the log file, not to stdout
    flags += ["-Xlog:cds*=off", f"-Xlog:cds*=info:file={p.log_path}::filecount=0"]
    p.java_opts = " ".join(flags)
    return p


def _read(path: str) -> str:
    try:
        with open(path, errors="replace") as f:
            return f.read()
    except OSError:
        return ""


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.unlink(path)
        except OSError:
            pass


def reject(p: Plan, why: str) -> Plan:
    """Delete an archive the JVM did not map and warn with its path."""
    kept = os.path.join(os.path.dirname(p.archive), f"{p.key}.rejected.log")
    try:
        os.replace(p.log_path, kept)
    except OSError:
        kept = "(no CDS log)"
    _remove(p.archive)
    log.warning("CDS archive %s was not mapped (%s); deleted it, the next "
                "session dumps a new one. JVM CDS log: %s", p.archive, why, kept)
    p.state = "rejected"
    return p


def _mapped(log_text: str) -> bool:
    return MAPPED_LINE in log_text and DROPPED_LINE not in log_text


def mapping_crashed(p: Plan) -> bool:
    """True when a launch that failed had opened the archive but not mapped
    it: a damaged archive, not some other launch error."""
    text = _read(p.log_path)
    return p.state == "mapped" and f"Opened archive {p.archive}" in text \
        and not _mapped(text)


def verify(p: Plan, proc: subprocess.Popen | None) -> Plan:
    """Check, after the launch, what the JVM did with the archive."""
    if p.state not in ("mapped", "dumping"):
        return p
    text = _read(p.log_path)
    if not text:
        log.warning("the driver JVM wrote no CDS log to %s: the CDS flags did "
                    "not reach it; running without the archive", p.log_path)
        p.state = "off:flags-not-applied"
        _remove(p.log_path)
        return p
    if p.state == "mapped":
        if not _mapped(text):
            return reject(p, "the JVM rejected it")
        _remove(p.log_path, p.log_path.removesuffix(".log") + ".hs_err")
        return p
    if proc is not None:
        atexit.register(publish, p, proc)
    return p


def publish(p: Plan, proc: subprocess.Popen, wait_s: float = DUMP_WAIT_S) -> bool:
    """At interpreter exit: let the dumping JVM finish and, if it exited 0
    with the dump written, publish the archive (``artifacts.publish``)."""
    rc = proc.poll()
    if rc is None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            rc = proc.wait(timeout=wait_s)
        except subprocess.TimeoutExpired:
            log.warning("CDS dump into %s still running after %.0f s; not "
                        "published", p.tmp, wait_s)
            return False
    written = WRITTEN_LINE in _read(p.log_path)
    done = rc == 0 and written and os.path.exists(p.tmp)
    if done and artifacts.publish(p.tmp, p.archive):
        os.replace(p.log_path, os.path.join(os.path.dirname(p.archive),
                                            f"{p.key}.dump.log"))
        return True
    if not done:
        log.warning("CDS dump into %s discarded: JVM exit code %s, dump %s",
                    p.tmp, rc, "written" if written else "not written")
    _remove(p.tmp, p.log_path)
    return False
