"""SparkSession factory.

The reference sets only ``spark.sql.session.timeZone=UTC``
(``src/daily_aggregator.py:125-129``); everything else is Spark defaults.
For a 100 TB deployment the session must additionally enable AQE (runtime
join re-planning + skew splitting + partition coalescing) and size shuffle
parallelism to the cluster, so those are baked in here.

A driver JVM that ``get_spark`` launches writes ``file://`` through the
fork-free local file system of ``localfs.py`` and maps the
class-data-sharing archive of ``cds.py``, or dumps one at exit. Each new
session logs one start record (``gateway_s``, ``context_s``, ``cds``,
``cds_key``, ``localfs``, ``localfs_compile_s``).
"""

from __future__ import annotations

import logging
import os
import threading
import time

from pyspark import SparkConf, SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from projekt_data_engineering_iubh_spark import cds, localfs

log = logging.getLogger(__name__)

# pyspark keeps one gateway JVM per process; the lock makes "launch it if
# there is none" atomic across threads, and _LAUNCHED remembers what that
# JVM did with the archive for sessions that reuse it
_LAUNCH_LOCK = threading.Lock()
_LAUNCHED: dict[str, object] = {}

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _start_gateway(conf: dict[str, str], conf_dir: str | None) -> None:
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _launch(base: dict[str, str]) -> tuple[dict[str, str], cds.Plan, float]:
    """Start the driver JVM with the jar of ``localfs.plan`` and the CDS
    flags of ``cds.plan_launch``; returns the conf it ran with, the
    checked plan and the launch wall."""
    fs = localfs.plan(base, time.time())
    base = fs.apply(base)
    plan = cds.plan_launch(base, time.time())
    conf = dict(base)
    if plan.java_opts:
        user = base.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = f"{user} {plan.java_opts}".strip()
    t0 = time.perf_counter()
    try:
        _start_gateway(conf, plan.conf_dir)
    except PySparkRuntimeError:
        if not cds.mapping_crashed(plan):
            raise
        plan, conf = cds.reject(plan, "the JVM crashed while mapping it"), base
        t0 = time.perf_counter()
        _start_gateway(conf, None)
    gateway_s = time.perf_counter() - t0
    plan = cds.verify(plan, getattr(SparkContext._gateway, "proc", None))
    _LAUNCHED.update(gateway=SparkContext._gateway, plan=plan, localfs=fs)
    return conf, plan, gateway_s


def get_spark(
    app_name: str = "projekt-data-engineering-iubh-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this host.

    On a real cluster the same conf block applies unchanged except
    ``master`` — AQE then coalesces/splits the static shuffle partition
    count at runtime, so the exact number only needs to be "roughly
    cores × 2-3" rather than hand-tuned per query.
    """
    cpus = default_parallelism()
    conf = {
        "spark.app.name": app_name,
        "spark.master": f"local[{cpus}]",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp,
        # so read as long and convert (catalog.load_table truncates to µs,
        # matching DuckDB's ns→µs handling).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        # stream checkpoints (offsets, commits, state versions) through
        # FileSystem renames: the default FileContext manager asks the
        # local FS for link status, which without the native Hadoop
        # library forks `readlink` per file operation. Rename is atomic
        # on the local FS and HDFS; object stores need their platform's
        # manager (extra_conf, or spark.conf.set before a query starts)
        "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FILE_MANAGER,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        **(extra_conf or {}),
    }
    fresh = SparkContext._active_spark_context is None
    gateway_s = 0.0
    with _LAUNCH_LOCK:
        if fresh and SparkContext._gateway is None:
            conf, plan, gateway_s = _launch(conf)
            fs = _LAUNCHED["localfs"]
        elif _LAUNCHED and SparkContext._gateway is _LAUNCHED["gateway"]:
            plan, launched = _LAUNCHED["plan"], _LAUNCHED["localfs"]
            # a new context in the same JVM: the class is on its class path
            fs = localfs.Plan(launched.state, launched.jar)
            if localfs.IMPL_KEY in conf:
                fs = localfs.Plan(f"off:user-set:{conf[localfs.IMPL_KEY]}")
            conf = fs.apply(conf)
        else:
            plan = cds.Plan("off:jvm-launched-outside")
            fs = localfs.Plan("off:jvm-launched-outside")
    t0 = time.perf_counter()
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    context_s = time.perf_counter() - t0
    if fresh:
        # one start record per new SparkContext
        log.info(
            "spark session start: gateway %.2f s, context %.2f s, cds %s, key %s, "
            "localfs %s (compile %.2f s)",
            gateway_s, context_s, plan.state, plan.key or "-", fs.state, fs.compile_s,
            extra={"gateway_s": round(gateway_s, 3), "context_s": round(context_s, 3),
                   "cds": plan.state, "cds_key": plan.key, "localfs": fs.state,
                   "localfs_compile_s": round(fs.compile_s, 3)},
        )
    spark.sparkContext.setLogLevel("WARN")
    # cluster deployments point this at a DFS/object-store prefix so the
    # iterative operators' checkpoint() swap (connected_components) has a
    # durable target — deploy/spark-defaults-template.conf runbook entry
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The verification driver creates its own SparkSession and hands it to
    ``__spark_entry__``; this applies the confs our plans rely on that can
    be toggled at runtime. The local file system is chosen when the JVM
    starts, so it logs which one this session writes ``file://`` through:
    ``localfs`` is ``on`` only for a JVM that ``get_spark`` launched.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    state = localfs.session_state(spark)
    log.info("spark session prepared: localfs %s", state, extra={"localfs": state})
    return spark
