"""SparkSession factory tuned for the engine (SURVEY.md §7 Phase 0).

Local mode runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``); the
same builder settings are what we would ship to a 1000-executor cluster:
AQE on (runtime re-plan, skew-join handling, shuffle-partition coalescing),
Arrow on (vectorized Python boundary), and explicit shuffle partitioning.
"""

from __future__ import annotations

import os
import re
import subprocess

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# At 100 TB this would be set to ~2-3x total executor cores; AQE coalesces
# down when partitions are small, so erring high is safe. Locally 32 matches
# the driver's local[32] harness. `io.spread` sizes its round-robin exchange
# to the task slots (`defaultParallelism`) instead, and its keyed one to the
# larger of the two.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: Python worker daemon that skips re-reading unchanged import archives on
#: every task (see its docstring).
DAEMON_MODULE = "etl_active911_spark.pyworker"

#: Masters whose Python workers run on this host, forked by the driver JVM.
LOCAL_MASTER = re.compile(r"local(\[.*\])?")

#: Run in a child started the way Spark starts a Python worker (same
#: interpreter, working directory and PYTHONPATH): exit 0 when the worker
#: could find ``DAEMON_MODULE``. It locates the package without importing
#: it, so the probe never imports pyspark.
_DAEMON_PROBE = """
import importlib.util, os, sys
spec = importlib.util.find_spec("etl_active911_spark")
dirs = (spec and spec.submodule_search_locations) or ()
sys.exit(not any(os.path.isfile(os.path.join(d, "pyworker.py")) for d in dirs))
"""


def daemon_module_found(python: str, cwd: str) -> bool:
    """True when a Python worker run by ``python`` in ``cwd`` can run
    ``DAEMON_MODULE``."""
    try:
        probe = subprocess.run(
            [python, "-c", _DAEMON_PROBE], cwd=cwd, capture_output=True, timeout=60
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return probe.returncode == 0


def worker_pythons(conf: SparkConf) -> set[str]:
    """The interpreters a local Python worker may run: PySpark's own choice
    (``PYSPARK_PYTHON``, else ``python3``) for RDD functions and, when
    ``conf`` sets one, ``spark.sql.execution.pyspark.python`` or else
    ``spark.pyspark.python`` for SQL UDFs."""
    keys = ("spark.sql.execution.pyspark.python", "spark.pyspark.python")
    sql = next((conf.get(k) for k in keys if conf.contains(k)), None)
    return {os.environ.get("PYSPARK_PYTHON", "python3")} | ({sql} if sql else set())


def get_spark(app_name: str = "etl-active911-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Catalyst/AQE: runtime re-planning, skew-join splitting, partition
        # coalescing — the core of "let Spark pick the physical strategy".
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every Python<->JVM hop (pandas_udf, applyInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        # Timestamps: engine semantics are UTC end-to-end (reference
        # normalizes everything to ISO-UTC, task.ts:66-76).
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast joins for small dims (region/nation/tz-map); 64 MiB is
        # generous locally and sane on a big cluster.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Streaming checkpoints (offset/commit logs, sink and state-store
        # files) through the FileSystem API. Spark's default FileContext
        # manager forks a shell for each permission and status call when
        # the native Hadoop library is absent (a 4-core host without it:
        # ~20 process clones and 29-42 ms per atomic write, against 4
        # clones and 6-12 ms). Both refuse an atomic write onto an
        # existing file, which the offset and commit logs rely on.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    # A worker daemon is chosen when the SparkContext starts; a worker
    # that cannot find the module would fail every Python task, so the
    # stock daemon stays unless the probe finds it. The probe runs on this
    # host, so it stands for the workers only in local mode (not
    # local-cluster, whose executors run in their own work dirs); a
    # cluster keeps the stock daemon. Local workers start in the JVM's
    # working directory, and a JVM outlives `spark.stop()`.
    if LOCAL_MASTER.fullmatch(master) and SparkContext._active_spark_context is None:
        # Start the JVM with the builder's settings, as getOrCreate would,
        # so that SparkConf() also holds spark-submit's and
        # spark-defaults.conf's.
        launch = SparkConf(loadDefaults=False).setAll(builder._options.items())
        SparkContext._ensure_initialized(conf=launch)
        cwd = SparkContext._jvm.System.getProperty("user.dir")
        if all(daemon_module_found(p, cwd) for p in worker_pythons(SparkConf())):
            builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    return builder.getOrCreate()
