"""SparkSession factory tuned for the engine (SURVEY.md §7 Phase 0).

Local mode runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``); the
same builder settings are what we would ship to a 1000-executor cluster:
AQE on (runtime re-plan, skew-join handling, shuffle-partition coalescing),
Arrow on (vectorized Python boundary), and explicit shuffle partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB this would be set to ~2-3x total executor cores; AQE coalesces
# down when partitions are small, so erring high is safe. Locally 32 matches
# the driver's local[32] harness.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


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
    return builder.getOrCreate()
