"""SparkSession factory.

100 TB posture (SURVEY.md §4.2): everything here is config, not code —
AQE handles partition coalescing, skew joins, and runtime
broadcast-join conversion; shuffle partition count is sized to the
parallelism of the target cluster (locally: the core count). Session
timezone is pinned to UTC so timestamp semantics match the DuckDB
oracle and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "event-stream-for-k8s-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    conf = {
        # Let AQE re-plan at runtime: coalesce small shuffle partitions,
        # split skewed ones, convert to broadcast joins on observed sizes.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Deterministic timestamp semantics (oracle parity + cluster-invariant).
        "spark.sql.session.timeZone": "UTC",
        # Shuffle width: locally = cores; on a cluster, override to
        # ~2-3x total executor cores (AQE coalesces the excess).
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # Arrow for the Pandas-UDF path (B.10) and fast toPandas.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dimension tables in the star schema are broadcast-sized by design.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # local-mode memory; a real cluster sets executor memory instead.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        "spark.ui.enabled": "false",
        # Keep driver-side results bounded even when tests collect.
        "spark.driver.maxResultSize": "4g",
        # Streaming offsets, commits and state deltas go through Hadoop's
        # FileSystem API. The default FileContext manager's rename forks
        # `readlink` (FileUtil.readLink) wherever libhadoop is absent:
        # 80 forks per live daemon micro-batch (tools/checkpoint_forks.py),
        # walCommit 37 -> 10 ms and state commit 428 -> 27 ms per batch.
        # Same temp-file + rename and FileAlreadyExistsException on a
        # second write of a log entry (SCALING.md §5). Object-store
        # checkpoints override this through ``extra_conf``.
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
