"""SparkSession factory tuned for the extraction workload.

Defaults target the local[N] sandbox but are the same knobs a 1000-executor
run needs: AQE (runtime re-plan + skew-join splitting), Arrow batching for
the pandas-UDF stages, and a shuffle-partition count sized to the
parallelism.  At 100 TB the per-turn stages are narrow (no shuffle); the only
wide edges are the final ordered write and any relational joins, which AQE
coalesces/splits at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_cpus", "has_reliable_checkpoint", "ARROW_BATCH_ROWS"]

# Arrow batch size for mapInPandas stages: turns are ~1-10 KB of text, so
# 2048 rows ≈ a few MB per batch — big enough to amortize Arrow/IPC, small
# enough to keep worker memory flat.
ARROW_BATCH_ROWS = 2048


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(
    app: str = "tablestructurerec-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """``checkpoint_dir`` (or env ``SPARK_GRAFT_CKPT_DIR``) is the cluster
    profile's durability knob: setting it makes iterative operators
    (``dedup_components``) default to reliable ``checkpoint()`` into that
    storage instead of executor-local blocks — an executor loss
    mid-iteration then costs a re-read, not a job failure.  Local bench
    leaves it unset and keeps the cheaper ``localCheckpoint``."""
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus * 2, 8)
    if checkpoint_dir is None:
        checkpoint_dir = os.environ.get("SPARK_GRAFT_CKPT_DIR") or None
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark


def has_reliable_checkpoint(spark: SparkSession) -> bool:
    """True when the session has durable checkpoint storage configured —
    the signal iterative operators use to pick ``checkpoint()`` over
    ``localCheckpoint()`` by default."""
    return spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
