"""SparkSession factory.

Defaults are chosen for correctness-reproducibility (UTC session timezone so
timestamps agree with the DuckDB oracle) and for scale (AQE on, skew-join
handling on, Arrow for any pandas exchange). On a real cluster the same
builder is used — only master/memory change.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "global-seismic-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale notes (100 TB design): AQE coalesces small shuffle partitions and
    splits skewed ones at runtime, so ``shuffle_partitions`` only needs to be
    an upper bound sized to cluster cores; broadcast threshold stays default
    (10 MB) and the engine broadcasts dimensions explicitly where it matters.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # int64 micros, not the deprecated INT96: INT96 carries NO
        # parquet statistics (so timestamp columns could never data-skip)
        # and violates the Iceberg spec's int64-micros requirement for
        # staged data files
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tiny_df(spark: SparkSession, rows, schema):
    """Single-partition DataFrame from a handful of DRIVER-side rows —
    the control-table write shape (index meta, summary rows, stats).

    ``createDataFrame(rows, schema).coalesce(1)`` looks equivalent but
    costs ~4 s per call on local[32]: the Python-rows relation
    parallelizes over defaultParallelism slices and ``coalesce(1)``
    folds them into ONE task that starts a Python worker PER PARENT
    SLICE, serially (32 × ~120 ms). One explicit slice = one worker
    (~0.3 s). On a real cluster the same reasoning holds with executor
    task-launch overhead in place of worker startup."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), 1), schema
    )


# Per-thread stack of open scopes, innermost last: a scope opened on one
# thread must never release frames another thread still holds (e.g. a
# range partitioning pinned between its stats job and its rank pass).
_SCOPES = threading.local()


def materialize(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and record it in this thread's innermost open
    :func:`materialized_scope`, which unpersists it on exit. With no scope
    open the frame is only persisted (plain Spark ``persist``).

    Persisted frames only: a ``localCheckpoint`` is not released here.
    Neither ``unpersist`` nor ``catalog.clearCache`` drops its blocks, and
    freeing the checkpoint RDD breaks every frame derived from it
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); Spark's ContextCleaner frees it
    once nothing references it."""
    df = df.persist(level)
    stack = getattr(_SCOPES, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextlib.contextmanager
def materialized_scope():
    """On exit, unpersist every frame passed to :func:`materialize` inside
    the block on this thread. Nested scopes release only their own frames
    — but Spark's CacheManager matches plans, so a frame whose plan is
    already cached shares that entry, and releasing either frees it."""
    stack = _SCOPES.__dict__.setdefault("stack", [])
    frames: list[DataFrame] = []
    stack.append(frames)
    try:
        yield
    finally:
        stack.pop()
        for df in frames:
            df.unpersist()
