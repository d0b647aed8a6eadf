"""SparkSession factory for the engine.

One place to encode the execution-model decisions that matter at 100 TB:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing).
- Arrow on (every Python stage in this engine is a vectorized pandas UDF /
  mapInPandas; per-row Python is banned per BASELINE.json ``input_hint``).
- ``maxRecordsPerBatch`` sized for ~100 KB-1 MB HTML rows so a single Arrow
  batch stays in the low hundreds of MB.
- Shuffle partitions default to the core count locally; on a real cluster this
  is overridden to ~2-3x total cores (AQE coalesces the excess).

It also owns the one cache-lifetime rule: every intermediate the engine
persists goes through ``scoped()``, and the innermost open ``cache_scope()``
releases it on exit.

Reference analog: none — the reference is a single sequential Python process
(/root/reference/data_extraction/crawl_articles.py:45-118).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "news-crawler-slm-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``cores`` maps to ``local[cores]`` in the sandbox; on a real cluster the
    master/executor topology comes from spark-submit and ``cores`` is ignored
    by Spark (kept here so bench.py can run the identical job at N and 4N
    parallelism for the scaling-efficiency evidence).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # floor on scan parallelism (guide §6): files are split into at
        # least this many byte-range slices, so a medium single-file table
        # (e.g. the driver's 132 MB lineitem) fans out across the cores
        # instead of 1-2 default splits.  Self-scaling: the advisory split
        # size is total_bytes/minPartitionNum, still capped by
        # maxPartitionBytes, so at 100 TB this floor is a no-op.  NOTE a
        # single ROW GROUP still cannot split — those scans are respread
        # explicitly where the downstream work is heavy (plans/catalog._spread).
        .config(
            "spark.sql.files.minPartitionNum",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_NUM", str(cores)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # join strategy (guide §3.1 / §9): let the planner pick shuffled
        # HASH join over sort-merge when its size conditions hold, and let
        # AQE rewrite SMJ->SHJ when every post-shuffle partition is under
        # 64 MB — skips the sort of both sides.  Measured r07 (sf1.0,
        # local[32], interleaved pairs): stupid_backoff_trigram 5.4->3.4 s,
        # q5 3.3->1.9 s, kn_bigram 2.7->1.7 s, bm25 2.4->1.0 s.  The
        # 64 MB per-partition build bound is what keeps this safe at any
        # scale (a build side over the bound stays sort-merge).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# the open cache scopes, innermost last; each holds the frames persisted in it
_SCOPES: ContextVar[tuple[list[DataFrame], ...]] = ContextVar("cache_scopes", default=())


@contextmanager
def cache_scope():
    """Release, on exit and in LIFO order, every frame ``scoped()`` persisted
    inside the block. LIFO unpersists dependents before the caches they read,
    so Spark never re-plans a cache over one that is going away. Consume
    (collect/count/write) a plan that reads scoped frames INSIDE the block.
    Scopes nest; a frame belongs to the innermost one."""
    frames: list[DataFrame] = []
    token = _SCOPES.set(_SCOPES.get() + (frames,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for df in reversed(frames):
            df.unpersist()


def scoped(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist ``df`` at ``level`` and register it with the innermost open
    ``cache_scope()``. With no scope open this is a plain persist and the
    caller owns the cache (``unpersist()`` or ``spark.catalog.clearCache()``)."""
    df = df.persist(level)
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
    return df
