"""SparkSession factory.

Defaults are tuned so the same code runs on local[32] (tests, bench)
and would scale to a multi-executor cluster: AQE for runtime re-planning
and skew handling, Arrow for any Python exchange, UTC session timezone
so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "sales_agent_graphdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) locally; on a
    real cluster callers pass ``None`` with a pre-set master. Shuffle
    partitions default to the local core count — at 100 TB this would be
    raised (or left to AQE coalescing, which is enabled).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    # r13 heap sizing note (guide §5 — per-task execution memory, not
    # total heap, is what sorts/joins see): in local mode one JVM heap
    # is shared by every concurrent task, so 8g over 32 slots is
    # ~150 MB of unified memory per task. At the synthetic decade
    # (tools/core_scaling.py) that starves the data-sized heavies —
    # dedup_containment ran 28 s on local[32]/8g vs 15 s on
    # local[8]/8g (more memory per task) and 13-20 s on local[32]/24g
    # (SPARK_GRAFT_DRIVER_MEM=24g). The default nevertheless STAYS 8g:
    # at the driver's bench SF the data is tiny, and a measured
    # same-box A/B (full 166-query bench, 24g vs 8g) read 232 vs
    # 216 s — the 90 s periodic System.gc() (see periodicGC below)
    # costs proportionally more on a bigger heap and the random 1-2
    # queries in each 90 s window absorb the pause. Heavy-data runs
    # size the heap to the workload via SPARK_GRAFT_DRIVER_MEM; on a
    # real cluster this is the executor-memory : cores ratio.

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner housekeeping (r12): localCheckpoint blocks and
        # broadcasts from completed queries are only unpersisted after a
        # driver JVM GC lets the cleaner see the references die; the
        # default periodicGC.interval (30min) never fires inside a
        # multi-minute session, so a long-lived driver accumulates dead
        # blocks in storage memory (measured: multi-second GC-pressure
        # spikes on late queries in a 166-query run). 90s bounds the
        # accumulation at negligible System.gc() cost; scale-neutral
        # (any long-lived driver, local or cluster, wants this).
        .config("spark.cleaner.periodicGC.interval", "90s")
        # Generated-code cache. Invariant: it holds a session's warm
        # working set of generated classes, so a warm call compiles
        # nothing. Spark's default, 100 entries in a segmented LRU that
        # evicts before it is full, does not: batch_mix (107 classes)
        # recompiled 11.7 per warm call, 35 in connected components.
        # Measured working sets (distinct classes, one session): the
        # lookup_mix workload 80, batch_mix 107, the 166 bench.py
        # headline queries at sf0.01 2,520, all 348 registered queries
        # at sf0.01 4,133, which is past 4096, hence 8192. A class
        # costs ~25 KB of Metaspace, so a full cache is ~200 MB. Static
        # conf: fixed when the first session of the JVM starts.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame, *, eager: bool) -> DataFrame:
    """Cut ``df``'s lineage with a checkpoint; the one place the engine
    checkpoints.

    Storage: a local checkpoint (executor-local blocks, no replication)
    unless SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir> is set, which writes a
    reliable checkpoint into <dir> instead. Local mode cannot lose an
    executor, so local blocks are the right default; on a cluster a lost
    executor makes them irrecoverable and fails the job, so a deployment
    that wants executor-loss recovery points the variable at a shared
    directory. A reliable checkpoint is not persisted first, so
    materializing it computes the frame twice (the action, then the
    file write) and reads it back; every checkpointed plan is therefore
    assumed deterministic.

    The race rule: a lazy (``eager=False``) checkpoint must be
    materialized by one sequential full action before any concurrent
    consumer reads it. Concurrent first readers (a broadcast build
    beside a shuffle stage, two threads) each recompute the whole
    lineage instead of reading stored blocks, and a limit leaves
    partitions for a later reader to recompute. Use ``eager=True`` when
    the first readers are concurrent; it costs one job here.

    The method is looked up on ``df`` at call time, never bound at
    import, so a wrapper installed on the DataFrame class later (a
    profiler counting checkpoints) still sees every call.
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    if not ckpt_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)
