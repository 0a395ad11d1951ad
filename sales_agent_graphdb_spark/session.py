"""SparkSession factory.

Defaults are tuned so the same code runs on local[32] (tests, bench)
and would scale to a multi-executor cluster: AQE for runtime re-planning
and skew handling, Arrow for any Python exchange, UTC session timezone
so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _install_reliable_checkpoint(spark)
    return spark


def _install_reliable_checkpoint(spark: SparkSession) -> None:
    """SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir> routes every
    DataFrame.localCheckpoint() in the process through RELIABLE
    checkpointing into <dir>.

    Why a switch exists: the hot paths cut lineage with
    localCheckpoint(), which pins intermediate blocks to
    executor-local storage — cheap (no replication, no remote write),
    but on a real cluster a lost executor makes those blocks
    irrecoverable and fails the job instead of recomputing. That is
    the right default here (local mode cannot lose an executor), but a
    deployment that wants executor-loss recovery sets this env to a
    shared checkpoint directory (HDFS/object store). Dataset.checkpoint
    has the same eager/lazy materialization contract as
    localCheckpoint, only the storage is durable.

    Cost and assumption: the frame is not persisted before
    Dataset.checkpoint, so materializing it computes the frame TWICE —
    once for the action and once more to write the checkpoint files —
    and then reads it back from the shared filesystem. Both
    computations must produce the same rows, so every checkpointed plan
    is assumed deterministic; a nondeterministic plan (e.g. rand(),
    or order-dependent first()) could leave the checkpoint differing
    from what the triggering action saw.

    The patch replaces the method on the concrete DataFrame class, so
    it is process-wide: it also applies to non-engine code in the same
    process, and it is switched at the session boundary rather than at
    the engine's many call sites. Off by default; pinned by
    tests/test_r13_optimizations.py via a subprocess session.
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    if not ckpt_dir:
        return
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    # Patch the CONCRETE DataFrame class (pyspark.sql.DataFrame is an
    # abstract front in Spark 4; instances are the classic subclass,
    # whose own localCheckpoint would shadow a base-class patch).
    cls = type(spark.range(1))
    if not getattr(cls, "_graft_reliable_ckpt", False):
        reliable = cls.checkpoint
        cls._graft_reliable_ckpt = True
        cls.localCheckpoint = lambda self, eager=True: reliable(self, eager=eager)
