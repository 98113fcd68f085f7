"""SparkSession factory tuned for the target workload.

Local tests run on local[N]; the configs are chosen so the same plans scale
to a multi-executor cluster: AQE on (runtime coalesce + skew-join), broadcast
threshold generous enough to broadcast every dimension table, Arrow enabled
for the Pandas-UDF paths, session timezone pinned to UTC so date/timestamp
semantics are stable and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "ai-metadata-lineage-pyspark-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 8g measured faster than 16g on local[32] at sf0.1 (larger heap
        # roughly doubled wall-clock on the multi-stage dedup query — GC
        # geometry, not capacity, is what matters at this scale); override
        # with SPARK_GRAFT_DRIVER_MEM for bigger-SF runs
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # reliable DataFrame.checkpoint() files are NOT deleted by Spark by
        # default; iterative fits write ~2 per round, so a 100-round evidence
        # run would leak hundreds of dirs (r10 advice). GC-driven cleanup +
        # the atexit fallback in ensure_checkpoint_dir keep /tmp bounded.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Set a RELIABLE checkpoint dir if none is configured (idempotent).

    Iterative fits (the BPE fit, operators/search.py::_bpe_fit) cut their
    lineage with `DataFrame.checkpoint()` — a replayable on-disk
    materialization — rather than `localCheckpoint()`, whose executor-memory blocks are lost (and the
    job with them) on any executor failure mid-iteration. Locally this is a
    temp dir; on a cluster, point SPARK_GRAFT_CHECKPOINT_DIR at HDFS/S3 so
    checkpoints survive executor loss.
    """
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        user_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if user_dir:
            sc.setCheckpointDir(user_dir)
        else:
            import atexit
            import shutil
            import tempfile

            tmp = tempfile.mkdtemp(prefix="spark-graft-ckpt-")
            # GC cleanup (cleanCheckpoints, above) is best-effort and only
            # fires when the DataFrame is collected; remove the whole
            # mkdtemp'd dir at interpreter exit so repeated local sessions
            # never accumulate checkpoint litter. A user-supplied dir (the
            # cluster deploy: HDFS/S3) is never touched.
            atexit.register(shutil.rmtree, tmp, ignore_errors=True)
            sc.setCheckpointDir(tmp)


def iter_checkpoint(df, eager: bool = True):
    """Lineage cut for ITERATIVE round state (BFS frontiers, label
    propagation, pagerank weights, streaming upsert state).

    Default is `localCheckpoint` — materialize to executor memory, the
    fastest cut on local[N] where executors cannot be lost independently
    of the whole JVM. Set SPARK_GRAFT_RELIABLE_CKPT=1 (a cluster deploy
    would) to switch every iterative operator to reliable
    `DataFrame.checkpoint()` on the checkpoint filesystem
    (SPARK_GRAFT_CHECKPOINT_DIR → HDFS/S3), so an executor loss mid-
    iteration replays from the last round's files instead of failing the
    job. The one BPE fit behind all three trainers (`search._bpe_fit`)
    reliably checkpoints its distributed vocab table UNCONDITIONALLY, every
    few rounds; its pair counts and merges live on the driver and are not
    checkpointed.
    Everything else keeps the local default because the swap is a
    deploy-time decision, not a per-operator one.

    The caller owns the cut: `release_checkpoint` frees it. Lineage Q&A
    makes none; its sessions collect their graph to the driver once.
    """
    if os.environ.get("SPARK_GRAFT_RELIABLE_CKPT") == "1":
        ensure_checkpoint_dir(df.sparkSession)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _rows_rdd(cut: DataFrame):
    """The JVM RDD that holds a checkpointed DataFrame's rows: its plan is
    a single LogicalRDD over it."""
    return cut._jdf.queryExecution().analyzed().rdd()


def counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """iter_checkpoint(df) and its row count, from the one job that
    materializes it: counting the checkpoint's own RDD. A DataFrame
    count() over the cut would plan an aggregation with an exchange, which
    adaptive execution runs as a second job."""
    cut = iter_checkpoint(df, eager=False)
    return cut, _rows_rdd(cut).count()


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD that holds a checkpointed DataFrame's rows.

    A checkpoint's blocks belong to an internal RDD that
    `DataFrame.unpersist()` does not reach; left alone they stay cached
    until the JVM collects the RDD, and py4j releases the Python side's
    handle on it only from its finalizer thread, up to a second later."""
    _rows_rdd(df).unpersist(False)

