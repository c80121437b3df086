"""SparkSession factory tuned for the skrub_spark engine.

Defaults are chosen for scale-out behavior (AQE, skew handling,
Arrow transfers) while remaining correct on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults sized for the local test harness; on a real cluster the
# caller overrides shuffle partitions to ~2-3x total cores.
_DEFAULTS = {
    # AQE: runtime partition coalescing + skew-join splitting are the
    # single biggest win at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any Pandas-UDF path (the slow path, but when used it
    # must be batched, never row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep broadcast autodetection on; dims in this schema are small.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # pandas-written parquet may carry TIMESTAMP(NANOS); Spark has no
    # ns timestamp type, so read as long and convert in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Spark compiles every whole-stage, projection and predicate class
    # through one JVM-wide LRU cache of this many entries (Spark's
    # default is 100). One skrub tabular pass (TableVectorizer fit 31 +
    # transform 4, AggJoiner 11, fuzzy_join 33, TableReport 27, a
    # pricing query 8: 114 classes, 4 cores) overflows 100, so every
    # repeat of it evicted classes before their reuse and recompiled
    # 100 of them: Janino plus JIT of the fresh classes on every pass.
    # 1000 holds several such pipelines. The conf is static: it takes
    # effect only when get_session creates the session, so a plain
    # SparkSession, or one that existed before get_session, keeps 100.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


from contextlib import contextmanager


@contextmanager
def bounded_exchange_no_aqe(spark):
    """Disable AQE for actions whose ONLY exchange is provably tiny
    (a scalar/argmax aggregate, a k x dim codebook groupBy).

    AQE re-optimizes at every exchange materialization, which turns
    each such action into 2-3 scheduled jobs; on a bounded exchange
    there is nothing to adapt — no partitions to coalesce, no skew
    to split — at ANY data scale, so the extra jobs are pure
    overhead (measured r13: the greedy k-center loop's per-center
    argmax actions run ~2x faster without it at BOTH 32 and 8
    cores; guide §1.2 step 3). Scope it ONLY around such actions:
    data-sized exchanges (graph rounds, dedup shuffles) keep AQE.

    The SQL conf is session-scoped and restored on exit; callers
    submitting concurrent jobs from other threads during the scope
    would also plan without AQE (the engine's query paths are
    sequential)."""
    conf = spark.conf
    old = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old)


def fan_out(df, min_partitions: int | None = None):
    """Round-robin repartition ``df`` up to ``min_partitions``
    (default ``sparkContext.defaultParallelism``) when its scan
    under-partitions — and ONLY then.

    Why: compute-heavy per-row stages (char-gram explode + md5
    bucketing, Arrow-batched decoders) inherit the scan's
    partitioning. A small-but-dense table written as ONE parquet
    row group yields ONE task no matter how low
    ``spark.sql.files.maxPartitionBytes`` goes (byte-range splits
    collapse at row-group boundaries), serializing minutes of CPU
    onto one core. On a real cluster the scan has ample partitions
    and this is a no-op — the guard keeps the extra shuffle off the
    100 TB path. Row order and partition assignment never reach any
    result: callers are content-addressed/exact-decimal operators
    (the repo's partitioning-invariance discipline).
    """
    if df.isStreaming:
        # .rdd is illegal on a streaming frame; micro-batch sources
        # set their own parallelism, so the guard is a no-op there
        return df
    par = int(
        min_partitions
        or df.sparkSession.sparkContext.defaultParallelism
    )
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage at an iterative operator's round
    boundary (one Spark job per round). The mode follows the session:
    with a checkpoint dir configured
    (``spark.sparkContext.setCheckpointDir``, HDFS/object store on a
    cluster) the round is written there, fault-tolerant across
    executor loss; otherwise it is an executor-local
    ``localCheckpoint``, fastest and released by :func:`release`."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


def release(spark: SparkSession) -> None:
    """Drop every staged block of the session.

    Staging/release contract: operators persist or locally checkpoint
    frames that back their RETURNED lazy result (a fan-out branch
    point, a round's edge set, a pinned ``monotonically_increasing_id``),
    so they cannot free them in-function. A long-lived session calls
    ``release(spark)`` after the last consumer of those results; the
    bench and the battery do so between queries.

    ``spark.catalog.clearCache()`` alone frees only cache-manager
    persists; ``localCheckpoint`` blocks live outside it and survive
    even a JVM GC. So after clearing the cache this unpersists every
    persistent RDD that is locally checkpointed (checkpointed, with no
    checkpoint file). Frames built before the call must not be reused
    after it: their checkpoint blocks are gone and an action on them
    raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        if rdd.isCheckpointed() and not rdd.getCheckpointFile().isPresent():
            rdd.unpersist(False)


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the session's JVM has compiled so far: the count of
    Spark's ``CodegenMetrics`` compilation-time histogram, which is
    updated once per codegen cache miss. JVM-wide, so take the
    difference of two readings around the work to count it."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def get_session(
    app_name: str = "skrub_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied.

    ``extra_conf`` overrides any default. Static confs among them
    (``spark.driver.memory``, ``spark.sql.codegen.cache.maxEntries``)
    apply only when this call creates the session: a session that is
    already running keeps the values it was started with."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    # Python-UDF workers unpickle functions of this package by module
    # name, so they must import it even when the caller reached it
    # only through sys.path: put its parent directory first on their path.
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get(key)) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
