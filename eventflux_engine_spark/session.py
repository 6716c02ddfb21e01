"""SparkSession factory tuned for this engine.

Local mode here, but every config choice is made for cluster scale:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (all Python paths are vectorized pandas/Arrow — north_rule),
UTC session timezone (oracle comparability + sane event-time semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "eventflux_engine_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``shuffle_partitions`` defaults to the core count — at cluster scale you
    would size this to ~2-3x total executor cores / target ~128MB-256MB
    shuffle blocks; AQE coalescing makes the exact number forgiving.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches amortize Python-side per-batch overhead in the
        # partition-level vectorized NFA (mapInArrow); rows are narrow
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # RAM-backed shuffle dir: local-mode shuffles go through the local
        # filesystem; on this box the disk thrashes under 32 concurrent
        # writers. On a real cluster this is NVMe-backed per-executor storage.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        # long benchmark/driver sessions accumulate localCheckpoint blocks
        # and shuffle state from dozens of finished queries; the context
        # cleaner only forces a full reference-processing GC every 30 min by
        # default, so heap pressure builds into multi-second pause bursts
        # mid-suite. 2 min bounds the backlog without measurable overhead.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prewarm_python_workers(spark)
    return spark


_PREWARMED: set[str] = set()


def _ident(batches):
    yield from batches


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Spawn the Python worker pool once, at session build time.

    The FIRST query whose plan chains k Python stages across p partitions
    must fork k*p workers inside its own wall time (~3-4 s for the 96
    workers a 3-stage codec chain over 32 partitions needs). Paying that
    once here keeps the spawn storm out of every measured query and out of
    the latency of whichever operator happens to run first.

    Reused workers (``spark.python.worker.reuse``, default on) save the
    fork, not the per-task set-up: every task still starts with
    ``importlib.invalidate_caches()``, which on Python < 3.13 re-reads
    Spark's zip archives (~0.2 s per task) unless :mod:`.zipimport_cache`
    is installed in that worker. ``_ident`` is a module-level engine
    function, so unpickling it imports the package and installs the check
    in every prewarmed worker; the workers therefore need to be able to
    import the package, as every engine operator does. Skipped for
    single-core sessions.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _PREWARMED:
        return
    _PREWARMED.add(app_id)
    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        return
    df = spark.range(0, cores * 3, numPartitions=cores)
    for _ in range(3):  # deepest Python chain in the registry (codec paths)
        df = df.mapInPandas(_ident, "id long")
    df.write.format("noop").mode("overwrite").save()
