"""SparkSession factory tuned for the sandbox (local[N]) while keeping
cluster-ready defaults (AQE, Arrow, sensible shuffle partitioning)."""

from __future__ import annotations

import os


def host_cpus() -> int:
    """Cores this process may run on (its affinity mask, not the
    machine's core count)."""
    return len(os.sched_getaffinity(0))


def host_driver_memory() -> str:
    """A quarter of the host's RAM (MemTotal), at least 1 GB: in local
    mode the driver JVM also hosts the executors, and the Python
    workers live outside its heap."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, kb // (4 << 20))}g"


def get_spark(
    app: str = "netbase_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict | None = None,
    inherit_master: bool = False,
):
    """``inherit_master=True`` leaves ``spark.master`` (and driver memory)
    to whatever launched the JVM — i.e. ``spark-submit --master ...`` per
    the north rule's cluster run mode; ``cpus`` then only sizes shuffle
    parallelism.  Unset ``cpus`` (and no ``SPARK_GRAFT_CPUS``) and
    ``driver_memory`` size the session to the host: :func:`host_cpus`
    and :func:`host_driver_memory`."""
    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_cpus()
    cpus = int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    if driver_memory is None:
        driver_memory = host_driver_memory()

    b = SparkSession.builder
    if not inherit_master:
        b = b.master(f"local[{cpus}]").config("spark.driver.memory", driver_memory)
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m advisory coalesces sandbox-sized shuffles to fewer
        # partitions than cores — post-shuffle stages then stop scaling
        # with parallelism; 16m keeps them wide without hurting at scale
        # (AQE still respects parallelismFirst)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # dictionary-compressed snapshot tables (triples ~2.2 bytes/row)
        # pack into fewer 128m input splits than there are cores, putting
        # a parallelism FLOOR under every stage that re-reads a snapshot
        # (measured: the rewrite stage ran on <=4 splits at any core
        # count).  A minimum split count keeps checkpoint re-reads as
        # wide as the cluster; harmless at 100 TB where files >> 128m.
        .config("spark.sql.files.minPartitionNum", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
