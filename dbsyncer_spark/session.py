"""SparkSession factory.

Local mode is the test/bench environment (one JVM, N executor threads);
the same configs are what we would ship on a real multi-executor cluster
via spark-submit --py-files, except memory sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cap on the default driver heap: the whole 48 GB machine the reference's
# numbers come from (BASELINE.md).
_DRIVER_MEM_CAP_MB = 48 * 1024
# Container memory limits, read as the JVM's UseContainerSupport reads them
# (cgroup v2, then v1); "max" or a missing file means no limit.
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def default_driver_memory() -> str:
    """Default ``spark.driver.memory``: the JVM's own ergonomic max heap
    (``MaxRAMPercentage`` = 25% of the memory available to the process),
    capped at 48g, as a ``"<n>m"`` string.

    Available memory is the host's physical pages, or a smaller cgroup
    memory limit. A fixed 48g heap on a smaller host is never honoured:
    under ParallelGC the heap grows without collecting until the kernel
    OOM-kills the driver JVM."""
    avail = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            avail = min(avail, int(limit))
    return f"{min(avail // 4 >> 20, _DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "dbsyncer_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else 32.
    ``spark.sql.shuffle.partitions`` is sized to the core count — at
    cluster scale this would be ~2-3x total cores (or left to AQE
    coalescing, which we enable).
    ``spark.driver.memory`` is $SPARK_DRIVER_MEM when set, passed through
    unchanged, else ``default_driver_memory()``: the JVM's 25% ergonomic
    max heap of the host (or its cgroup limit), capped at 48g.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM")
    if driver_mem is None:
        driver_mem = default_driver_memory()

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Spark 4.1's size-based Arrow batch cut (default 64m) calls
        # ArrowFieldWriter.getSizeInBytes per ROW — an O(batch^2) vector
        # walk that serialized every mapInPandas stage (measured 7x on a
        # 40M-row identity pass; all task threads pinned in
        # StructVector.setValueCount). Int.MaxValue disables the walk;
        # maxRecordsPerBatch still bounds batch memory (rows here are
        # fixed-width, so 10k rows << 64m anyway).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Throughput GC. JDK17's default G1 collapses under this workload
        # at high task counts: Arrow/pandas-UDF batches allocate multi-MB
        # arrays that are "humongous" for G1's auto region size, and JNI
        # critical sections (shuffle compression codecs) trigger GCLocker
        # allocation stalls that spin-retry across all task threads
        # (measured: 7x CPU burn, 2.3x wall at local[32] vs ParallelGC).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_df(spark: SparkSession, schema: str):
    """Empty DataFrame that COLLECTS WITHOUT A SPARK JOB.

    ``createDataFrame([], schema)`` parallelizes ``defaultParallelism``
    empty slices — a 32-task no-op job (~500 ms per miss-query collect,
    measured r2). ``WHERE false`` lets Catalyst's PruneFilters fold the
    plan to an empty LocalRelation (LocalTableScan <empty>), which
    ``collect()`` serves driver-side."""
    from pyspark.sql import functions as F

    return spark.createDataFrame([], schema).where(F.lit(False))


def warm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Pre-fork the Arrow Python UDF workers (one per core) so the first
    real UDF stage doesn't pay n concurrent numpy/pandas import storms
    (~12 s at 32 workers, measured). Workers are reused afterwards
    (spark.python.worker.reuse). The cluster analog is executor
    provisioning — startup, not steady-state throughput."""
    import pandas as _pd  # noqa: F401
    from pyspark.sql import functions as F

    if n is None:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _noop(batches):
        import numpy  # noqa: F401 — force the heavy imports in the worker
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        for b in batches:
            yield b

    spark.range(n, numPartitions=n).mapInPandas(_noop, "id long").count()
