"""SparkSession factory with scale-appropriate defaults.

Test/bench runs are single-JVM ``local[N]``; the same configuration set
is what we would pass to ``spark-submit`` on a real cluster (AQE on,
Arrow on, explicit shuffle parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MEMINFO = "/proc/meminfo"


def _default_heap_gb(cpus: int) -> int:
    """Default driver heap in GB: ``min(16, max(8, cpus // 2))``, capped
    at half of the host's ``MemTotal`` (floor 1 GB) — the heap is
    pre-touched, so an uncapped default on a small host takes memory
    other processes need.  An unreadable meminfo leaves it uncapped."""
    gb = min(16, max(8, cpus // 2))
    try:
        with open(_MEMINFO) as fp:
            for line in fp:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    return min(gb, max(1, total_kb // 2 // 1024 ** 2))
    except OSError:
        pass
    return gb


def build_session(app_name: str = "mc2skos_spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or "local[%d]" % cpus
    if master.startswith("local[") and master != "local[*]":
        # tolerate Spark's local[N,maxFailures] form
        cpus = int(master[6:-1].split(",")[0])
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # Heap sizing: enough that 32 concurrent tasks don't GC-thrash, but
    # FIXED (-Xms=-Xmx) and pre-touched.  This sandbox is a micro-VM
    # where first-touch page faults exit to the hypervisor (~90% kernel
    # time observed during heap growth): demand-paging the heap inside a
    # shuffle serializes the whole executor pool.  AlwaysPreTouch moves
    # that cost to JVM startup, off the measured path — on a real
    # cluster the same flags are standard practice for steady-state
    # executors.
    default_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                 "%dg" % _default_heap_gb(cpus))

    builder = (
        SparkSession.builder.appName(app_name).master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting for the
        # canonicalization self-joins (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-batch UDF hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Pin the session timezone: parquet timestamps read as NTZ and
        # all epoch arithmetic (sessionization gaps, windowed metrics)
        # treats naive time as UTC — matching the DuckDB oracle and
        # making results independent of the host/JVM timezone.
        .config("spark.sql.session.timeZone", "UTC")
        # Keep scans prunable.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_mem)
        .config("spark.driver.extraJavaOptions",
                "-Xms%s -XX:+AlwaysPreTouch" % default_mem)
    )
    # Shuffle/spill on tmpfs when available: in this sandbox the single
    # backing disk does not scale with task slots (a real cluster adds
    # disks with executors, so local[N] disk I/O would understate
    # scaling).
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        local_dir = os.path.join(shm, "spark-local")
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # executors must import this package even without --py-files
    from .shiplib import ensure_shipped
    ensure_shipped(spark)
    return spark
