"""SparkSession factory tuned for the validation engine.

Defaults assume local[N] testing but every setting is the one we would
ship on a 1000-executor cluster: AQE on (runtime re-plan + skew-join
splitting), Arrow on (all pandas-UDF traffic is Arrow batches), UTC
session timezone (bit-stable vs external oracles), and shuffle
partitions sized to the parallelism at hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_MB = 12 * 1024


def default_driver_mem() -> str:
    """``min(12g, MemTotal/3)``. The heap is pre-touched (below), so it is
    resident from JVM start: on a 15 GB host a 12g heap leaves no room
    for a second engine JVM (a CLI run started as a subprocess), and the
    kernel kills one of them. A third of the host leaves that room. 12g
    when ``/proc/meminfo`` cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, kb // 3 // 1024)}m"


def get_spark(
    app_name: str = "anomalydetection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback all
    cores).  On a real cluster the caller passes master via spark-submit and
    this function leaves it untouched. The driver heap is
    ``$SPARK_DRIVER_MEM`` when set, else ``default_driver_mem()``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # binary image payloads: keep scan partitions bounded so a batch of
        # bytes columns fits comfortably in executor memory at any SF
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", driver_mem)
        # Fixed, pre-touched heap. Lazily-faulted guest memory (micro-VM /
        # overcommitted hosts) makes first-touch page faults exit to the
        # hypervisor: a growing heap then burns 40-75% SYSTEM time and
        # run-to-run variance is 5-10x (measured here: 4M-row suite
        # 20-106s without pre-touch, 5-7s with). Paying the fault cost
        # once at JVM startup is also standard practice for executor JVMs
        # on real clusters.
        # 512m code cache: the default 240m fills after ~60 warmed
        # codegen-heavy plans in one JVM (wide fused aggs, 64-term bit
        # sums); once full the JIT stops compiling and every LATER query
        # runs partially interpreted — measured here as a uniform
        # 15-50% bench inflation that vanished in isolated runs.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch "
            "-XX:ReservedCodeCacheSize=512m "
            + os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
