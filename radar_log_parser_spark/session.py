"""SparkSession factory with scale-oriented defaults.

local[N] is the sandbox stand-in for a multi-executor cluster; every setting
here is chosen to behave identically on a real cluster (AQE, Arrow batching,
shuffle-partition sizing) — see BASELINE.md scaling gate.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Default driver heap = this share of the host's memory. In local[N] the
# executors run inside the driver JVM while the Python UDF workers and the
# OS page cache live outside it; half (8 GiB of a 15.7 GiB host) runs the
# test suite green.
HEAP_FRACTION = 0.5
HEAP_CAP = 48 << 30  # the heap the round-6 benchmarks were measured with

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


class DriverMemoryError(RuntimeError):
    """The requested driver heap cannot be mapped on this host."""


def host_memory_bytes() -> int:
    """The cgroup memory limit if one is set, else the host's MemTotal."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():  # cgroup v2 writes "max" when unlimited
            total = min(total, int(limit))
    return total


def driver_memory(requested: str | None, host_bytes: int) -> str:
    """spark.driver.memory (also the -Xms pre-size): the SPARK_DRIVER_MEM
    override if given, else HEAP_FRACTION of the host capped at HEAP_CAP.

    Raises DriverMemoryError, before any JVM starts, when the override is
    not a JVM size or exceeds the host's memory — the JVM would otherwise
    die at start with an mmap failure and a crash dump."""
    if requested is None:
        return f"{min(int(host_bytes * HEAP_FRACTION), HEAP_CAP) >> 20}m"
    m = re.fullmatch(r"(\d+)([kmgt])b?", requested.strip().lower())
    if m is None:
        raise DriverMemoryError(
            f"SPARK_DRIVER_MEM={requested!r} is not a JVM size such as 8g or 512m"
        )
    if int(m.group(1)) * _UNITS[m.group(2)] > host_bytes:
        raise DriverMemoryError(
            f"SPARK_DRIVER_MEM={requested} exceeds the {host_bytes >> 20} MiB of "
            "memory available on this host"
        )
    return requested


def get_spark(
    app: str = "radar_log_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_threads = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
    shuffle_partitions = shuffle_partitions or max(2 * n_threads, 8)
    heap = driver_memory(os.environ.get("SPARK_DRIVER_MEM"), host_memory_bytes())
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        # pre-size the heap: lazy growth under G1 causes multi-x run-to-run
        # variance on batch workloads (measured 17s..46s for one job)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", f"-Xms{heap}"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # collect_list/collect_set aggregations run in
        # ObjectHashAggregateExec, whose default in-memory key budget
        # (fallbackThreshold=128 distinct keys per task) silently degrades
        # the whole aggregation to SORT-based once crossed — the fused
        # summary's level-1 grain (issue × proc_rank × line_bucket) sits
        # right at that boundary, so tasks flip between hash and full-sort
        # plans run-to-run. The per-key buffers here are bounded (a few
        # joined strings per pair), so a generous key budget is safe and
        # keeps the agg hash-based at any corpus size (keys/task stays
        # O(issues × buckets/task), independent of total rows).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
