"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same config block is what we would ship
on a 1000-executor cluster (AQE on, adaptive coalescing/skew-join, Arrow for
the pandas-UDF slow path). Nothing here is local-mode-specific except the
master URL, which callers override in cluster deployments.

Sizing comes from the host, with environment overrides:

- ``SPARK_GRAFT_CPUS`` sets the ``local[N]`` core count and the default
  shuffle partitions (default: ``os.cpu_count()``).
- ``SPARK_GRAFT_DRIVER_MEM`` sets ``spark.driver.memory`` verbatim (e.g.
  ``"6g"``). When unset, :func:`driver_memory` derives it as
  ``DRIVER_MEM_FRACTION`` (0.5) of the host's usable memory: the smaller of
  ``MemTotal`` and the cgroup memory limit (v2 ``memory.max`` or v1
  ``memory.limit_in_bytes``). The other half is left for the JVM's off-heap
  memory (metaspace, code cache, Arrow/Netty direct buffers), the Python
  workers, and the driver-side numpy fast paths, which hold inputs up to
  their 2M-row caps in the Python process. A heap larger than the host does
  not fail at launch: G1 commits it lazily and the JVM dies of native OOM
  mid-run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEM_FRACTION = 0.5

_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # v2; "max" = no limit
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # v1; ~2**63 = no limit
)


def host_memory_bytes(cgroup_paths: tuple[str, ...] = _CGROUP_LIMITS) -> int:
    """Usable memory of this host: min(MemTotal, any cgroup memory limit)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")  # MemTotal
    for path in cgroup_paths:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def driver_memory(cgroup_paths: tuple[str, ...] = _CGROUP_LIMITS) -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` verbatim, else
    ``DRIVER_MEM_FRACTION`` of :func:`host_memory_bytes` in megabytes."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    mb = int(host_memory_bytes(cgroup_paths) * DRIVER_MEM_FRACTION) >> 20
    return f"{mb}m"


def get_spark(
    app_name: str = "aleph2_contrib_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Local mode = driver-only JVM; its heap is half the host's memory
        # (cgroup limit or MemTotal), or SPARK_GRAFT_DRIVER_MEM verbatim.
        # Must be set before JVM launch — a no-op on a running session.
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.maxResultSize", "8g")
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Start with one shuffle partition per core locally; AQE coalesces.
        # On a real cluster this would be ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for the pandas-UDF slow path (10-100x over row UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
