"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every setting here is chosen for the
1000-executor / 100 TB case and merely *also* works locally:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE fixes it.
- Arrow on — the few Pandas-UDF paths (multimodal stubs) batch via Arrow.
- ``spark.sql.shuffle.partitions`` defaults to a small number locally; on a
  real cluster callers pass ``shuffle_partitions`` sized to ~128 MB of
  post-shuffle data per partition.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cgroup_limit_bytes() -> int | None:
    """The container's memory limit, if one is set. /proc/meminfo reports
    the HOST's memory even inside a cgroup-limited container (Docker/K8s
    without lxcfs), so sizing the heap from it alone hands a 16 GB
    container an -Xmx24g the OOM-killer will enforce. cgroup v2 first,
    v1 fallback; "max" / the v1 no-limit sentinel mean unlimited."""
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw == "max":
            return None
        try:
            val = int(raw)
        except ValueError:
            continue
        # v1 reports ~2^63 when unlimited
        if 0 < val < 1 << 60:
            return val
    return None


def _host_mem_bytes() -> int:
    """Physical memory per /proc/meminfo (the HOST's view — cap with
    :func:`_cgroup_limit_bytes` before trusting it in a container)."""
    with open("/proc/meminfo") as fh:
        return int(fh.readline().split()[1]) * 1024


def _default_driver_mem() -> str:
    """SPARK_GRAFT_DRIVER_MEM if set; else half the *available* physical
    memory — min(host MemTotal, cgroup limit) — clamped to [4g, 24g]:
    enough to keep the cached-index bench out of GC thrash on a big box
    without requesting a heap a small CI container cannot back."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = _host_mem_bytes()
        limit = _cgroup_limit_bytes()
        if limit is not None:
            total = min(total, limit)
        half_gb = total // (2 * 1024**3)
    except (OSError, ValueError, IndexError):  # non-Linux fallback
        half_gb = 8
    return f"{max(4, min(24, half_gb))}g"


# Spark's codegen cache (spark.sql.codegen.cache.maxEntries, default
# 100) holds the compiled Janino classes, keyed by generated source. The
# facade benchmark's set-up plus two cycles compile 269 distinct classes
# (facade_serve) and 176 (facade_ingest), measured with an unbounded
# cache by tools/cpu_split.py; at 100 entries a warm serve cycle evicted
# and recompiled ~135 of them. 1000 covers both working sets with room;
# an entry is one loaded class, KBs of driver heap.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "grape-vector-db-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``local[*]``)
    so the same entrypoint works for tests, bench, and cluster submit (where
    ``master`` is left to spark-submit).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # in local mode this single JVM holds every cached index table;
        # at 8g the bench tail ran under GC pressure (trivial queries
        # stretching 0.6s -> 3.7s after ~170 cached-table queries) —
        # 24g removed it (total 139s -> 129s). Sized to the HOST so a
        # 16 GB CI container is not handed an -Xmx24g it cannot honor
        # (the cgroup OOM-killer fires where GC throttling should).
        # On a cluster this sizes only the driver.
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events table is written with nanosecond timestamps;
        # read them as long (we convert to TIMESTAMP at the loader)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()
