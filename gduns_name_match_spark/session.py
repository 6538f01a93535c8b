"""SparkSession factory tuned for the ER workload.

Local-mode in this sandbox; the same settings (AQE, Arrow, skew join) are the
ones we would ship to a 1000-executor cluster via spark-submit --conf.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Repo root containing the package — Python workers do NOT inherit the
# driver's sys.path, so UDF closures referencing this package fail to
# deserialize unless the package is on the workers' PYTHONPATH. On a real
# cluster this is `spark-submit --py-files gduns_name_match_spark.zip`
# (scripts/package_pyfiles.sh builds it); in local mode exporting PYTHONPATH
# before the JVM forks the worker daemon achieves the same.
_PKG_ROOT = str(Path(__file__).resolve().parent.parent)


def default_driver_memory() -> str:
    """A quarter of the usable RAM, at least 1 GiB, as a JVM size string.

    Usable RAM is physical RAM, or the cgroup v2 memory limit when a
    container sets a lower one. A fixed heap does not fit every host: 32g
    on a 15 GiB machine let the JVM grow until the kernel OOM-killed it,
    while the Python workers need the rest of the RAM beside it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        limit = "max"
    if limit.isdigit():
        ram = min(ram, int(limit))
    return f"{max(1024, ram // (4 * 1024 * 1024))}m"


def get_spark(
    app_name: str = "gduns-er",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism level for local mode (local[cores]); defaults to
    $SPARK_GRAFT_CPUS or '*'. shuffle_partitions defaults to max(cores, 32)
    locally; on a real cluster this would be sized to ~2-3x total cores and
    AQE coalesces the rest.
    """
    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_ROOT + (os.pathsep + existing if existing else "")
        )

    cores_s = str(cores) if cores else os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores_s == "*" else max(int(cores_s), 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores_s}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor; $SPARK_DRIVER_MEM
        # overrides the RAM-derived default
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
