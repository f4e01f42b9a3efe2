"""SparkSession factory tuned for the engine.

Local mode stands in for a multi-executor cluster; all sizing decisions
(shuffle partitions, AQE, broadcast threshold) are expressed as they would be
on a 1000-executor cluster and scaled down via environment variables.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

RUNTIME_CONFS = {
    # AQE: runtime coalesce + skew-join mitigation (no query salts its keys)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # cover joins explode cell arrays; keep the post-shuffle target modest
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
    # Engine work is compute-heavy per byte (geometry refine, array fan-out):
    # cap scan partitions small so file-count/row-group packing can't strangle
    # the narrow pre-shuffle pipeline (parquet can't split below file level).
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "131072",
}


def _tmpfs_ok() -> bool:
    """True when /dev/shm should back spark.local.dir: explicit env opt-in
    (SPARK_GRAFT_TMPFS=1/0) wins; otherwise require >= 16 GiB free tmpfs."""
    opt = os.environ.get("SPARK_GRAFT_TMPFS")
    if opt is not None:
        return opt == "1"
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize >= 16 * 1024 ** 3
    except OSError:
        return False


def mem_total_mib() -> int:
    """The host's physical RAM (``/proc/meminfo`` MemTotal) in MiB."""
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def _default_driver_mem() -> str:
    """Half the host's physical RAM, capped at 24 GiB: the driver heap must
    fit in the host beside the Python workers."""
    return f"{min(24 * 1024, mem_total_mib() // 2)}m"


def get_spark(app_name: str = "osm-spark-engine",
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Shuffle/spill to tmpfs when it can hold real spill: the sandbox's /tmp
    # is disk-backed and serializes shuffle IO (on a real cluster this is
    # NVMe/local SSD).  tmpfs is RAM-backed, so on memory-tight hosts a large
    # shuffle would ENOSPC instead of spilling — gate on free capacity, with
    # SPARK_GRAFT_TMPFS=1/0 as the explicit override.
    if _tmpfs_ok():
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_confs(spark: SparkSession) -> None:
    """Best-effort apply runtime-settable confs to a session we didn't build
    (a caller may pass its own); each conf that cannot be set is reported on
    stderr and skipped."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001
            first = str(e).strip().split("\n", 1)[0]
            print(f"apply_runtime_confs: could not set {k}={v}: "
                  f"{type(e).__name__}: {first}", file=sys.stderr)
