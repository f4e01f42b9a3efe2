"""Session defaults follow the host."""

import os


def test_driver_memory_fits_the_host(spark):
    """Unset, SPARK_DRIVER_MEM defaults to a driver heap that fits in the
    host's physical RAM; set, the session asks for exactly that value."""
    asked = spark.sparkContext.getConf().get("spark.driver.memory")
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        assert asked == override
        return
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    with open("/proc/meminfo") as f:
        total = int(f.readline().split()[1]) * 1024
    assert to_bytes(asked) <= total, \
        f"driver asks for {asked}, host has {total / 2 ** 30:.1f} GiB"


def test_parallelism_follows_the_host(spark):
    """The session runs on SPARK_GRAFT_CPUS cores, or on the process's CPU
    affinity when that is unset."""
    want = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    assert spark.sparkContext.defaultParallelism == want
