"""get_spark sizes the local session from the host: one shuffle partition
per core, Spark's own AQE coalescing floor, and a heap that fits the host."""

import os

from blink_spark.session import ENGINE_CONF

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _bytes(size: str) -> int:
    size = size.strip().lower().rstrip("b")
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def test_shuffle_partitions_follow_cores(spark):
    # the conftest session is local[4]
    assert spark.sparkContext.defaultParallelism == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_no_forced_parallelism_or_coalesce_floor(spark):
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum", None) is None
    assert not spark.sparkContext.getConf().contains("spark.default.parallelism")


def test_engine_conf_applied(spark):
    for key, value in ENGINE_CONF.items():
        assert spark.conf.get(key) == value, key


def test_driver_memory_fits_host(spark):
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    pinned = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if pinned:
        assert mem == pinned
    else:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        assert 0 < _bytes(mem) <= phys // 2
