"""Session factory: the driver heap is sized from the host."""

from __future__ import annotations

from character_identification_spark.session import default_driver_memory, mem_total_mb


def _mb(spark, size: str) -> int:
    return int(spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(size))


def test_default_heap_is_half_of_physical_memory(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    total = mem_total_mb()
    assert total is not None
    assert _mb(spark, default_driver_memory()) == min(32 * 1024, total // 2)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_configured_heap_fits_physical_memory(spark):
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _mb(spark, heap) <= mem_total_mb()
