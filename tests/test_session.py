"""Host-fitted session defaults (pure functions, no JVM)."""

from metaprofi_spark.plans.session import default_driver_memory


def _meminfo(kb: int) -> str:
    return f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n"


def test_driver_memory_is_half_of_host_ram():
    assert default_driver_memory(_meminfo(16 * 1024 * 1024)) == "8g"
    # a 15.7 GiB host rounds down, never above half of RAM
    assert default_driver_memory(_meminfo(16479424)) == "7g"


def test_driver_memory_is_clamped():
    assert default_driver_memory(_meminfo(1024 * 1024)) == "1g"
    assert default_driver_memory(_meminfo(512 * 1024 * 1024)) == "48g"


def test_driver_memory_without_memtotal():
    assert default_driver_memory("MemFree: 10 kB\n") == "1g"
