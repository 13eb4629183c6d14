"""Driver heap default sized from the host's /proc/meminfo."""

from __future__ import annotations

from jaccard_ml_spark.session import driver_memory_from_meminfo


def test_driver_memory_is_half_of_memtotal_capped_at_32g():
    def mem(kb):
        return (f"MemTotal:       {kb} kB\n"
                "MemFree:         1024 kB\n")

    assert driver_memory_from_meminfo(mem(16 * 1024 * 1024)) == "8192m"
    assert driver_memory_from_meminfo(mem(16_384_000)) == "8000m"
    assert driver_memory_from_meminfo(mem(128 * 1024 * 1024)) == "32768m"
    assert driver_memory_from_meminfo("MemFree: 1 kB\n") == "32g"
