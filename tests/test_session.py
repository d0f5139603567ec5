"""Session-factory defaults that depend on the host."""

from __future__ import annotations

from mongo2pq_spark.session import default_driver_memory


def test_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemFree:         1000000 kB\n"
        "MemTotal:       16479424 kB\n"
        "MemAvailable:   9000000 kB\n"
    )
    # 16479424 kB / 2 = 8239712 kB = 8046.6 MiB, rounded down
    assert default_driver_memory(str(meminfo)) == "8046m"


def test_driver_memory_without_meminfo_keeps_16g(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"
