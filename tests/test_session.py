"""Engine session defaults (no session is started here)."""

import os

import pytest

from dbp_etl_spark.session import default_driver_memory


def _mb(setting: str) -> int:
    assert setting.endswith("m"), setting
    return int(setting[:-1])


def test_default_driver_memory_fits_physical_memory(tmp_path):
    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo on this platform")
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert _mb(default_driver_memory()) <= total_kb // 1024
    # half of a small host, 48g on a large one
    info = tmp_path / "meminfo"
    info.write_text("MemTotal:       15728640 kB\nMemFree:         1000 kB\n")
    assert _mb(default_driver_memory(str(info))) == 7680
    info.write_text("MemTotal:      263000000 kB\n")
    assert _mb(default_driver_memory(str(info))) == 48 * 1024
