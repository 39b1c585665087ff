from __future__ import annotations

import pytest

from icenetetl_spark.session import driver_memory

MEMINFO = """MemTotal:       16479424 kB
MemFree:         1203412 kB
MemAvailable:    9876543 kB
"""


@pytest.mark.parametrize(
    "text, expected",
    [
        (MEMINFO, "9655m"),  # 60% of MemTotal
        ("MemTotal:       263856124 kB\n", "16384m"),  # capped at 16g
        ("MemFree: 12 kB\n", "16g"),  # no MemTotal line
        (None, "16g"),  # unreadable file
    ],
)
def test_driver_memory_from_meminfo(tmp_path, monkeypatch, text, expected):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    meminfo = tmp_path / "meminfo"
    if text is not None:
        meminfo.write_text(text)
    assert driver_memory(str(meminfo)) == expected


def test_driver_memory_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(MEMINFO)
    assert driver_memory(str(meminfo)) == "3g"
