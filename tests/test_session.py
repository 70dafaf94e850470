"""The session's default driver heap, sized from the machine's memory."""

from __future__ import annotations

import pytest

from mapreducego_spark.session import default_driver_memory


@pytest.mark.parametrize("mem_total_kib, want", [
    (15 * 1024 * 1024, "10240m"),   # two thirds of a 15 GiB machine
    (64 * 1024 * 1024, "16384m"),   # capped at 16g
    (3 * 1024 * 1024 + 512, "2048m"),
])
def test_driver_memory_is_two_thirds_of_mem_total_at_most_16g(
    tmp_path, mem_total_kib, want
):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kib} kB\n"
        "MemFree:         1024 kB\n"
        "MemAvailable:    2048 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


def test_driver_memory_falls_back_to_16g_without_mem_total(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:         1024 kB\n")
    assert default_driver_memory(str(meminfo)) == "16g"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
