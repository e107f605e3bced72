"""Session settings sized from the machine."""

import logging

import pytest

from selfclean_spark.session import clamp_driver_memory

_GIB_KIB = 1024 * 1024


@pytest.mark.parametrize(
    "requested, mem_total_kib, want",
    [
        ("8g", 15 * _GIB_KIB, "7680m"),
        ("8g", 4 * _GIB_KIB, "2048m"),
        ("48G", 128 * _GIB_KIB, "48G"),
        ("4g", 15 * _GIB_KIB, "4g"),
        ("4017m", 15 * _GIB_KIB, "4017m"),
        ("9000", 16 * _GIB_KIB, "8192m"),
        ("8g", None, "8g"),
        ("lots", 4 * _GIB_KIB, "lots"),
    ],
)
def test_driver_memory_clamped_to_half_of_mem_total(
    requested, mem_total_kib, want
):
    assert clamp_driver_memory(requested, mem_total_kib) == want


def test_driver_memory_clamp_warns_once_with_both_values(caplog):
    with caplog.at_level(logging.WARNING, logger="selfclean_spark.session"):
        assert clamp_driver_memory("8g", 4 * _GIB_KIB) == "2048m"
        assert clamp_driver_memory("1g", 4 * _GIB_KIB) == "1g"
    assert len(caplog.records) == 1
    assert "8g" in caplog.text and "2048m" in caplog.text
