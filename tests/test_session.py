"""Session sizing follows the box, never a fixed box size."""

from __future__ import annotations

import os

import pytest

from pcap_to_parquet_spark.session import BUILD_CONF, driver_memory, parse_byte_conf

GIB = 1 << 30


@pytest.mark.parametrize(
    ("phys", "expect"),
    [
        (15 * GIB + GIB // 2, "7g"),  # half, rounded down to whole GiB
        (16 * GIB, "8g"),
        (64 * GIB, "24g"),  # capped at the old fixed value
        (512 * GIB, "24g"),
        (3 * GIB, "1g"),
        (GIB, "1g"),  # never below 1g
        (GIB // 4, "1g"),
    ],
)
def test_driver_memory_is_half_of_physical_memory_capped(phys, expect):
    assert driver_memory(phys) == expect


def test_build_conf_driver_memory_fits_this_box():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = parse_byte_conf(BUILD_CONF["spark.driver.memory"])
    assert BUILD_CONF["spark.driver.memory"] == driver_memory(phys)
    assert heap <= max(phys // 2, GIB)
