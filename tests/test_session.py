"""Session sizing follows the box, never a fixed box size, and the
codegen class cache holds the working set of a query mix."""

from __future__ import annotations

import os

import pytest
from workloads import QUERY_MIX

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES
from pcap_to_parquet_spark.session import (
    BUILD_CONF,
    codegen_compiles,
    driver_memory,
    parse_byte_conf,
)
from tests.conftest import SF0001

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


def test_live_session_reports_codegen_cache_size(spark):
    # a static conf: it holds only because get_spark built the session
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert BUILD_CONF["spark.sql.codegen.cache.maxEntries"] == "4096"


def test_query_mix_second_pass_compiles_nothing(spark):
    # One pass of the benchmark's query mix needs more compiled classes
    # than Spark's default cache of 100 holds, so with the default every
    # later pass evicts and recompiles the same code.
    def one_pass(names):
        for name in names:
            QUERIES[name](spark, SF0001).write.format("noop").mode("overwrite").save()

    one_pass(list(QUERY_MIX))
    before = codegen_compiles(spark)
    one_pass(list(reversed(QUERY_MIX)))
    assert codegen_compiles(spark) - before == 0
