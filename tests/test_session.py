"""Driver heap sizing: the default fits the host, the override is checked
before any JVM starts."""

from __future__ import annotations

import pytest

from radar_log_parser_spark.session import (
    DriverMemoryError,
    driver_memory,
    host_memory_bytes,
)

GIB = 1 << 30


def test_default_heap_is_half_the_host_capped_at_48g():
    assert driver_memory(None, 16 * GIB) == "8192m"
    assert driver_memory(None, 16479424 * 1024) == "8046m"  # a 15.7 GiB host
    assert driver_memory(None, 512 * GIB) == "49152m"


def test_override_passes_through_when_it_fits():
    assert driver_memory("4g", 16 * GIB) == "4g"
    assert driver_memory("16g", 16 * GIB) == "16g"


@pytest.mark.parametrize("requested", ["48g", "16385m", "1t"])
def test_override_larger_than_host_is_a_named_error(requested):
    with pytest.raises(DriverMemoryError, match=f"SPARK_DRIVER_MEM={requested} exceeds"):
        driver_memory(requested, 16 * GIB)


@pytest.mark.parametrize("requested", ["", "8", "eight", "8x"])
def test_override_must_be_a_jvm_size(requested):
    with pytest.raises(DriverMemoryError, match="not a JVM size"):
        driver_memory(requested, 16 * GIB)


def test_host_memory_is_positive():
    assert host_memory_bytes() > 0
