"""Session settings that are computed rather than fixed, tested
without starting a JVM."""

from __future__ import annotations

import pytest

from workhop2_etl_spark.session import MAX_DRIVER_MEMORY_MB, driver_memory

GIB = 1 << 30


@pytest.fixture
def no_env(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)


def test_driver_memory_is_half_of_physical_memory(no_env):
    assert driver_memory(physical_bytes=15 * GIB) == f"{15 * 1024 // 2}m"
    assert driver_memory(physical_bytes=8 * GIB) == "4096m"


def test_driver_memory_is_capped(no_env):
    assert driver_memory(physical_bytes=32 * GIB) == f"{MAX_DRIVER_MEMORY_MB}m"
    assert driver_memory(physical_bytes=512 * GIB) == "16384m"


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "24g")
    assert driver_memory(physical_bytes=4 * GIB) == "24g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    assert driver_memory(physical_bytes=4 * GIB) == "2048m"


def test_driver_memory_reads_this_machine(no_env):
    mb = int(driver_memory().removesuffix("m"))
    assert 0 < mb <= MAX_DRIVER_MEMORY_MB
