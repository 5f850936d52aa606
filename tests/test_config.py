"""Session defaults that must fit the host they run on."""

import os

from golden_horse_spark.config import driver_memory


def test_driver_memory_default_fits_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    gib = 2**30
    assert driver_memory(128 * gib) == "49152m"  # the former fixed 48g
    assert driver_memory(15 * gib) == "5760m"
    assert driver_memory(1 * gib) == "1024m"  # floor
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(driver_memory()[:-1]) * 2**20 < host


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(128 * 2**30) == "3g"
