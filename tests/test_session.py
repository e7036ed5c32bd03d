"""Session defaults that depend on the host."""

import os

from rdf_to_text_spark.session import DRIVER_MEMORY_CAP_MB, driver_memory


def test_driver_memory_default_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    got = driver_memory()
    assert got.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(got[:-1]) <= min(phys_mb, DRIVER_MEMORY_CAP_MB)


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
