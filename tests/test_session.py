"""Session defaults fit the machine they run on."""

import os

from dxf_postgis_converter_spark.session import _driver_memory


def _physical_ram_bytes():
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    mem = _driver_memory()
    assert mem.endswith("m")
    heap = int(mem[:-1]) << 20
    assert 0 < heap < _physical_ram_bytes()
    assert heap <= 16 << 30


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _driver_memory() == "3g"
