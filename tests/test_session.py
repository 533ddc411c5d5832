"""Session defaults fit the machine they run on."""

import os
import re
from pathlib import Path

from dxf_postgis_converter_spark.session import _driver_memory, materialize


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


_BARRIER = re.compile(r"\.(localCheckpoint|persist|unpersist|checkpoint)\(|\.cache\(\)")


def test_materialization_policy_has_one_home():
    """Only session.materialize cuts lineage or caches; operators call it."""
    pkg = Path(__file__).resolve().parents[1] / "dxf_postgis_converter_spark"
    hits = [f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if _BARRIER.search(line)]
    assert hits and all(h.startswith("session.py:") for h in hits), hits


def test_materialize_is_lazy_and_cuts_lineage(spark):
    df = spark.range(1000).selectExpr("id", "id * 2 AS y").filter("y % 3 = 0")
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup())
    m = materialize(df)
    assert set(tracker.getJobIdsForGroup()) == jobs  # no job of its own
    assert "Filter" not in m._jdf.queryExecution().analyzed().toString()
    assert m.count() == df.count() == 334
