"""Session defaults that must fit the host (no Spark needed)."""
from __future__ import annotations

import os

from climatemind_ontology_processing_spark.session import driver_memory


def test_driver_memory_is_half_of_ram_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(15 << 30) == "7680m"
    assert driver_memory(4 << 30) == "2048m"
    assert driver_memory(32 << 30) == "16384m"
    assert driver_memory(256 << 30) == "16384m"
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert driver_memory() == driver_memory(phys)


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory(15 << 30) == "3g"
