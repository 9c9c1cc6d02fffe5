"""Session defaults that are derived from the host, checked without
starting a JVM."""

import os

import pytest
from pyspark import SparkContext

from malstrom_spark import session

GIB = 1 << 30


@pytest.mark.parametrize(
    "phys_gib, heap",
    [(15, "7680m"), (64, "32768m"), (96, "48g"), (256, "48g")],
)
def test_default_driver_memory_is_48g_capped_at_half_of_ram(phys_gib, heap):
    assert session._default_driver_memory(phys_gib * GIB) == heap


def _submit_args(monkeypatch, driver_mem=None):
    """PYSPARK_SUBMIT_ARGS as _ensure_driver_memory would set it before
    the first JVM launch; the environment is restored afterwards."""
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "")
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    if driver_mem is not None:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", driver_mem)
    session._ensure_driver_memory()
    return os.environ["PYSPARK_SUBMIT_ARGS"]


def test_driver_memory_defaults_from_physical_memory(monkeypatch):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    want = session._default_driver_memory(phys)
    assert _submit_args(monkeypatch) == f"--driver-memory {want} pyspark-shell"


def test_driver_memory_env_overrides_default(monkeypatch):
    assert _submit_args(monkeypatch, "3g") == "--driver-memory 3g pyspark-shell"


def test_caller_submit_args_are_kept(monkeypatch):
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-memory 2g pyspark-shell")
    session._ensure_driver_memory()
    assert os.environ["PYSPARK_SUBMIT_ARGS"] == "--driver-memory 2g pyspark-shell"
