"""``session.get_spark`` defaults that can be checked without a JVM.

The driver-memory default is the smaller of 24g and half the host's
physical memory: at a flat 24g, a few sessions side by side on a 16 GB
host (a test run beside a plan sweep) let the JVMs outgrow the host.
``SPARK_DRIVER_MEMORY`` still wins over the default.
"""

from __future__ import annotations

import os

from milvus_cdc_spark import session

GIB = 2**30


def _host(monkeypatch, phys_bytes: int, page: int = 4096):
    values = {"SC_PHYS_PAGES": phys_bytes // page, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(os, "sysconf", lambda name: values[name])


def test_driver_memory_default_is_half_of_a_small_host(monkeypatch):
    _host(monkeypatch, 16 * GIB)
    assert session._default_driver_memory() == "8192m"


def test_driver_memory_default_caps_at_24g(monkeypatch):
    _host(monkeypatch, 48 * GIB)
    assert session._default_driver_memory() == "24g"
    _host(monkeypatch, 256 * GIB)
    assert session._default_driver_memory() == "24g"


def test_driver_memory_default_without_sysconf(monkeypatch):
    def missing(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", missing)
    assert session._default_driver_memory() == "24g"


def test_env_var_wins_over_the_default(monkeypatch):
    """The builder's conf reads the env var first; captured from a fake
    builder so no session starts."""
    seen = {}

    class Builder:
        def __getattr__(self, name):
            return lambda *a: self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return None

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    _host(monkeypatch, 16 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    session.get_spark()
    assert seen["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    session.get_spark()
    assert seen["spark.driver.memory"] == "8192m"
