"""Host-derived session defaults, checked without starting a JVM."""

from __future__ import annotations

import os

import pytest

from tlmc_etl_spark.session import local_resources

_ENV = ("SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY")


def _host(monkeypatch, cores: int, phys_bytes: int) -> None:
    for var in _ENV:
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cores)))
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


@pytest.mark.parametrize(
    "cores, phys_gb, want",
    [
        (4, 15.6, ("4", "4", "7g")),  # half of 15.6 GB, floored to whole GB
        (64, 512, ("64", "64", "48g")),  # half is 256g: capped at 48g
        (1, 1, ("1", "1", "1g")),  # never below 1g
    ],
)
def test_defaults_come_from_the_host(monkeypatch, cores, phys_gb, want):
    _host(monkeypatch, cores, int(phys_gb * 2**30))
    assert local_resources() == want


def test_environment_overrides_the_host(monkeypatch):
    _host(monkeypatch, 4, 16 * 2**30)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert local_resources() == ("8", "8", "8g")
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert local_resources() == ("8", "3", "2g")
