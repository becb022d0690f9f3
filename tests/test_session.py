from __future__ import annotations

import os

import pytest


@pytest.fixture
def recorded(monkeypatch):
    """The settings ``get_spark`` passes to the session builder."""
    from raise_featurestore_spark import session

    calls = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            calls["master"] = master
            return self

        def config(self, key, value):
            calls[key] = value
            return self

        def getOrCreate(self):
            return calls

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    return calls


def test_get_spark_defaults_to_the_usable_cores(monkeypatch, recorded):
    """Without SPARK_GRAFT_CPUS the session plans on the cores this
    process may run on."""
    from raise_featurestore_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_spark()
    n = len(os.sched_getaffinity(0))
    assert recorded["master"] == f"local[{n}]"
    assert recorded["spark.sql.shuffle.partitions"] == str(n)


@pytest.mark.parametrize("gib,want", [(15, "7680m"), (64, "16384m")])
def test_driver_memory_defaults_to_half_the_box(monkeypatch, recorded, gib, want):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is half the
    physical memory, capped at 16g; the variable still overrides it."""
    from raise_featurestore_spark import session

    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    session.get_spark()
    assert recorded["spark.driver.memory"] == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    session.get_spark()
    assert recorded["spark.driver.memory"] == "2g"
