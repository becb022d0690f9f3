from __future__ import annotations

import os


def test_get_spark_defaults_to_the_usable_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS the session plans on the cores this
    process may run on."""
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

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    session.get_spark()
    n = len(os.sched_getaffinity(0))
    assert calls["master"] == f"local[{n}]"
    assert calls["spark.sql.shuffle.partitions"] == str(n)
