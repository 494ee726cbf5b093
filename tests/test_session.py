"""Session sizing without the SPARK_GRAFT_CPUS override."""

from __future__ import annotations

import os

from roblox_vector_search_datagen_spark import session


def test_cpus_default_to_host_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._cpus() == "3"
