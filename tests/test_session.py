"""Session defaults sized to the host."""

import os

from mapreduce_google_spark import session
from mapreduce_google_spark.session import _default_master


def test_default_master_falls_back_to_the_cpus_of_this_process(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _default_master() == f"local[{len(os.sched_getaffinity(0))}]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_master() == "local[3]"


def test_default_master_without_sched_getaffinity(monkeypatch):
    """``os.sched_getaffinity`` is Linux only: elsewhere the fallback
    is the machine's CPU count."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delattr(session.os, "sched_getaffinity")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    assert _default_master() == "local[6]"
