"""Session defaults sized to the host."""

import os

from mapreduce_google_spark import session
from mapreduce_google_spark.session import (
    _default_master,
    _default_shuffle_partitions,
)


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


def test_default_shuffle_partitions_count_the_cpus_of_this_process(monkeypatch):
    """``local[*]`` and an unparseable master are sized by the affinity
    mask, not by the machine's CPU count: two CPUs of a 64-CPU machine
    give 2 × 2, floored at 8."""
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1})
    monkeypatch.setattr(session.os, "cpu_count", lambda: 64)
    assert _default_shuffle_partitions("local[*]") == 8
    assert _default_shuffle_partitions("yarn") == 8
    assert _default_shuffle_partitions("local[6]") == 12
    assert _default_shuffle_partitions("local[2]") == 8
