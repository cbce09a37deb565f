"""Session defaults: the master and the shuffle partitions follow the cores
this process may run on, unless an argument or environment variable says
otherwise.  Tested on the resolver alone, without a second session."""

from __future__ import annotations

import os

from commoncrawlnewsdataset_spark import session


def test_defaults_follow_usable_cores(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.resolve_parallelism(env={}) == ("local[3]", 3)


def test_environment_then_arguments_take_precedence(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_SHUFFLE": "16"}
    assert session.resolve_parallelism(env=env) == ("local[8]", 16)
    env["SPARK_GRAFT_MASTER"] = "local[2]"
    assert session.resolve_parallelism(env=env) == ("local[2]", 16)
    assert session.resolve_parallelism("local[5]", 7, env=env) == ("local[5]", 7)
    assert session.resolve_parallelism(env={"SPARK_GRAFT_CPUS": "6"}) == ("local[6]", 3)
