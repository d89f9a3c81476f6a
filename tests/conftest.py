from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pkg2_spark.compare import duckdb_connect  # noqa: E402
from pkg2_spark.session import get_session  # noqa: E402

# Fast differential data; the driver's own gate runs at sf0.01.
SF_DIR = os.environ.get("PKG2_SPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="pkg2_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb_connect(sf_dir)
    yield con
    con.close()


class ActionLog:
    """Counts the Spark actions of a fixpoint loop with job groups and the
    status tracker. ``wrap(module, name, ...)`` runs every call of those
    module functions in a job group of its own; ``run(fn)`` calls ``fn``
    under an outer group. Afterwards ``names`` lists the wrapped calls in
    order, ``stray_jobs`` the jobs that ran outside them (an emptiness
    probe, a count, a collect), and ``each_ran_a_job`` whether every
    wrapped call was a real action. Adaptive execution runs each shuffle
    stage of an action as its own job, so one action is several jobs."""

    def __init__(self, sc, monkeypatch):
        import uuid

        self.sc, self.monkeypatch = sc, monkeypatch
        self.outer = f"actions-{uuid.uuid4().hex}"
        self.calls: list = []

    def wrap(self, module, *names):
        for name in names:
            fn = getattr(module, name)

            def wrapped(*args, _fn=fn, _name=name, **kw):
                group = f"{self.outer}-{len(self.calls)}"
                self.calls.append((_name, group))
                self.sc.setJobGroup(group, "action")
                try:
                    return _fn(*args, **kw)
                finally:
                    self.sc.setJobGroup(self.outer, "loop")

            self.monkeypatch.setattr(module, name, wrapped)

    def run(self, fn):
        self.calls.clear()
        self.sc.setJobGroup(self.outer, "loop")
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def names(self):
        return [name for name, _ in self.calls]

    @property
    def stray_jobs(self):
        return self.sc.statusTracker().getJobIdsForGroup(self.outer)

    @property
    def each_ran_a_job(self):
        tracker = self.sc.statusTracker()
        return all(tracker.getJobIdsForGroup(g) for _, g in self.calls)


@pytest.fixture
def action_log(spark, monkeypatch):
    return ActionLog(spark.sparkContext, monkeypatch)
