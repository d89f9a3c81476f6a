"""Guards that keep the benchmark timing fresh invocations.

A re-collected DataFrame reuses the shuffle and broadcast stages AQE already
materialized, so only its final job runs. These tests pin that the
benchmark's operations build anew and therefore run every job.

Run from the repository root (about half a minute, one local session)::

    python3 -m pytest perfbench/test_fresh_guard.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run as launcher  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def bench():
    work = os.path.join(launcher.WORK, "guard")
    shutil.rmtree(work, ignore_errors=True)
    launcher.pin_environment(work)
    from pkg2_spark.catalog import load_tables

    r = workloads.Run(work, seed=1, seconds=1, traced=True)
    spark = workloads.start_session(r)
    sf_dir = os.path.join(work, "bench_sf0.01")
    gen.make_tables(sf_dir, sf=0.01)
    load_tables(spark, sf_dir)
    yield r, spark, sf_dir
    launcher.stop(spark)


def test_fresh_join_runs_every_job_and_recollect_only_the_last(bench):
    r, spark, sf_dir = bench
    workloads.fresh_query(r, spark, sf_dir, "q_join_multiway", probe=True)
    fresh_jobs = r.phase_stats["build"][-1]["jobs"] + r.phase_stats["collect"][-1]["jobs"]
    assert fresh_jobs > 1

    from pkg2_spark.registry import QUERIES

    df = QUERIES["q_join_multiway"](spark, sf_dir)
    df.toPandas()
    group, again = r.phase("recollect")
    with group:
        df.toPandas()
    assert again["jobs"] == 1


def test_every_op_calls_the_query_function_anew(bench, monkeypatch):
    r, spark, sf_dir = bench
    from pkg2_spark import registry

    calls = []
    fn = registry.QUERIES["q_join_multiway"]

    def counting(*a):
        calls.append(a)
        return fn(*a)

    monkeypatch.setitem(registry.QUERIES, "q_join_multiway", counting)
    keys = set()
    for probe in (False, True, False):
        _, pdf = workloads.fresh_query(r, spark, sf_dir, "q_join_multiway", probe=probe)
        keys.add(workloads.result_key(pdf))
    assert len(calls) == 3
    assert len(keys) == 1
