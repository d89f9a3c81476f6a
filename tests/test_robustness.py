"""Robustness checks: approx-sketch tolerance and empty-input behavior.

- The approx queries are rows-only in the oracle gate (HLL / KLL sketches
  can't hash-match across engines — SURVEY.md §2.4); here they're bounded
  against the exact answer instead (±5%), so "rows-only" never degrades
  into "unchecked".
- Every operator must behave on EMPTY inputs (0-row tables with the right
  schema): return an empty (or well-defined aggregate) result, never throw.
  At 100 TB, empty partitions/partitions-after-filter are routine.
- Defaults follow the host: the session's core count is the process's
  usable cores unless SPARK_GRAFT_CPUS says otherwise.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from pkg2_spark.catalog import load_tables
from pkg2_spark.registry import all_queries

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def test_approx_count_distinct_within_5pct(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    rows = (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), r


def test_approx_percentile_within_5pct(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    rows = (
        e.groupBy("event_type")
        .agg(
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx"),
            F.median("value").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        scale = max(abs(r["exact"]), 1e-9)
        assert abs(r["approx"] - r["exact"]) / scale <= 0.05, r


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    """A scale-factor directory where every table has the right schema and
    ZERO rows."""
    out = str(tmp_path_factory.mktemp("sf_empty"))
    for t in TABLES:
        # raw read (not the catalog shim) so the written schema matches the
        # on-disk layout the catalog expects, nanos column included
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).limit(0).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"{t}.parquet"))
    return out


# A slice through every operator family; global aggregates legitimately
# return one row of nulls/zeros on empty input, everything else returns 0.
EMPTY_OK = [
    "q_agg_group", "q_agg_global", "q_join_multiway", "q_join_asof",
    "q_win_topk_group", "q_limit_topk", "q_set_union_all",
    "q_llm_minhash", "q_llm_tfidf", "q_llm_dedup_exact", "q_llm_split",
    "q_llm_knn", "q_stream_tumble", "q_stream_session", "q_graph_closure",
    "q_udf_grouped_map", "q_agg_salted", "q_ts_gapfill", "q_agg_pivot",
    # round-4 additions
    "q_graph_pagerank", "q_ts_ohlc", "q_llm_repetition",
    "q_llm_gopher_rules", "q_llm_domain_mix", "q_sql_tpch_q10",
]


@pytest.mark.parametrize("name", EMPTY_OK)
def test_queries_survive_empty_tables(spark, empty_sf_dir, name):
    df = all_queries()[name](spark, empty_sf_dir)
    rows = df.collect()  # must not throw
    assert isinstance(rows, list)


def test_sf_switch_repoints_temp_views(spark, sf_dir):
    # Temp views are session-global: a memo hit on a PREVIOUSLY loaded
    # sf_dir must still re-point the views, or the SQL surface silently
    # reads the other scale factor (caught by the round-6 perturbation
    # sweep alternating sf0.01/sf0.1 in one session).
    load_tables(spark, sf_dir)
    n_small = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    other = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.01")
    load_tables(spark, other)
    n_big = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n_big != n_small
    load_tables(spark, sf_dir)  # memo hit — must still re-register views
    assert spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"] == n_small


def test_default_master_follows_usable_cores(monkeypatch):
    from pyspark.sql import SparkSession

    from pkg2_spark import session

    seen = {}

    class Builder:
        def appName(self, _name):  # noqa: N802 (pyspark naming)
            return self

        def master(self, m):
            seen["master"] = m
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):  # noqa: N802
            return "session"

    monkeypatch.setattr(SparkSession, "builder", Builder())
    monkeypatch.setattr(session, "ensure_runtime_confs", lambda s: s)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    session.get_session()
    n = len(os.sched_getaffinity(0))
    assert seen["master"] == f"local[{n}]"
    assert seen["spark.sql.shuffle.partitions"] == str(n)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_session()
    assert seen["master"] == "local[3]"
