"""Graph query invariants (pkg2_spark/queries/graph.py)."""

from __future__ import annotations

from pkg2_spark.registry import all_queries


def _q(spark, sf_dir, name):
    return all_queries()[name](spark, sf_dir)


def test_pagerank_covers_all_suppliers_with_damped_floor(spark, sf_dir):
    out = _q(spark, sf_dir, "q_graph_pagerank").collect()
    n_supp = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_suppkey")
        .distinct()
        .count()
    )
    assert len(out) == n_supp
    # the 0.15 teleport term is an e6-scaled floor of 150000 for every node
    assert all(r["rank_e6"] >= 150000 for r in out)
    # connected bipartite halves: some supplier must exceed the bare floor
    assert any(r["rank_e6"] > 150000 for r in out)


def test_pagerank_deterministic_across_partitionings(spark, sf_dir):
    # integer-scaled contributions: the result must be bit-identical however
    # the shuffles are partitioned (same discipline as q_kmeans_step).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            rows = _q(spark, sf_dir, "q_graph_pagerank").collect()
            results.append(sorted((r["s_suppkey"], r["rank_e6"]) for r in rows))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results[0] == results[1]


def test_kcore_partition_and_conservation(spark, sf_dir, action_log):
    # Every graph node appears exactly once; peel rounds partition nodes
    # into 1..R plus the 0-round core; survivors' residual degree is >= k
    # only when the peel has converged — but it is ALWAYS >= 0 and bounded
    # by the core size; peeled nodes carry no residual degree.
    from pkg2_spark.queries import graph as G
    from pkg2_spark.queries.graph import _KCORE_ROUNDS, _cosupply_und
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.registry import all_queries

    # Round discipline (conftest.ActionLog): with the shared edge list
    # already built, building the query runs exactly one checkpoint action
    # per peel round and no other job.
    G._cosupply_und_shared(load_tables(spark, sf_dir))
    action_log.wrap(G, "truncate_lineage")
    kcore = action_log.run(lambda: all_queries()["q_graph_kcore"](spark, sf_dir))
    assert action_log.stray_jobs == []
    assert action_log.names == ["truncate_lineage"] * _KCORE_ROUNDS
    assert action_log.each_ran_a_job
    rows = kcore.collect()
    und = _cosupply_und(load_tables(spark, sf_dir))
    n_nodes = (
        und.selectExpr("a AS node").union(und.selectExpr("b AS node")).distinct().count()
    )
    assert len(rows) == n_nodes
    assert len({r["s_suppkey"] for r in rows}) == n_nodes
    core = [r for r in rows if r["in_core"]]
    for r in rows:
        assert (r["peel_round"] == 0) == r["in_core"]
        assert 0 <= r["peel_round"] <= _KCORE_ROUNDS
        if not r["in_core"]:
            assert r["resid_degree"] == 0
    # Non-vacuous ground truth: replay the bounded synchronous peel in
    # pure Python on the collected edge list and compare node-by-node.
    # (At sf0.001 the 4-core is genuinely empty — 10 nodes — so a
    # "both classes populated" assertion cannot hold here; an exact
    # replay catches a peel-everything regression just as well.)
    from pkg2_spark.queries.graph import _KCORE_K

    edges = {(r["a"], r["b"]) for r in und.collect()}
    alive = {n for e in edges for n in e}
    assert len(alive) == n_nodes
    expected = {}
    live_edges = set(edges)
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = {n: 0 for n in alive}
        for a, b in live_edges:
            deg[a] += 1
            deg[b] += 1
        dropped = {n for n in alive if deg[n] < _KCORE_K}
        for n in dropped:
            expected[n] = (rnd, 0, False)
        alive -= dropped
        live_edges = {(a, b) for a, b in live_edges if a in alive and b in alive}
    deg = {n: 0 for n in alive}
    for a, b in live_edges:
        deg[a] += 1
        deg[b] += 1
    for n in alive:
        expected[n] = (0, deg[n], True)
    got = {
        r["s_suppkey"]: (r["peel_round"], r["resid_degree"], r["in_core"])
        for r in rows
    }
    assert got == expected
    assert len(core) == len(alive)


def test_hits_scores_bounded_and_normalized(spark, sf_dir):
    rows = _q(spark, sf_dir, "q_graph_hits").collect()
    auth = [r for r in rows if r["side"] == "auth"]
    hub = [r for r in rows if r["side"] == "hub"]
    assert auth and hub
    # max-normalized integer scores: everything in [0, 1e6], and each
    # side's final normalizer pins its max at exactly 1e6
    assert all(0 <= r["score_e6"] <= 1_000_000 for r in rows)
    assert max(r["score_e6"] for r in auth) == 1_000_000
    assert max(r["score_e6"] for r in hub) == 1_000_000
    # every node appears on exactly one side, once
    ids_a = [r["id"] for r in auth]
    ids_h = [r["id"] for r in hub]
    assert len(ids_a) == len(set(ids_a)) and len(ids_h) == len(set(ids_h))


def test_hits_rejects_nonpositive_iters(spark):
    # r11 advice: iters <= 0 used to crash with AttributeError on the
    # unbound auths frame; the contract violation must be a ValueError
    # at entry.
    import pytest

    from pkg2_spark.operators.graph_ops import hits

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    for bad in (0, -3):
        with pytest.raises(ValueError, match="iters"):
            hits(edges, iters=bad)


def test_hits_deterministic_across_partitionings(spark, sf_dir):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = {(r["side"], r["id"]): r["score_e6"]
             for r in _q(spark, sf_dir, "q_graph_hits").collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = {(r["side"], r["id"]): r["score_e6"]
             for r in _q(spark, sf_dir, "q_graph_hits").collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_sssp_root_is_zero_and_hops_bounded(spark, sf_dir, action_log):
    # The hops come from the reachability kernel's driver-local finish, so
    # collecting them is one job, not a job per relaxation round.
    sssp = _q(spark, sf_dir, "q_graph_sssp")
    rows = action_log.run(sssp.collect)
    assert len(action_log.stray_jobs) <= 1
    by_node = {r["s_suppkey"]: r["hops"] for r in rows}
    root = min(by_node)  # BFS starts from the min supplier in the edge set
    assert by_node[root] == 0
    assert sum(1 for h in by_node.values() if h == 0) == 1
    assert all(0 <= h <= 3 for h in by_node.values())
    # hop-1 neighborhood nonempty on a connected kNN graph
    assert any(h == 1 for h in by_node.values())
