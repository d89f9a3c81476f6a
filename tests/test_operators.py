"""Unit + property tests for the custom operators (SURVEY.md §5.2.3-4).

Hand-built 5-10 row frames with nulls/ties/empty edges and golden values;
algebraic invariants that need no oracle.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from pkg2_spark.catalog import load_tables
from pkg2_spark.operators.asof import asof_join
from pkg2_spark.operators.multimodal import (
    decode_fake,
    decode_features,
    with_binary_payload,
)
from pkg2_spark.operators.similarity import cosine4
from pkg2_spark.operators.text import minhash_signatures, tokenize_distinct


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [
                (1, _ts("2024-01-01 10:00:00")),  # after two clicks
                (1, _ts("2024-01-01 08:00:00")),  # exactly at a click ts (tie)
                (1, _ts("2024-01-01 07:00:00")),  # before any click -> null
                (2, _ts("2024-01-01 12:00:00")),  # key with no right rows
            ],
            "user_id long, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                (1, _ts("2024-01-01 08:00:00"), 100),
                (1, _ts("2024-01-01 09:30:00"), 200),
                (1, _ts("2024-01-01 09:30:00"), 201),  # same-ts duplicate: max payload wins
            ],
            "user_id long, c_ts timestamp, click_id long",
        )
        return left, right

    def test_semantics_ties_nomatch_and_row_preservation(self, spark):
        left, right = self._frames(spark)
        out = asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="c_ts",
            payload={"click_id": "last_click"},
        )
        rows = {(r.user_id, r.ts.isoformat()): r.last_click for r in out.collect()}
        # LEFT semantics: every left row survives exactly once
        assert len(rows) == left.count()
        # latest right <= left.ts
        assert rows[(1, "2024-01-01T10:00:00")] == 201
        # tie at equal ts counts (<=), and same-ts right dup resolves to max
        assert rows[(1, "2024-01-01T08:00:00")] == 100
        # no earlier right row -> null
        assert rows[(1, "2024-01-01T07:00:00")] is None
        # key absent from right -> null, row preserved
        assert rows[(2, "2024-01-01T12:00:00")] is None


class TestAsofJoinNullPayloadField:
    """All carried payload fields must come from the SAME matched right row,
    even when that row holds a NULL in one payload column (the pre-fix
    per-column carry filled the NULL from a different right row)."""

    def test_backward_null_field_not_filled_from_earlier_row(self, spark):
        left = spark.createDataFrame(
            [(1, _ts("2024-01-01 10:00:00"))], "user_id long, ts timestamp"
        )
        right = spark.createDataFrame(
            [
                (1, _ts("2024-01-01 08:00:00"), 100, "a"),
                # nearest backward match; label is NULL and must STAY null
                (1, _ts("2024-01-01 09:00:00"), 200, None),
            ],
            "user_id long, c_ts timestamp, click_id long, label string",
        )
        out = asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="c_ts",
            payload={"click_id": "last_click", "label": "last_label"},
        ).collect()
        assert len(out) == 1
        assert out[0].last_click == 200
        assert out[0].last_label is None  # not "a" from the earlier row

    def test_forward_null_field_not_filled_from_later_row(self, spark):
        from pkg2_spark.operators.asof import asof_join_forward

        left = spark.createDataFrame(
            [(1, _ts("2024-01-01 07:00:00"))], "user_id long, ts timestamp"
        )
        right = spark.createDataFrame(
            [
                # nearest forward match; label is NULL and must STAY null
                (1, _ts("2024-01-01 08:00:00"), 100, None),
                (1, _ts("2024-01-01 09:00:00"), 200, "b"),
            ],
            "user_id long, c_ts timestamp, click_id long, label string",
        )
        out = asof_join_forward(
            left, right, on="user_id", left_ts="ts", right_ts="c_ts",
            payload={"click_id": "next_click", "label": "next_label"},
        ).collect()
        assert len(out) == 1
        assert out[0].next_click == 100
        assert out[0].next_label is None  # not "b" from the later row


class TestMinHash:
    def test_invariant_under_token_order_and_duplication(self, spark):
        base = "alpha beta gamma delta"
        shuffled_dup = "delta gamma beta alpha alpha beta"  # same token SET
        df = spark.createDataFrame(
            [(1, base), (2, shuffled_dup)], "doc_id long, text string"
        )
        sig = minhash_signatures(tokenize_distinct(df), 4).collect()
        by_id = {r.doc_id: tuple(r[f"mh{i}"] for i in range(4)) for r in sig}
        assert by_id[1] == by_id[2]

    def test_disjoint_docs_differ(self, spark):
        df = spark.createDataFrame(
            [(1, "aaa bbb ccc"), (2, "xxx yyy zzz")], "doc_id long, text string"
        )
        sig = minhash_signatures(tokenize_distinct(df), 4).collect()
        by_id = {r.doc_id: tuple(r[f"mh{i}"] for i in range(4)) for r in sig}
        assert by_id[1] != by_id[2]


class TestCosine:
    def test_golden_values(self, spark):
        df = spark.createDataFrame(
            [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([1.0, 0.0], [-1.0, 0.0])],
            "a array<float>, b array<float>",
        )
        got = [r.c for r in df.select(cosine4(F.col("a"), F.col("b")).alias("c")).collect()]
        assert got == [0.0, 1.0, -1.0]


class TestMultimodal:
    def test_decode_stub_schema_and_determinism(self, spark):
        docs = spark.createDataFrame([(7, "hello world")], "doc_id long, text string")
        out = decode_features(with_binary_payload(docs)).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_bytes == 16  # md5 payload
        assert 0 <= r.b0 <= 255 and 0 <= r.b1 <= 255
        assert r.luma == (r.b0 + r.b1) / 2.0
        # pure-python stub agrees with the Spark path
        import hashlib

        payload = hashlib.md5(b"hello world").digest()
        assert decode_fake(payload) == (16, r.b0, r.b1, r.luma)


class TestAlgebraicInvariants:
    """Property-style spot checks from SURVEY.md §5.2.4 on real tables."""

    def test_union_all_count_additivity(self, spark, sf_dir):
        o = load_tables(spark, sf_dir)["orders"]
        a = o.filter(F.col("o_orderstatus") == "F")
        b = o.filter(F.col("o_orderstatus") != "F")
        assert a.count() + b.count() == o.count()
        assert a.unionAll(b).count() == o.count()

    def test_semi_join_equals_inner_distinct(self, spark, sf_dir):
        t = load_tables(spark, sf_dir)
        semi = (
            t["customer"]
            .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_semi")
            .select("c_custkey")
        )
        inner = (
            t["customer"]
            .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
            .select("c_custkey")
            .distinct()
        )
        assert semi.subtract(inner).count() == 0
        assert inner.subtract(semi).count() == 0

    def test_filter_pushdown_equivalence(self, spark, sf_dir):
        # filter-then-project == project-then-filter
        l = load_tables(spark, sf_dir)["lineitem"]
        a = l.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
        b = l.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 30)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    def test_anti_plus_semi_partition_left(self, spark, sf_dir):
        t = load_tables(spark, sf_dir)
        cond = F.col("c_custkey") == F.col("o_custkey")
        semi = t["customer"].join(t["orders"], cond, "left_semi")
        anti = t["customer"].join(t["orders"], cond, "left_anti")
        assert semi.count() + anti.count() == t["customer"].count()


class TestSamplingAndSkew:
    def test_hash_split_total_and_stability(self, spark, sf_dir):
        from pkg2_spark.catalog import load_tables
        from pkg2_spark.operators.sampling import hash_split

        d = load_tables(spark, sf_dir)["documents"]
        s1 = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert sum(counts.values()) == d.count()  # partition of the corpus
        # stable under repartitioning: the assignment is content-derived
        s2 = hash_split(d.repartition(7), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        assert sorted(map(tuple, s1.select("doc_id", "split").collect())) == sorted(
            map(tuple, s2.select("doc_id", "split").collect())
        )

    def test_hash_sample_subset_semantics(self, spark, sf_dir):
        from pkg2_spark.catalog import load_tables
        from pkg2_spark.operators.sampling import hash_sample

        d = load_tables(spark, sf_dir)["documents"]
        small = {r["doc_id"] for r in hash_sample(d, "doc_id", 0.05).select("doc_id").collect()}
        large = {r["doc_id"] for r in hash_sample(d, "doc_id", 0.20).select("doc_id").collect()}
        assert small <= large  # growing the rate only ADDS rows (key-stable)

    def test_salted_agg_equals_direct(self, spark, sf_dir):
        from pkg2_spark.catalog import load_tables
        from pkg2_spark.operators.skew import salted_agg

        o = load_tables(spark, sf_dir)["orders"]
        pre = o.select("o_orderstatus", "o_orderkey")
        salted = salted_agg(
            pre, keys=["o_orderstatus"],
            aggs={"n": ("count", "o_orderkey"),
                  "min_k": ("min", "o_orderkey"),
                  "max_k": ("max", "o_orderkey"),
                  "sum_k": ("sum", "o_orderkey")},
            salt_from=["o_orderkey"], salt_mod=13,
        )
        direct = pre.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"), F.min("o_orderkey").alias("min_k"),
            F.max("o_orderkey").alias("max_k"), F.sum("o_orderkey").alias("sum_k"),
        )
        assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, direct.collect()))


class TestSaltedJoin:
    def test_inner_and_left_equal_plain_join(self, spark, sf_dir):
        from pkg2_spark.operators.skew import salted_join

        t = load_tables(spark, sf_dir)
        o = t["orders"].withColumnRenamed("o_custkey", "custkey").select("custkey", "o_orderkey")
        c = t["customer"].withColumnRenamed("c_custkey", "custkey").select("custkey", "c_name")
        for how in ["inner", "left"]:
            got = salted_join(o, c, on="custkey", salt_from=["o_orderkey"], salt_mod=5, how=how)
            want = o.join(c, "custkey", how)
            assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), how

    def test_rejects_right_outer(self, spark, sf_dir):
        import pytest as _pytest

        from pkg2_spark.operators.skew import salted_join

        t = load_tables(spark, sf_dir)
        with _pytest.raises(ValueError):
            salted_join(t["orders"], t["customer"], on="x", salt_from=["o_orderkey"], how="right")


def test_kmv_sketch_estimates_and_merges(spark, sf_dir):
    # KMV is deterministic (md5 order statistics): the estimate must land
    # within the theoretical ~1/sqrt(k) band of the exact count, and the
    # merged per-half sketches must equal the whole-table sketch EXACTLY
    # (k-min of a union of k-mins theorem — the distributed-merge property).
    from pkg2_spark.registry import all_queries

    qs = all_queries()
    rows = qs["q_sketch_kmv"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_distinct"] > 0
        # 3/sqrt(64) = 37.5% as a generous 3-sigma band in basis points
        assert r["err_bp"] <= 3750, r
    merged = qs["q_sketch_kmv_merge"](spark, sf_dir).collect()
    assert merged and all(r["merge_exact"] == 1 for r in merged)
    assert all(r["est_merged"] == r["est_direct"] for r in merged)


def test_semdedup_components_are_cluster_consistent(spark, sf_dir):
    # Every emitted semantic-dup cluster has >= 2 members (singletons are
    # not emitted by resolve_components) and its id is the minimum member,
    # so component < max_member always.
    from pkg2_spark.registry import all_queries

    rows = all_queries()["q_llm_semdedup"](spark, sf_dir).collect()
    for r in rows:
        assert r["n_members"] >= 2, r
        assert r["component"] < r["max_member"], r


def test_version_key_orders_like_numeric_tuples():
    # version_key's zero-padded join must order EXACTLY like the numeric
    # component tuple — the property q_pkg_latest/q_pkg_outdated ride on
    # (1.1.10 above 1.1.9, 1.36.1 above 1.35.0, epoch prefixes dominant).
    import re as _re

    from hypothesis import given, strategies as st

    def py_key(v):
        return [int(x) for x in _re.findall(r"[0-9]+", v)]

    @given(
        st.lists(
            st.lists(st.integers(min_value=0, max_value=999999), min_size=1, max_size=5),
            min_size=2,
            max_size=8,
        )
    )
    def check(tuples):
        versions = [".".join(str(c) for c in t) for t in tuples]
        # the SQL expression mirrored in Python: lpad each numeric run to 6
        keys = [
            ".".join(x.zfill(6) for x in _re.findall(r"[0-9]+", v)) for v in versions
        ]
        by_key = sorted(range(len(versions)), key=lambda i: keys[i])
        by_num = sorted(range(len(versions)), key=lambda i: (py_key(versions[i]), keys[i]))
        # equal numeric tuples may tie; compare the sorted key sequences
        assert [keys[i] for i in by_key] == [keys[i] for i in by_num]

    check()


def test_resolve_components_empty_and_selfloop_edges(spark):
    # Degenerate inputs must not wedge the contraction loop: an empty edge
    # set yields an empty mapping; self-loops are dropped by the a != b
    # filter and never spin a round.
    import pyspark.sql.functions as F2

    from pkg2_spark.operators.dedup import resolve_components

    empty = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    assert resolve_components(empty).count() == 0
    loops = spark.createDataFrame([(1, 1), (2, 2), (2, 3)], "src BIGINT, dst BIGINT")
    rows = {r["node"]: r["component"] for r in resolve_components(loops).collect()}
    assert rows[2] == 2 and rows[3] == 2
    assert rows.get(1, 1) == 1


def test_local_rows_df_plans_a_local_relation_even_empty_or_arrow_off(spark):
    # A list (or an empty or Arrow-off pandas frame) plans as a pickled
    # LogicalRDD, and each job over it starts a Python worker; an empty
    # resolve result paid ~0.9 s for it. local_rows_df hands Spark an
    # Arrow table, which plans as a LocalRelation whatever the Arrow conf.
    from pyspark.sql.types import StructType

    from pkg2_spark.session import local_rows_df

    ddl = "k long, v string"
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key, None)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            for rows in ([], [(1, "a")]):
                for schema in (ddl, StructType.fromDDL(ddl)):
                    df = local_rows_df(spark, rows, schema)
                    plan = df._jdf.queryExecution().optimizedPlan().toString()
                    case = (arrow, len(rows), type(schema).__name__)
                    assert "LocalRelation" in plan, (case, plan)
                    assert "LogicalRDD" not in plan, (case, plan)
                    assert [tuple(r) for r in df.collect()] == rows, case
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


class TestBloomFilter:
    def test_no_false_negatives_and_determinism(self, spark):
        from pkg2_spark.operators.bloom import bloom_build, bloom_probe

        els = spark.createDataFrame(
            [(f"element-{i}",) for i in range(50)], "v string"
        )
        probe = spark.createDataFrame(
            [(f"element-{i}",) for i in range(100)], "v string"
        )
        bits = bloom_build(els, "v")
        flagged = {r.v for r in bloom_probe(probe, bits, "v").collect()}
        # Guarantee: every true member is flagged — a Bloom filter can
        # overshoot, never undershoot.
        assert {f"element-{i}" for i in range(50)} <= flagged
        # Deterministic: a rebuild flags the identical set.
        again = {r.v for r in bloom_probe(probe, bloom_build(els, "v"), "v").collect()}
        assert flagged == again

    def test_bits_bounded_by_m(self, spark):
        from pkg2_spark.operators.bloom import bloom_build

        els = spark.createDataFrame([(str(i),) for i in range(500)], "v string")
        n_bits = bloom_build(els, "v", m=64, k=4).count()
        assert n_bits <= 64  # position set never exceeds the bit-array size

    def test_duplicate_probe_rows_all_pass(self, spark):
        # Regression: the old full-row groupBy counted a duplicated probe
        # row's positions k times per copy and dropped true members —
        # every copy of a member row must survive the gate.
        from pkg2_spark.operators.bloom import bloom_build, bloom_probe

        els = spark.createDataFrame([("member",)], "v string")
        probe = spark.createDataFrame(
            [("member",)] * 3 + [("member", ), ("absent-xyzzy",)], "v string"
        )
        bits = bloom_build(els, "v")
        out = bloom_probe(probe, bits, "v").collect()
        assert sum(1 for r in out if r.v == "member") == 4


class TestEmaHalving:
    def test_matches_serial_fold_and_bounds(self, spark):
        from pkg2_spark.operators.recurrence import ema_halving

        rows = [(1, i, (i * 37) % 100) for i in range(20)] + [(2, 0, 7)]
        df = spark.createDataFrame(rows, "k long, ord long, v long")
        out = {r.k: (r.n_events, r.v) for r in
               ema_halving(df, "k", ["ord"], "v").collect()}
        # Serial reference fold for key 1.
        ema = 0
        vals = [(i * 37) % 100 for i in range(20)]
        for i, v in enumerate(vals):
            ema = v if i == 0 else (v + ema) // 2
        assert out[1] == (20, ema)
        assert min(vals) <= out[1][1] <= max(vals)  # convexity bound
        # Single-element key: EMA is the value itself.
        assert out[2] == (1, 7)

    def test_partitioning_invariance(self, spark):
        from pkg2_spark.operators.recurrence import ema_halving

        rows = [(i % 5, i, (i * 13) % 50) for i in range(100)]
        df = spark.createDataFrame(rows, "k long, ord long, v long")
        a = sorted(ema_halving(df, "k", ["ord"], "v").collect())
        b = sorted(
            ema_halving(df.repartition(7), "k", ["ord"], "v").collect()
        )
        assert a == b


def test_resolve_components_distributed_and_local_finish_agree(
    spark, monkeypatch
):
    # The hybrid finish (driver-local union-find under
    # graph_ops.LOCAL_FINISH_EDGES) must land on the IDENTICAL fixpoint the
    # pure distributed contraction reaches. Locally every residual fits the
    # threshold, so the distributed rounds would otherwise go untested:
    # force them by dropping the threshold to 0, and compare on a chain +
    # ring + isolated-pair topology (worst case for round counts: long
    # chains).
    from pkg2_spark.operators import dedup as D
    from pkg2_spark.operators import graph_ops as G

    chain = [(i, i + 1) for i in range(0, 40)]          # one 41-node chain
    ring = [(100 + i, 100 + (i + 1) % 7) for i in range(7)]
    pair = [(500, 501)]
    edges = spark.createDataFrame(chain + ring + pair, ["src", "dst"])

    hybrid = {
        r["node"]: r["component"]
        for r in D.resolve_components(edges).collect()
    }
    monkeypatch.setattr(G, "LOCAL_FINISH_EDGES", 0)
    distributed = {
        r["node"]: r["component"]
        for r in D.resolve_components(edges).collect()
    }
    assert hybrid == distributed
    assert hybrid[40] == 0 and hybrid[106] == 100 and hybrid[501] == 500


def _bfs_reference(edges, seeds, start_depth, max_depth):
    """Plain-Python minimal-depth BFS: {(group, node): depth}."""
    out = {}
    for group, nodes in seeds.items():
        depth_of, frontier, d = {}, set(nodes), start_depth
        while frontier and d <= max_depth:
            depth_of.update(dict.fromkeys(frontier, d))
            frontier = {t for s, t in edges if s in frontier and t not in depth_of}
            d += 1
        out.update({(group, n): dd for n, dd in depth_of.items()})
    return out


def test_reachability_kernel_matches_bfs_and_runs_one_action_per_round(
    spark, monkeypatch, action_log
):
    # One kernel behind every dependency closure (resolve,
    # resolve_constrained, q_graph_closure, q_pkg_blast_radius). A cycle
    # a->b->c->a, a self-loop on d, a node u nothing reaches and a tail
    # e->f->g; both finishes (driver-local and distributed) must give the
    # reference's minimal depths, grouped and ungrouped, from depth 0 or 1,
    # under a depth cap.
    from pkg2_spark.operators import graph_ops as G

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "d"),
             ("d", "e"), ("e", "f"), ("f", "g"), ("u", "a")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    seeds = [("g1", "a"), ("g2", "d"), ("g2", "e"), ("g3", "u"), ("g4", "zz")]
    seeds_df = spark.createDataFrame(seeds, "grp string, node string")
    grouped_seeds: dict = {}
    for g, n in seeds:
        grouped_seeds.setdefault(g, set()).add(n)

    def run(**kw):
        return {tuple(r) for r in G.reachability(edges, "src", "dst", **kw).collect()}

    for threshold in (G.LOCAL_FINISH_EDGES, 0):
        monkeypatch.setattr(G, "LOCAL_FINISH_EDGES", threshold)
        for start_depth, max_depth in ((1, 2), (0, 10)):
            want = _bfs_reference(pairs, grouped_seeds, start_depth, max_depth)
            got = run(start=seeds_df, group="grp", node="node",
                      start_depth=start_depth, max_depth=max_depth)
            assert got == {(g, n, d) for (g, n), d in want.items()}
            # ungrouped, seeded by an edge filter: a's direct dependencies
            want = _bfs_reference(pairs, {None: {"b", "d"}}, start_depth, max_depth)
            got = run(start={"src": "a"}, node="node", start_depth=start_depth,
                      max_depth=max_depth)
            assert got == {(n, d) for (_, n), d in want.items()}
            # ungrouped, seeded by rows
            want = _bfs_reference(pairs, {None: {"u", "e"}}, start_depth, max_depth)
            got = run(start=seeds_df.filter("node IN ('u', 'e')"), node="node",
                      start_depth=start_depth, max_depth=max_depth)
            assert got == {(n, d) for (_, n), d in want.items()}

    # Distributed round discipline, counted with job groups and the status
    # tracker (conftest.ActionLog): every job the kernel runs belongs to one
    # checkpoint action, the seed's or a depth round's single counted
    # checkpoint; no emptiness probe or closure re-checkpoint runs between
    # rounds.
    action_log.wrap(G, "truncate_lineage", "truncate_lineage_counted")
    chain = spark.createDataFrame([(i, i + 1) for i in range(4)], "src int, dst int")
    seeds = spark.createDataFrame([("g", 0)], "grp string, node int")
    for max_depth, rounds in ((3, 3), (20, 5)):  # 5: 4 hops + the empty round
        action_log.run(lambda: G.reachability(
            chain, "src", "dst", seeds, group="grp", node="node",
            start_depth=0, max_depth=max_depth,
        ))
        assert action_log.stray_jobs == []
        assert action_log.names == ["truncate_lineage"] + [
            "truncate_lineage_counted"
        ] * rounds
        assert action_log.each_ran_a_job


def test_resolve_components_runs_one_counted_checkpoint_per_round(
    spark, monkeypatch, action_log
):
    # With the finish bound at 0 the contraction runs to the empty edge set.
    # After the raw edges' counted checkpoint and the two prologue
    # checkpoints (symmetric edges, round-0 labels), every round is exactly
    # one counted checkpoint of the contracted edges, whose count is the
    # convergence test: no separate count or isEmpty runs.
    from pkg2_spark.operators import dedup as D
    from pkg2_spark.operators import graph_ops as G

    monkeypatch.setattr(G, "LOCAL_FINISH_EDGES", 0)
    action_log.wrap(D, "truncate_lineage", "truncate_lineage_counted")
    chain = [(i, i + 1) for i in range(0, 40)] + [(500, 501)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    comp = action_log.run(lambda: D.resolve_components(edges))
    names = action_log.names
    assert action_log.stray_jobs == []
    assert names[:3] == [
        "truncate_lineage_counted", "truncate_lineage", "truncate_lineage"
    ]
    rounds = names[3:]
    assert len(rounds) >= 2 and set(rounds) == {"truncate_lineage_counted"}
    assert action_log.each_ran_a_job
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == {**dict.fromkeys(range(41), 0), 500: 500, 501: 500}


def test_lazy_checkpoint_runs_the_shuffle_stages_it_sits_on(
    spark, sf_dir, action_log
):
    # Under adaptive execution, marking a plan with an exchange for a lazy
    # checkpoint runs that exchange's shuffle stage at once; a plan with
    # no exchange runs nothing until its first action.
    from pkg2_spark import session as S

    scan = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    grouped = scan.groupBy("label").count()
    action_log.wrap(S, "truncate_lineage_lazy")
    action_log.run(
        lambda: (S.truncate_lineage_lazy(scan), S.truncate_lineage_lazy(grouped))
    )
    tracker = spark.sparkContext.statusTracker()
    (_, scan_group), (_, grouped_group) = action_log.calls
    assert tracker.getJobIdsForGroup(scan_group) == []
    assert len(tracker.getJobIdsForGroup(grouped_group)) >= 1
    assert action_log.stray_jobs == []


def test_lineage_truncation_checkpoint_seam(spark, tmp_path):
    # r9 verdict #3: localCheckpoint is executor-local — on a real cluster
    # an executor loss mid-iteration kills the job. The seam: setting a
    # checkpoint dir (reliable storage) switches every fixpoint loop's
    # lineage truncation to checkpoint(eager); no dir = the local default.
    # Both paths must reach the identical fixpoint, and the reliable path
    # must actually write checkpoint files.
    import pytest as _pytest

    from pkg2_spark.operators import dedup as D
    from pkg2_spark.operators import graph_ops as G
    from pkg2_spark.session import truncate_lineage_counted

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30)] + [(500, 501)], ["src", "dst"]
    )
    old = G.LOCAL_FINISH_EDGES
    G.LOCAL_FINISH_EDGES = 0  # force the distributed contraction rounds
    try:
        spark.conf.unset("spark.pkg2_spark.lineageTruncate")
        # reliable mode without a dir fails fast instead of silently
        # running non-fault-tolerant
        spark.conf.set("spark.pkg2_spark.lineageTruncate", "reliable")
        with _pytest.raises(ValueError):
            truncate_lineage_counted(edges)
        spark.conf.unset("spark.pkg2_spark.lineageTruncate")

        local = {
            r["node"]: r["component"]
            for r in D.resolve_components(edges).collect()
        }
        ckpt = str(tmp_path / "reliable_ckpt")
        spark.sparkContext.setCheckpointDir(ckpt)
        # The silent auto->reliable promotion must announce itself once
        # when the cleaner won't reap the files (the static conf
        # spark.cleaner.referenceTracking.cleanCheckpoints defaults false).
        import warnings as _warnings

        from pkg2_spark import session as S

        S._UNREAPED_CHECKPOINTS_WARNED = False
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            reliable = {
                r["node"]: r["component"]
                for r in D.resolve_components(edges).collect()
            }
        assert any("cleanCheckpoints" in str(w.message) for w in caught)
        with _warnings.catch_warnings(record=True) as again:
            _warnings.simplefilter("always")
            truncate_lineage_counted(edges)
        assert not any(
            "cleanCheckpoints" in str(w.message) for w in again
        ), "the unreaped-checkpoints warning must fire once per process"
        assert reliable == local and local[30] == 0 and local[501] == 500
        import pathlib

        written = [p for p in pathlib.Path(ckpt).rglob("*") if p.is_file()]
        assert written, "reliable path wrote no checkpoint files"
        # the counted seam answers emptiness in the same materialization
        df, n = truncate_lineage_counted(edges)
        assert n == edges.count() == df.count()
        # explicit override: force localCheckpoint although a dir is set
        # (and leave the session in that mode — identical behavior to the
        # pre-test default for every later test in this session)
        spark.conf.set("spark.pkg2_spark.lineageTruncate", "local")
        before = len([p for p in pathlib.Path(ckpt).rglob("*") if p.is_file()])
        forced = {
            r["node"]: r["component"]
            for r in D.resolve_components(edges).collect()
        }
        assert forced == local
        after = len([p for p in pathlib.Path(ckpt).rglob("*") if p.is_file()])
        assert after == before, "local override still wrote reliable files"
    finally:
        G.LOCAL_FINISH_EDGES = old
        # Fully restore the session-scoped fixture (ADVICE r10: this test
        # used to leave the checkpoint dir set forever and pin
        # lineageTruncate=local, so later tests exercising 'auto' silently
        # ran the reliable path into a pytest tmp dir). There is no public
        # unset for the checkpoint dir; clear it through the SparkContext
        # internals and verify, then return the mode conf to its default.
        _none = spark.sparkContext._jvm.scala.Option.apply(None)
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(_none)
        assert spark.sparkContext.getCheckpointDir() is None
        spark.conf.unset("spark.pkg2_spark.lineageTruncate")


def test_ann_search_probes_and_min_recall_fallback(spark):
    # r10 verdict #4 + advice: Engine.ann_search must (a) answer EXTERNAL
    # query vectors passed as an explicit probes DataFrame, and (b) audit
    # recall when min_recall is set — serving exact knn_bruteforce when
    # the index cannot clear the bar (the isotropic-corpus cell-pruning
    # collapse SCALING.md documents) and the IVF path when it can.
    import warnings as _warnings

    import numpy as np
    import pytest as _pytest

    from pkg2_spark.engine import Engine
    from pkg2_spark.operators.similarity import knn_bruteforce
    from pkg2_spark.operators.ivf import ivf_invalidate

    N, DIM = 3072, 64
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def mkdf(arr):
        return spark.createDataFrame(
            [(i, [float(x) for x in arr[i]]) for i in range(len(arr))],
            "vec_id long, embedding array<double>",
        )

    clustered = mkdf(
        np.array([centers[i % 8] + 0.01 * rng.normal(size=DIM) for i in range(N)])
    )
    diverse = mkdf(rng.uniform(-1, 1, size=(N, DIM)))
    eng = Engine(spark)

    # Structured corpus clears the bar: IVF serves, audit is recorded.
    res = eng.ann_search(clustered, min_recall=0.8, k=5, dim=DIM)
    assert res.count() == 25
    assert eng.last_ann_path == "ivf"
    assert eng.last_ann_recall >= 0.8

    # r11 verdict #1: the audit is ON BY DEFAULT — no min_recall argument
    # still audits at the engine bar (ann_min_recall = 0.8) and records
    # the measured number; the clustered corpus clears it and serves IVF.
    assert eng.ann_min_recall == 0.8
    assert eng.ann_search(clustered, k=5, dim=DIM).count() == 25
    assert eng.last_ann_path == "ivf"
    assert eng.last_ann_recall is not None and eng.last_ann_recall >= 0.8

    # External probes: held-out vectors near three cluster centers must
    # come back with top-5 neighbors from THEIR clusters (vec_id % 8 == j).
    probes = spark.createDataFrame(
        [
            (100 + j, [float(x) for x in centers[j] + 0.005 * rng.normal(size=DIM)])
            for j in range(3)
        ],
        "probe_id long, probe_embedding array<double>",
    )
    ext = eng.ann_search(clustered, probes=probes, k=5, dim=DIM).collect()
    assert len(ext) == 15
    assert all(r["vec_id"] % 8 == r["probe_id"] - 100 for r in ext)

    # Vacuous-pass guard: a corpus whose ids start at 1000 has no
    # vec_id < audit_probes rows, so the self-probe audit finds nothing;
    # the engine must re-draw the audit from the smallest ids (bounded
    # sort-limit) instead of waving the index through on an empty check.
    shifted = clustered.withColumn(
        "vec_id", (F.col("vec_id") + F.lit(1000)).cast("long")
    )
    ext2 = eng.ann_search(shifted, probes=probes, k=5, dim=DIM).collect()
    assert len(ext2) == 15
    assert eng.last_ann_path == "ivf"
    assert eng.last_ann_recall is not None and eng.last_ann_recall >= 0.8
    # r12 advice (medium): the sparse-id re-audit must be self-exclusion
    # SYMMETRIC — before the fix the approx arm's own-vector hit capped
    # measured recall at (k-1)/k = 0.8 exactly; on this perfectly
    # clustered corpus the symmetric audit reads 1.0.
    assert eng.last_ann_recall > 0.8 + 1e-9

    # Structure-free corpus, DEFAULT path (no min_recall argument): the
    # base-beam audit (0.52 on this seeded corpus, deterministic) misses
    # the bar, and the engine ESCALATES n_probe through the ladder before
    # conceding to O(n) (r12 verdict #2) — the memoized IVF tree makes the
    # re-audit only extra candidate rows. On this 12-leaf-cell corpus the
    # 8-wide beam clears the bar, so IVF serves at the escalated width and
    # last_ann_path / last_ann_escalation record the step.
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        esc = eng.ann_search(diverse, k=5, dim=DIM)
        assert esc.count() == 25
    assert eng.last_ann_path.startswith("ivf(n_probe=")
    assert eng.last_ann_recall >= 0.8
    assert eng.last_ann_escalation[0][0] == 3  # base beam audited first
    assert eng.last_ann_escalation[0][1] < 0.8  # ...and missed
    assert eng.last_ann_escalation[-1][1] >= 0.8  # served width cleared
    assert any("escalated beam" in str(w.message) for w in caught)

    # Latency-bound callers can disable escalation (ladder = ()) — that
    # restores the straight-to-exact concession: brute-force answer,
    # warning with the measured ladder.
    eng.ann_escalation_ladder = ()
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        fb = eng.ann_search(diverse, k=5, dim=DIM)
        got = {(r["probe_id"], r["vec_id"]) for r in fb.collect()}
    eng.ann_escalation_ladder = (8, 16, 32)
    assert eng.last_ann_path == "bruteforce"
    assert eng.last_ann_recall < 0.8
    assert any("min_recall" in str(w.message) for w in caught)
    # Explicit opt-out: min_recall=None skips the audit and serves IVF
    # even on the corpus that just failed the bar.
    assert eng.ann_search(diverse, min_recall=None, k=5, dim=DIM).count() == 25
    assert eng.last_ann_path == "ivf"
    assert eng.last_ann_recall is None
    exact_probes = diverse.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_embedding"),
    )
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in knn_bruteforce(
            diverse.select("vec_id", "embedding"), exact_probes, k=5, dim=DIM
        ).collect()
    }
    assert got == exact
    # raise mode surfaces the measured number instead of serving.
    with _pytest.raises(ValueError, match="recall@5"):
        eng.ann_search(diverse, min_recall=0.8, k=5, dim=DIM, on_low_recall="raise")
    ivf_invalidate()  # release the two synthetic quantizer trees


def test_ivf_reads_the_vector_width_from_the_corpus(spark):
    # The tree quantizes every coordinate the corpus has: a 32-dim corpus
    # is served, and a 96-dim one whose first 64 coordinates are constant
    # still splits at level 1 (quantizing 64 coordinates ties every
    # vector to one centroid). A ragged corpus is refused.
    import numpy as np
    import pytest as _pytest

    from pkg2_spark.engine import Engine
    from pkg2_spark.operators.ivf import ivf_invalidate, nearest, tree

    rng = np.random.default_rng(11)

    def mkdf(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in r]) for i, r in enumerate(rows)],
            "vec_id long, embedding array<double>",
        )

    narrow = mkdf(rng.uniform(-1, 1, size=(600, 32)))
    wide = mkdf(
        np.hstack([np.ones((600, 64)), rng.uniform(-1, 1, size=(600, 32))])
    )
    ragged = mkdf([[1.0, 2.0], [1.0, 2.0, 3.0]])
    try:
        served = Engine(spark).ann_search(narrow, min_recall=None, k=5, dim=32)
        assert served.count() == 25
        t = tree(wide)
        assert t.dim == 96
        level1 = nearest(wide, t.cents, "cid", "cid", "cemb", dim=t.dim)
        assert level1.select("cid").distinct().count() > 1
        with _pytest.raises(ValueError, match="one vector width"):
            tree(ragged)
    finally:
        ivf_invalidate()


def test_mprobe_recall_dominates_single_probe(spark, sf_dir):
    # The reason multi-probe exists: per probe, recall@5 of the 3-cell
    # search must be >= the single-cell search's (the candidate set is a
    # superset, and both rank by the same exact cosine).
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.operators.similarity import knn_bruteforce
    from pkg2_spark.registry import all_queries

    e = load_tables(spark, sf_dir)["embeddings"]
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_embedding")
    )
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in knn_bruteforce(
            e.select("vec_id", "embedding"), probes, k=5, dim=64
        ).collect()
    }
    single = {
        (r["probe_id"], r["vec_id"])
        for r in all_queries()["q_llm_ann_ivf"](spark, sf_dir).collect()
    }
    multi = {
        (r["probe_id"], r["vec_id"])
        for r in all_queries()["q_llm_ann_mprobe"](spark, sf_dir).collect()
    }
    for pid in range(5):
        hit_s = sum(1 for p, v in exact if p == pid and (p, v) in single)
        hit_m = sum(1 for p, v in exact if p == pid and (p, v) in multi)
        assert hit_m >= hit_s, (pid, hit_m, hit_s)


def test_ann_multiprobe_recall_monotone_in_n_probe(spark, sf_dir):
    # The r10 tuning surface: with descent PINNED, the ranked slot-cell
    # list is identical across n_probe values, so beam(n) is a prefix —
    # candidate sets are nested and recall@5 is monotone per probe, not
    # just in aggregate. n_probe=1 must degenerate to exactly the
    # single-probe (own cell only) hit set, and the Engine knob must
    # route to the same operator.
    import pytest as _pytest

    from pkg2_spark.catalog import load_tables
    from pkg2_spark.engine import Engine
    from pkg2_spark.operators.similarity import knn_bruteforce
    from pkg2_spark.operators.ivf import ann_multiprobe
    from pkg2_spark.registry import all_queries

    e = load_tables(spark, sf_dir)["embeddings"]
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_embedding")
    )
    exact = {
        (r["probe_id"], r["vec_id"])
        for r in knn_bruteforce(
            e.select("vec_id", "embedding"), probes, k=5, dim=64
        ).collect()
    }
    got = {
        n: {
            (r["probe_id"], r["vec_id"])
            for r in ann_multiprobe(e, n_probe=n, descent=8).collect()
        }
        for n in (1, 3, 8)
    }
    single = {
        (r["probe_id"], r["vec_id"])
        for r in all_queries()["q_llm_ann_ivf"](spark, sf_dir).collect()
    }
    assert got[1] == single  # n_probe=1 IS single-probe search
    for pid in range(5):
        hits = [
            sum(1 for p, v in exact if p == pid and (p, v) in got[n])
            for n in (1, 3, 8)
        ]
        assert hits[0] <= hits[1] <= hits[2], (pid, hits)
    # Engine knob routes through the same operator with the same default.
    eng = Engine(spark)
    assert eng.ann_n_probe == 3
    knob = {
        (r["probe_id"], r["vec_id"])
        for r in eng.ann_search(e, n_probe=8, descent=8).collect()
    }
    assert knob == got[8]
    with _pytest.raises(ValueError):
        ann_multiprobe(e, n_probe=0)
    with _pytest.raises(ValueError):
        ann_multiprobe(e, n_probe=4, descent=2)
    # The registered tuning query exposes the same curve: 3 rows keyed by
    # n_probe, recall_milli non-decreasing, hits consistent with the
    # operator-level sets measured above.
    rows = {
        r["n_probe"]: r
        for r in all_queries()["q_llm_ann_tune"](spark, sf_dir).collect()
    }
    assert sorted(rows) == [1, 3, 8]
    for n in (1, 3, 8):
        assert rows[n]["n_exact"] == len(exact)
        assert rows[n]["n_hits"] == len(got[n] & exact)
        assert (
            rows[n]["recall_milli"]
            == 1000 * rows[n]["n_hits"] // rows[n]["n_exact"]
        )
    assert rows[1]["n_hits"] <= rows[3]["n_hits"] <= rows[8]["n_hits"]


def test_unigram_lm_bands_and_integer_surprisal(spark, sf_dir):
    # Every doc gets a row; min per-token surprisal is 1 bit (the corpus's
    # most common token still has N div cnt >= 1 -> bin length >= 1), so
    # mean_milli >= 1000 and surprisal_sum >= n_tokens; bands must agree
    # with the declared thresholds; all outputs are integers (no float can
    # reach the driver hash).
    from pkg2_spark.queries.llm import _LM_HEAD_MILLI, _LM_TAIL_MILLI
    from pkg2_spark.registry import all_queries

    rows = all_queries()["q_llm_unigram_lm"](spark, sf_dir).collect()
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["surprisal_sum"] >= r["n_tokens"] >= 1
        assert r["mean_milli"] >= 1000
        assert isinstance(r["surprisal_sum"], int) and isinstance(r["mean_milli"], int)
        want = (
            "head"
            if r["mean_milli"] < _LM_HEAD_MILLI
            else ("middle" if r["mean_milli"] <= _LM_TAIL_MILLI else "tail")
        )
        assert r["band"] == want
    assert {r["band"] for r in rows} >= {"head", "middle"}  # bands populated


def test_span_dedup_coverage_bounds_and_cross_doc(spark, sf_dir):
    # A duplicated span must implicate >= 2 docs; per-doc coverage is
    # bounded by both the doc length and 8 tokens per reported span; the
    # milli ratio is exact integer arithmetic.
    from pkg2_spark.registry import all_queries

    rows = all_queries()["q_llm_span_dedup"](spark, sf_dir).collect()
    assert len(rows) >= 2  # cross-doc duplicates exist in pairs
    for r in rows:
        assert 1 <= r["n_dup_spans"]
        assert 8 <= r["covered_tokens"] <= min(r["n_tokens"], 8 * r["n_dup_spans"])
        assert 0 < r["coverage_milli"] <= 1000
        assert r["coverage_milli"] == (1000 * r["covered_tokens"]) // r["n_tokens"]


def test_bm25_rank_and_rational_scoring(spark, sf_dir):
    # Top-20, contiguous ranks, scores non-increasing along rank with the
    # doc_id tiebreak; every score is a positive integer (the e6-floored
    # rational BM25 terms — no float reaches the driver hash); n_terms is
    # bounded by the fixed query length.
    from pkg2_spark.queries.llm import _BM25_TERMS
    from pkg2_spark.registry import all_queries

    rows = sorted(
        all_queries()["q_llm_bm25"](spark, sf_dir).collect(), key=lambda r: r["rank"]
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= 20
    for prev, cur in zip(rows, rows[1:]):
        assert (prev["score_e6"], -prev["doc_id"]) >= (cur["score_e6"], -cur["doc_id"])
    for r in rows:
        assert isinstance(r["score_e6"], int) and r["score_e6"] > 0
        assert 1 <= r["n_terms"] <= len(_BM25_TERMS)


def test_containment_asymmetry_vs_jaccard(spark, sf_dir):
    # Every emitted pair is a high-inclusion / low-Jaccard pair by the
    # declared thresholds; containment dominates Jaccard on the containing
    # side (|A∩B|/|A| >= |A∩B|/|A∪B| always); direction names the more
    # contained side.
    from pkg2_spark.registry import all_queries

    rows = all_queries()["q_llm_containment"](spark, sf_dir).collect()
    assert rows, "synthetic corpus has inclusion pairs"
    for r in rows:
        hi = max(r["cont_a_milli"], r["cont_b_milli"])
        assert hi >= 900 and r["jaccard_milli"] < 800
        assert hi >= r["jaccard_milli"]
        want = "a_in_b" if r["cont_a_milli"] >= r["cont_b_milli"] else "b_in_a"
        assert r["direction"] == want


def test_entropy_bands_and_bounds(spark, sf_dir):
    # Every doc gets a row; mean surprisal is >= 1000 milli-bits (even a
    # one-symbol doc pays bin-length 1) and <= 1000 * bits of the per-doc
    # alphabet ceiling; bands agree with the declared thresholds.
    from pkg2_spark.queries.llm import _ENT_HI_MILLI, _ENT_LO_MILLI
    from pkg2_spark.registry import all_queries

    rows = all_queries()["q_llm_entropy"](spark, sf_dir).collect()
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    assert len(rows) == n_docs
    for r in rows:
        assert r["bits_sum"] >= r["n_chars_sig"] >= 1
        assert r["mean_milli"] == (1000 * r["bits_sum"]) // r["n_chars_sig"]
        assert r["mean_milli"] >= 1000
        want = (
            "low"
            if r["mean_milli"] < _ENT_LO_MILLI
            else ("mid" if r["mean_milli"] <= _ENT_HI_MILLI else "high")
        )
        assert r["band"] == want


def test_vocab_coverage_monotone_curve(spark, sf_dir):
    # Ranks are contiguous from 1, counts non-increasing, cumulative sums
    # strictly increasing and consistent, coverage monotone ending at 1000
    # when rank 50 exhausts the vocabulary.
    from pkg2_spark.registry import all_queries

    rows = sorted(
        all_queries()["q_llm_vocab_coverage"](spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert rows[0]["rank"] == 1 and rows[0]["cum"] == rows[0]["c"]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["rank"] == prev["rank"] + 1
        assert cur["c"] <= prev["c"]
        assert cur["cum"] == prev["cum"] + cur["c"]
        assert cur["coverage_milli"] >= prev["coverage_milli"]
    if len(rows) < 50:  # vocabulary exhausted inside the window
        assert rows[-1]["coverage_milli"] == 1000 and rows[-1]["tail_reached"]


def test_sax_word_equiprobable_symbols(spark, sf_dir):
    # 16 segments per series; rank-quartile coding emits exactly 4 of each
    # symbol per word; the word column equals the seg-ordered symbol
    # concatenation; segment counts cover the series exactly.
    from collections import Counter

    from pkg2_spark.queries.timeseries import _SAX_ALPHABET, _SAX_SEGMENTS
    from pkg2_spark.registry import all_queries

    rows = all_queries()["q_ts_sax"](spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    n_events = load_tables(spark, sf_dir)["events"].count()
    assert sum(r["seg_n"] for r in rows) == n_events
    for typ, segs in by_type.items():
        segs.sort(key=lambda r: r["seg"])
        assert [r["seg"] for r in segs] == list(range(_SAX_SEGMENTS))
        word = "".join(r["symbol"] for r in segs)
        assert all(r["word"] == word for r in segs)
        counts = Counter(word)
        per = _SAX_SEGMENTS // len(_SAX_ALPHABET)
        assert all(counts[s] == per for s in _SAX_ALPHABET), (typ, word)


def test_filter_funnel_conservation_and_stage_agreement(spark, sf_dir):
    # The funnel chains: stage i's n_in equals stage i-1's n_out; stage 1
    # enters the full corpus; kill counts are consistent; and the terminal
    # survivor count agrees with independently conjoining the standalone
    # gate operators (entropy band 'mid' + unigram band 'middle').
    from pkg2_spark.registry import all_queries

    rows = sorted(
        all_queries()["q_llm_filter_funnel"](spark, sf_dir).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage_name"] for r in rows] == [
        "length", "alpha_ratio", "char_entropy", "unigram_lm_band"
    ]
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    assert rows[0]["n_in"] == n_docs
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_out"]
    for r in rows:
        assert r["n_killed"] == r["n_in"] - r["n_out"] >= 0
        assert r["kill_milli"] == (1000 * r["n_killed"]) // r["n_in"]
    ent_mid = {
        r["doc_id"]
        for r in all_queries()["q_llm_entropy"](spark, sf_dir).collect()
        if r["band"] == "mid"
    }
    lm_mid = {
        r["doc_id"]
        for r in all_queries()["q_llm_unigram_lm"](spark, sf_dir).collect()
        if r["band"] == "middle"
    }
    # length/alpha gates pass everything on the synthetic corpus, so the
    # funnel's terminal survivors = entropy-mid ∩ lm-middle.
    if rows[0]["n_killed"] == 0 and rows[1]["n_killed"] == 0:
        assert rows[3]["n_out"] == len(ent_mid & lm_mid)


def test_kmv_intersect_estimator_consistency(spark, sf_dir):
    # n_match is bounded by k; the intersection estimate never exceeds the
    # union estimate; err_bp is consistent with the reported columns; and
    # with full-overlap synopses (n_match = k) the estimate equals the
    # union estimate exactly.
    from pkg2_spark.queries.sketches import _K
    from pkg2_spark.registry import all_queries

    rows = all_queries()["q_sketch_kmv_intersect"](spark, sf_dir).collect()
    assert len(rows) == 3  # C(3 returnflag groups, 2)
    for r in rows:
        assert 0 <= r["n_match"] <= _K
        assert r["est_intersect"] == (r["n_match"] * r["est_union"]) // _K
        assert r["est_intersect"] <= r["est_union"]
        assert r["err_bp"] == abs(r["est_intersect"] - r["n_exact"]) * 10000 // r["n_exact"]
        if r["n_match"] == _K:
            assert r["est_intersect"] == r["est_union"]


def test_sqlite_partitioned_read_jdbc_semantics(spark, tmp_path):
    # dbsource mirrors JDBCRelation.columnPartition: bounds STRIDE, never
    # FILTER — rows outside [lower, upper) still land exactly once via
    # the unbounded first/last partitions; schema inference maps sqlite
    # decls; a single partition degenerates to one full SELECT.
    import sqlite3

    from pkg2_spark.dbsource import partition_predicates, read_sqlite

    preds = partition_predicates("k", 10, 50, 4)
    assert preds == [
        '"k" < 20',
        '"k" >= 20 AND "k" < 30',
        '"k" >= 30 AND "k" < 40',
        '"k" >= 40',
    ]
    assert partition_predicates("k", 0, 100, 1) == ["1=1"]
    # more partitions than the key span: clamps, never empty-strides
    assert len(partition_predicates("k", 0, 3, 8)) == 3

    db = str(tmp_path / "t.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER, v REAL, s TEXT)")
    con.executemany(
        "INSERT INTO t VALUES (?,?,?)",
        [(i, i * 0.5, f"s{i}") for i in range(-5, 105)],  # outside bounds too
    )
    con.commit()
    con.close()
    df = read_sqlite(
        spark, db, "t", partition_column="k",
        lower_bound=10, upper_bound=50, num_partitions=4,
    )
    assert df.schema.simpleString() == "struct<k:bigint,v:double,s:string>"
    rows = df.collect()
    assert len(rows) == 110  # every row exactly once, incl. k<10 and k>=50
    assert {r["k"] for r in rows} == set(range(-5, 105))
    assert all(r["v"] == r["k"] * 0.5 and r["s"] == f"s{r['k']}" for r in rows)


def test_avro_wire_format_golden_and_roundtrip(spark, tmp_path):
    # The OCF implementation is pinned against HAND-COMPUTED spec bytes
    # (zigzag varints, magic, sync framing) so writer and reader can't
    # be wrong in the same direction, then round-tripped distributed.
    import io
    import json as _json

    from pkg2_spark import avroio as A

    # zigzag (spec examples): 0->0, -1->1, 1->2, -2->3, 2->4
    for n, z in [(0, 0), (-1, 1), (1, 2), (-2, 3), (2, 4), (-64, 127), (64, 128)]:
        buf = io.BytesIO()
        A._write_varint(buf, n)
        got = buf.getvalue()
        # varint of 128 is two bytes 0x80 0x01
        expect = bytes([z]) if z < 128 else bytes([(z & 0x7F) | 0x80, z >> 7])
        assert got == expect, (n, got.hex())
        assert A._read_varint(got, 0)[0] == n
    # string encoding: length varint + utf8
    buf = io.BytesIO()
    A._encode_value(buf, "string", "hi")
    assert buf.getvalue() == b"\x04hi"
    # null union: branch index only for null, index+value otherwise
    buf = io.BytesIO()
    A._encode_value(buf, ["null", "long"], None)
    assert buf.getvalue() == b"\x00"
    buf = io.BytesIO()
    A._encode_value(buf, ["null", "long"], 3)
    assert buf.getvalue() == b"\x02\x06"

    schema = {
        "type": "record", "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "x", "type": "double"},
            {"name": "m", "type": ["null", "string"]},
            {"name": "b", "type": "boolean"},
        ],
    }
    rows = [
        (i, f"s{i}", i * 0.25, None if i % 3 == 0 else f"m{i}", i % 2 == 0)
        for i in range(-50, 950)
    ]
    for codec in ("deflate", "null"):
        p = str(tmp_path / f"t_{codec}.avro")
        A.write_avro(p, schema, rows, codec=codec, block_rows=100)
        blob = open(p, "rb").read()
        assert blob[:4] == b"Obj\x01"
        hdr_schema, hdr_codec, sync, _ = A.read_header(blob)
        assert hdr_codec == codec and _json.dumps(hdr_schema)
        assert len(sync) == 16
        back = sorted(r for block in A.decode_blocks(blob) for r in block)
        assert back == rows  # exact: longs, doubles, nulls, bools, strings
    # distributed read equals the local decode
    df = A.read_avro(spark, str(tmp_path / "t_deflate.avro"))
    assert df.count() == 1000
    got = {r["k"]: (r["s"], r["x"], r["m"], r["b"]) for r in df.collect()}
    assert got[0] == ("s0", 0.0, None, True)
    assert got[-50] == ("s-50", -12.5, "m-50", True)  # -50 % 3 == 1 in Python
    assert got[7] == ("s7", 1.75, "m7", False)
    # unsupported constructs are rejected by name, never half-decoded
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported avro type"):
        A.spark_schema({"type": "record", "name": "x", "fields": [
            {"name": "a", "type": {"type": "array", "items": "long"}}]})
    with _pytest.raises(ValueError, match="null unions"):
        A.spark_schema({"type": "record", "name": "x", "fields": [
            {"name": "a", "type": ["string", "long"]}]})


def test_avro_codegen_decoder_matches_closure_walk(tmp_path):
    # r15: the schema-compiled whole-record decoder must be byte-identical
    # to the per-field closure walk (and thus to _decode_value, the golden
    # reference) across every supported type, including both null-union
    # orders, negative varints, empty strings/bytes and multi-block files.
    import random

    from pkg2_spark import avroio as A

    schema = {
        "type": "record", "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "i", "type": "int"},
            {"name": "s", "type": "string"},
            {"name": "x", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "m", "type": ["null", "string"]},
            {"name": "rn", "type": ["long", "null"]},
            {"name": "b", "type": "boolean"},
            {"name": "by", "type": "bytes"},
        ],
    }
    rng = random.Random(11)
    rows = [
        (
            rng.randint(-2**62, 2**62),
            rng.randint(-2**31, 2**31 - 1),
            "s" * (i % 33),
            rng.random() * 1e9 - 5e8,
            float(i) * 0.5,
            None if i % 3 == 0 else f"m{i}",
            None if i % 5 == 0 else -i * 7,
            i % 2 == 0,
            bytes([i % 256]) * (i % 5),
        )
        for i in range(700)
    ]
    p = str(tmp_path / "cg.avro")
    A.write_avro(p, schema, rows, codec="deflate", block_rows=128)
    blob = open(p, "rb").read()
    ftypes = A._field_types(A.read_header(blob)[0])
    rec_dec = A._compile_record_decoder(ftypes)
    assert rec_dec is not None
    got = [r for block in A.decode_blocks(blob) for r in block]
    # closure-walk reference on the same bytes
    ref = []
    for _s, n, raw in A._iter_raw_blocks(blob):
        pos = 0
        for _ in range(n):
            row = []
            for _n2, t in ftypes:
                v, pos = A._decode_value(raw, pos, t)
                row.append(v)
            ref.append(tuple(row))
    assert got == ref == rows
    # uncovered construct -> generator declines, closure walk still used
    assert A._compile_record_decoder([("a", ["null", "string", "long"])]) is None


def test_avro_codegen_declines_without_partial_emission():
    # A nullable union over an uncovered type fails only after its branch
    # test is generated; the caller's buffer must not keep those lines.
    from pkg2_spark import avroio as A

    lines = ["keep"]
    uncovered = ["null", {"type": "map", "values": "long"}]
    assert not A._emit_value_code(uncovered, "_v0", lines, "", [0])
    assert lines == ["keep"]
    assert A._emit_value_code(["null", "long"], "_v0", lines, "", [0])
    assert lines[0] == "keep" and lines[-1] == "    _v0 = (_u1 >> 1) ^ -(_u1 & 1)"


def test_weighted_sample_oversamples_heavy_docs(spark, sf_dir):
    from pkg2_spark.registry import all_queries

    picked = all_queries()["q_llm_sample_weighted"](spark, sf_dir).collect()
    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("avg(least(10, 1 + n_chars div 60)) AS w")
        .collect()[0]["w"]
    )
    sample_w = sum(r["weight"] for r in picked) / len(picked)
    # priority = u * (2520 div w): heavier docs draw smaller keys on
    # average, so the bottom-k's mean weight must exceed the corpus mean
    assert sample_w > corpus
    # priorities are exact integers — recompute one row's key
    import hashlib

    r = picked[0]
    u = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
    assert r["priority"] == u * (2520 // r["weight"])


def test_blast_radius_contains_and_exceeds_direct_vulnerable(spark, sf_dir):
    from pkg2_spark.queries.packages import _ADVISORIES_PATH, _APKINDEX_PATH
    from pkg2_spark.engine import Engine
    from pkg2_spark.registry import all_queries
    import pyspark.sql.functions as F

    radius = {
        r["cve"]: r["n_affected"]
        for r in all_queries()["q_pkg_blast_radius"](spark, sf_dir).collect()
    }
    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    direct = {
        r["cve"]: r["n"]
        for r in eng.match_advisories(_ADVISORIES_PATH)
        .filter(F.col("status") != "patched")
        .groupBy("cve")
        .agg(F.countDistinct("name").alias("n"))
        .collect()
    }
    # every advisory with a live vulnerable build has a radius, and the
    # transitive closure can never be smaller than its seed
    assert set(direct) == set(radius)
    assert all(radius[c] >= direct[c] for c in direct)
    # at least one advisory's radius must be strictly transitive (the
    # sample index has dependents of vulnerable packages)
    assert any(radius[c] > direct[c] for c in direct)


class TestNeardupDegreeInclusionExclusion:
    """q_llm_neardup_pairs' r14 rewrite: the per-doc distinct candidate
    degree (+ min/max partner) via inclusion-exclusion over per-bucket
    windows must equal the join-based DISTINCT pair enumeration on the
    same band table — including multi-band collisions (pairs sharing
    BOTH bands must not double-count) and hot buckets."""

    def test_matches_pair_join_on_synthetic_corpus(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from pkg2_spark.queries.llm import _BANDS_R, _K, q_llm_neardup_pairs
        from pkg2_spark.catalog import load_tables
        from pkg2_spark.operators.text import lsh_bands, minhash_signatures, tokenize_distinct

        assert _K // _BANDS_R == 2  # the rewrite's precondition
        got = {
            r["doc_a"]: (r["n_candidates"], r["min_cand"], r["max_cand"])
            for r in q_llm_neardup_pairs(spark, sf_dir).collect()
        }
        d = load_tables(spark, sf_dir)["documents"]
        bands = lsh_bands(minhash_signatures(tokenize_distinct(d), _K), _K, _BANDS_R)
        a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
        b = bands.select(
            F.col("doc_id").alias("doc_b"),
            F.col("band_id").alias("bid2"),
            F.col("band_key").alias("bkey2"),
        )
        ref = (
            a.join(
                b,
                (F.col("band_id") == F.col("bid2"))
                & (F.col("band_key") == F.col("bkey2"))
                & (F.col("doc_a") < F.col("doc_b")),
            )
            .select("doc_a", "doc_b")
            .distinct()
            .groupBy("doc_a")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("doc_b").alias("mn"),
                F.max("doc_b").alias("mx"),
            )
        )
        want = {r["doc_a"]: (r["n"], r["mn"], r["mx"]) for r in ref.collect()}
        assert got == want


class TestBandedPairsKernel:
    """operators/lsh.py::banded_pairs against a plain-Python reference of
    the definition: a pair (a < b) for every block both rows share, the
    cap keeping the ``cap`` members of each bucket first in
    (md5(str(id)), id) order; a multi-band table yields each pair once,
    a single-block table once per shared key. The DuckDB mirror
    (capped_bands_sql + banded_pairs_sql) is held to the same reference."""

    @staticmethod
    def _reference(rows, cap=None, carry=()):
        """rows: dicts with id, band_key, optional band_id, payload."""
        import hashlib
        from collections import Counter, defaultdict

        multi = "band_id" in rows[0]
        buckets = defaultdict(list)
        for r in rows:
            buckets[(r.get("band_id"), r["band_key"])].append(r)
        pairs = Counter()
        for members in buckets.values():
            if cap is not None:
                members = sorted(
                    members, key=lambda r: (hashlib.md5(str(r["id"]).encode()).hexdigest(), r["id"])
                )[:cap]
            for x in members:
                for y in members:
                    if x["id"] < y["id"]:
                        pairs[(x["id"], y["id"], *[v[c] for c in carry for v in (x, y)])] += 1
        return Counter(set(pairs)) if multi else pairs

    @staticmethod
    def _multi_band(spark, keys_by_id):
        """A multi-band table that carries its key vector, the shape
        lsh_bands and the SimHash/pHash halves produce."""
        df = spark.createDataFrame(
            [(i, ks) for i, ks in keys_by_id.items()], "id long, band_keys array<string>"
        )
        return df.select("id", F.posexplode("band_keys").alias("band_id", "band_key"), "band_keys")

    @staticmethod
    def _got(df, cols):
        from collections import Counter

        return Counter(tuple(r[c] for c in cols) for r in df.collect())

    def test_uncapped_multi_band_emits_each_pair_once(self, spark):
        from pkg2_spark.operators.lsh import banded_pairs

        keys = {1: ["a", "x"], 2: ["a", "x"], 3: ["a", "y"], 4: ["b", "y"], 5: ["c", "z"]}
        rows = [dict(id=i, band_id=b, band_key=k) for i, ks in keys.items() for b, k in enumerate(ks)]
        want = self._reference(rows)
        assert (1, 2) in want  # shares both bands (Hamming 0)
        assert (3, 4) in want  # shares band 1 only
        bands = self._multi_band(spark, keys)
        emit_once = banded_pairs(bands, "id", "a", "b")
        assert self._got(emit_once, ["a", "b"]) == want
        # without the key vector the rows cannot judge it: distinct
        assert self._got(banded_pairs(bands.drop("band_keys"), "id", "a", "b"), ["a", "b"]) == want

    def test_single_block_counts_a_pair_once_per_shared_key(self, spark):
        from pkg2_spark.operators.lsh import banded_pairs

        fps = {1: ["f", "g", "h"], 2: ["f", "g"], 3: ["g"], 4: ["k"]}
        rows = [dict(id=i, band_key=fp, n=len(v)) for i, v in fps.items() for fp in v]
        blocks = spark.createDataFrame(
            [(r["id"], r["band_key"], r["n"]) for r in rows], "id long, band_key string, n int"
        )
        for cap in (None, 64):
            got = banded_pairs(blocks, "id", "a", "b", cap=cap, carry=("n",))
            want = self._reference(rows, cap, carry=("n",))
            assert want[(1, 2, 3, 2)] == 2  # two shared fingerprints, two rows
            assert self._got(got, ["a", "b", "n_a", "n_b"]) == want, cap

    def test_capped_pair_still_comes_from_its_uncapped_band(self, spark, duck):
        import hashlib

        from pkg2_spark.operators.lsh import banded_pairs, banded_pairs_sql, capped_bands_sql

        hot = sorted(range(1, 6), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
        kept, dropped = hot[0], hot[2]  # cap 2 keeps hot[:2]
        keys = {i: ["hot", f"solo{i}"] for i in hot}
        keys[kept] = keys[dropped] = ["hot", "pair"]
        rows = [dict(id=i, band_id=b, band_key=k) for i, ks in keys.items() for b, k in enumerate(ks)]
        want = self._reference(rows, cap=2)
        lo, hi = sorted((kept, dropped))
        # the pair shares band 0, but the cap dropped one member there
        assert (lo, hi) in want and want == {tuple(sorted(hot[:2])): 1, (lo, hi): 1}
        got = banded_pairs(self._multi_band(spark, keys), "id", "a", "b", cap=2)
        assert self._got(got, ["a", "b"]) == want
        duck.execute("CREATE OR REPLACE TEMP TABLE kbands (id BIGINT, band_id INTEGER, band_key VARCHAR)")
        duck.executemany(
            "INSERT INTO kbands VALUES (?, ?, ?)",
            [(r["id"], r["band_id"], r["band_key"]) for r in rows],
        )
        sql = f"""WITH {capped_bands_sql("id", 2, source="kbands")},
{banded_pairs_sql("id", "a", "b")}
SELECT a, b FROM cand"""
        from collections import Counter

        assert Counter(duck.execute(sql).fetchall()) == want


def test_wide_cosine_refuses_a_vector_of_another_width(spark):
    # cosine_on_pairs unpacks exactly `dim` coordinates; a 96-dim pair
    # scored with dim=64 used to return the cosine of the first 64
    # coordinates, silently.
    import numpy as np
    import pytest as _pytest

    from pkg2_spark.operators.similarity import cosine_on_pairs

    rng = np.random.default_rng(5)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.uniform(-1, 1, 96)]) for i in (1, 2)],
        "vec_id long, embedding array<float>",
    )
    pair = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    a, b = (np.array(r.embedding, dtype=np.float64) for r in vecs.orderBy("vec_id").collect())
    true = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 4)
    assert cosine_on_pairs(pair, vecs, "id_a", "id_b", dim=96).first().cos == _pytest.approx(true, abs=1e-4)
    with _pytest.raises(Exception, match="has 96 coordinates; the wide cosine reads dim = 64"):
        cosine_on_pairs(pair, vecs, "id_a", "id_b", dim=64).collect()
