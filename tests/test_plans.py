"""Physical-plan assertions (SURVEY.md §4, the 100 TB posture).

Correct results are not enough: these tests pin the plan SHAPES that make the
operators scale — pushdown reaching the parquet scan, pruned read schemas,
broadcast joins for dims, no Python evaluation nodes outside the declared
UDF queries, and whole-stage codegen on the hot paths.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pkg2_spark.queries.relational import bucketed_tables
from pkg2_spark.registry import all_queries


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_projection_pruned_to_read_schema(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_prune")
    # Only the two projected columns may reach the parquet reader.
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderdate" not in read_schema and "o_custkey" not in read_schema


def test_filter_pushed_to_parquet(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_filter_pushdown")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, "no PushedFilters in scan node"
    assert any("o_orderstatus" in ln for ln in pushed)


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_multiway")
    assert "BroadcastHashJoin" in plan
    # the star join must not degenerate into nested loops
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_no_python_nodes_outside_udf_queries(spark, sf_dir):
    # LLM ops must stay JVM-side: built-in expressions only.
    for name in [
        "q_llm_minhash", "q_llm_cossim", "q_llm_tfidf", "q_llm_dedup_exact",
        "q_llm_cossim_lsh", "q_llm_jaccard_lsh", "q_llm_minhash_est",
        "q_llm_ann_recall", "q_llm_decontam",
    ]:
        plan = _plan(spark, sf_dir, name)
        for marker in ["BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"]:
            assert marker not in plan, f"{name} has Python node {marker}"


def test_udf_queries_do_use_arrow(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_udf_scalar")
    assert "ArrowEvalPython" in plan


def test_agg_has_partial_and_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_agg_group")
    # partial/final split = map-side combine before the shuffle. (AQE prints
    # isFinalPlan=false pre-execution, so WholeStageCodegen markers are not
    # visible here; the split around the Exchange is the load-bearing shape.)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_asof_join_is_window_not_join_explosion(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_asof")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # q_sink_bucketed writes both sides bucketed on the join key; a join of
    # the two must then be exchange-free (co-located). At test scale Spark
    # correctly broadcasts the small side, which also avoids the shuffle but
    # proves nothing about bucketing — so disable auto-broadcast to reveal
    # the fact-fact shape the layout is designed for.
    all_queries()["q_sink_bucketed"](spark, sf_dir).collect()  # write tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders, customer = bucketed_tables(sf_dir)
        o = spark.table(orders)
        c = spark.table(customer)
        df = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert plan.count("SelectedBucketsCount: 8 out of 8") == 2
    assert "Exchange" not in plan, "bucketed join inputs were re-shuffled"


def test_salted_agg_two_stage_shape(spark, sf_dir):
    # Salting must produce two aggregation rounds (key+salt, then key) —
    # four HashAggregate nodes with partial/final splits — and the final
    # combine shuffle carries only (key × salt) rows.
    plan = _plan(spark, sf_dir, "q_agg_salted")
    assert plan.count("HashAggregate") >= 4


def test_cosine_pair_stage_is_parallel_broadcast(spark, sf_dir):
    # The quadratic pair stage must not run as one task: probe side
    # round-robin repartitioned, candidate side broadcast (similarity.py).
    plan = _plan(spark, sf_dir, "q_llm_cossim")
    assert "RoundRobinPartitioning" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_embed_neardup_pair_stage_is_equi_join(spark, sf_dir):
    # Round 1 ran the exact top-50 as a BroadcastNestedLoopJoin over the full
    # id-pair space. The block-sharded form must discover pairs through an
    # equi-join on (bi, bj) — hash-joinable, shuffle-partitionable — never a
    # nested loop or cartesian over all pairs.
    plan = _plan(spark, sf_dir, "q_llm_embed_neardup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-50 stays a per-partition top-k


def test_ann_ivf_assignment_broadcasts_fixed_centroids(spark, sf_dir):
    # Level-1 centroid assignment is an O(n·k1) cross join against the
    # always-tiny broadcast codebook — the broadcast must appear; the
    # level-2 re-assignment and the cell ranking join must be equi-joins
    # (cell-keyed — the n/256-row sub-codebook is never broadcast by
    # design, it shuffles on cid), not cross joins.
    # The search plan's assignment input is localCheckpoint-ed (lineage
    # truncates to Scan ExistingRDD), so assert the assignment stages on
    # their own pre-checkpoint plans.
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.operators.ivf import centroids, nearest

    e = load_tables(spark, sf_dir)["embeddings"]
    a1 = nearest(
        e.select("vec_id", "embedding"), centroids(e),
        out_id="cid", cand_id="cid", cand_vec="cemb", dim=64,
    )
    l1_plan = a1._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        a1._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastExchange" in l1_plan
    assert any(j in l1_plan for j in ("BroadcastNestedLoopJoin", "BroadcastHashJoin"))
    # level-2 scoring + the cell ranking join must be equi-joins, never a
    # cartesian over the corpus
    plan = _plan(spark, sf_dir, "q_llm_ann_ivf")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin Inner" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_pair_joins_are_band_keyed(spark, sf_dir):
    # The scale-shaped pair discovery: candidates come from an equi-join on
    # (band_id, band_key) — high-cardinality, data-derived keys — never a
    # nested loop over the full pair space.
    for name in ("q_llm_cossim_lsh", "q_llm_jaccard_lsh"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "band_key" in plan, name


def test_self_join_pipelines_reuse_exchanges(spark, sf_dir):
    # The banded pair queries reference the MinHash/banding subplan on both
    # sides of a self-join. Catalyst does not CSE this statically, but AQE
    # must stitch in ReusedExchange at runtime — otherwise the tokenize +
    # aggregate runs twice per query, which at 100 TB doubles the most
    # expensive linear stage. Post-execution final plan is the evidence.
    df = all_queries()["q_llm_jaccard_lsh"](spark, sf_dir)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan


def test_partitioned_write_prunes_on_reread(spark, sf_dir):
    # q_sink_parquet lays out one directory per o_orderstatus; a filtered
    # re-read must prune to that partition (PartitionFilters, not a full scan).
    from pkg2_spark.queries.relational import fixture_path

    all_queries()["q_sink_parquet"](spark, sf_dir).collect()  # ensure layout
    df = spark.read.parquet(fixture_path("sink_parquet", sf_dir)).filter(
        F.col("o_orderstatus") == "F"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part and any("o_orderstatus" in ln for ln in part)


def test_topk_group_window_limit_is_partial(spark, sf_dir):
    # Rank-filter top-k must run the map-side WindowGroupLimit (top-3 per
    # group BEFORE the shuffle) — without it the Exchange carries every row.
    plan = _plan(spark, sf_dir, "q_win_topk_group")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_ohlc_is_single_aggregate_no_window(spark, sf_dir):
    # OHLC bars are ONE hash-agg (struct min/max endpoints) — a window
    # formulation would sort every row twice and forfeit map-side partials.
    plan = _plan(spark, sf_dir, "q_ts_ohlc")
    assert "Window" not in plan
    # tree lines render as "Exchange (n)"; the detail section as "(n) Exchange"
    assert plan.count("Exchange (") - plan.count("ReusedExchange (") == 1


def test_pagerank_iterations_shuffle_on_node_key(spark, sf_dir):
    # PageRank must stay hash-join + hash-agg per iteration: no cartesian
    # blowup, no Python nodes.
    plan = _plan(spark, sf_dir, "q_graph_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert marker not in plan


def test_pkg_search_filters_pushed_into_union(spark, sf_dir):
    # Federated search must keep each LIKE/equality filter ABOVE the parse
    # projection but BELOW the union — no post-union refilter of all rows,
    # and no Python nodes in the parse path.
    plan = _plan(spark, sf_dir, "q_pkg_search")
    assert "Union" in plan
    for marker in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert marker not in plan


def test_catalog_stats_present_for_cbo(spark, sf_dir):
    # SURVEY.md §4.1 obligation: ANALYZE runs at ingest so CostBasedJoinReorder
    # has rowCount + key ndv to work with. load_tables must leave analyzed
    # catalog entries behind (external LOCATION tables over the same parquet).
    import hashlib

    from pkg2_spark.catalog import STATS_COLUMNS, load_tables

    load_tables(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stats = spark.sql(f"DESCRIBE EXTENDED pkg2_{tag}_lineitem").filter(
        "col_name='Statistics'"
    ).collect()
    assert stats and "rows" in stats[0].data_type, "no rowCount statistic recorded"
    key = spark.sql(f"DESCRIBE EXTENDED pkg2_{tag}_nation n_nationkey").collect()
    info = {r.info_name: r.info_value for r in key}
    assert info.get("distinct_count") not in (None, "NULL"), "no ndv column stat"
    # The NTZ date columns MUST stay out of the column-stat set: Spark 4.1's
    # FilterEstimation crashes (MatchError: TimestampNTZType) when CBO meets
    # a filter over an NTZ column that carries stats.
    assert "o_orderdate" not in STATS_COLUMNS["orders"]
    assert "l_shipdate" not in STATS_COLUMNS["lineitem"]
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"


def test_tpch_composites_broadcast_dims_under_cbo(spark, sf_dir):
    # With CBO stats present, the 5-6 table composites must still resolve
    # every dim join to a broadcast hash join — no sort-merge fallback for
    # dim-sized sides and no nested-loop degeneration.
    for name in ["q_sql_tpch_q5", "q_sql_tpch_q7", "q_sql_tpch_q9"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        if name == "q_sql_tpch_q7":
            # CBO reorders Q7's OR-paired nation predicate into a direct
            # nation×nation join — a non-equi join of two FIXED 25-row dims
            # (sf-invariant), so one broadcast nested loop there is the
            # optimal shape, not degeneration. Anything more is a bug.
            # formatted explain names each node twice (tree + detail
            # section); count the numbered detail headers only.
            n_bnlj = sum(
                1
                for ln in plan.splitlines()
                if ln.strip().startswith("(") and "BroadcastNestedLoopJoin" in ln
            )
            assert n_bnlj <= 1, f"{name}: {n_bnlj} BNLJs"
        else:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ"


def test_round5_operators_plan_shapes(spark, sf_dir):
    # New-operator plan pins: PQ's only nested loop is the constant-16
    # broadcast codebook; the pairing paths (pHash, winnow overlap,
    # triangles) stay equi-join shaped with no Python nodes and no
    # cartesian products.
    pq = _plan(spark, sf_dir, "q_vec_pq")
    assert "BroadcastNestedLoopJoin" in pq  # the codebook cross, broadcast
    assert "CartesianProduct" not in pq
    for name in ["q_mm_phash_dup", "q_llm_winnow_dup", "q_graph_triangles",
                 "q_sketch_kmv", "q_llm_semdedup", "q_cdc_snapshot_diff",
                 "q_dq_anomaly", "q_ivm_agg", "q_pkg_outdated"]:
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        for marker in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
            assert marker not in plan, (name, marker)


def test_dpp_fires_on_partitioned_fact_scan(spark, sf_dir):
    # Dynamic partition pruning (SURVEY §4.1): the status-partitioned fact
    # scan must carry a dynamicpruning expression in its PartitionFilters —
    # the dim side is a window result, so the pruning key is only known at
    # run time and Catalyst must inject the subquery filter rather than
    # scanning every partition directory.
    plan = _plan(spark, sf_dir, "q_scan_dpp")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("dynamicpruning" in ln for ln in pf), pf


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    # Spark's runtime row-level filtering (the shuffle-join complement to
    # DPP): a selective filter on the creation side lets the optimizer
    # inject bloom_filter_agg over the join key and semi-filter the big
    # side's scan before the shuffle. Thresholds: creationSideThreshold is
    # a MAX on the build side's size (raising it widens eligibility — the
    # 1KB probe in development disabled injection entirely), while the
    # application-side scan threshold is a MIN. At 100 TB this conf pair
    # is how a 0.1% dim filter stops a full fact shuffle.
    from pkg2_spark.catalog import load_tables

    t = load_tables(spark, sf_dir)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = (
            t["lineitem"]
            .join(
                t["orders"].filter(F.col("o_orderpriority") == "1-URGENT"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_returnflag")
            .count()
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, "runtime bloom filter was not injected"
    assert "might_contain" in plan


def test_tpch_suite_plans_decorrelate_and_avoid_cartesians(spark, sf_dir):
    # The nine round-5 TPC-H shapes: every correlated subquery must
    # decorrelate (no per-row subquery execution exists in Spark, but a
    # failed decorrelation would surface as a cartesian/BNLJ explosion),
    # and 1-row scalar subqueries are the only legitimate nested-loop
    # sources. Q2/Q17 carry correlated scalar aggregates; Q21 carries the
    # EXISTS/NOT-EXISTS pair.
    one_row_scalar_ok = {
        # scalar-subquery comparisons Spark plans as a 1-row broadcast NLJ:
        # Q11 (global-threshold), Q15 (max-revenue), Q22-style avg guards
        "q_sql_tpch_q11", "q_sql_tpch_q15",
    }
    for n in [2, 8, 11, 12, 15, 16, 17, 20, 21]:
        name = f"q_sql_tpch_q{n}"
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        n_bnlj = sum(
            1
            for ln in plan.splitlines()
            if ln.strip().startswith("(") and "BroadcastNestedLoopJoin" in ln
        )
        cap = 1 if name in one_row_scalar_ok else 0
        assert n_bnlj <= cap, f"{name}: {n_bnlj} BNLJs (cap {cap})"
        for marker in ["BatchEvalPython", "ArrowEvalPython"]:
            assert marker not in plan, f"{name}: {marker}"


def test_tpch_q21_exists_pair_decorrelates_to_semi_and_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_sql_tpch_q21")
    assert "LeftSemi" in plan or "ExistenceJoin" in plan, "EXISTS not a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS not an anti join"


def test_interp_and_attribution_are_single_user_shuffle(spark, sf_dir):
    # The ignore-nulls window formulations must not smuggle in a self-join:
    # exactly zero join nodes; all window frames ride one user_id exchange
    # (attribution legitimately adds a second, map-side-combined exchange
    # for the 3-key channel aggregate).
    for name, cap in [("q_ts_interp", 1), ("q_events_attribution", 2)]:
        plan = _plan(spark, sf_dir, name)
        for marker in ["SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                       "CartesianProduct", "BroadcastNestedLoopJoin"]:
            assert marker not in plan, f"{name}: unexpected {marker}"
        exchanges = [
            ln for ln in plan.splitlines()
            if ln.strip().startswith("(") and "Exchange" in ln
            and "Reused" not in ln and "single" not in ln.lower()
        ]
        assert len(exchanges) <= cap, f"{name}: {len(exchanges)} exchanges"


def test_bloom_gate_probe_side_has_no_shuffle_join(spark, sf_dir):
    # The filter bit-set must reach the probe pass as a BROADCAST semi
    # join — a shuffle join here would defeat the operator's reason to
    # exist (map-side gating of the huge train corpus).
    plan = _plan(spark, sf_dir, "q_sketch_bloom")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_sketch_and_vector_paths_have_no_rank_windows(spark, sf_dir):
    # Round-5 rewrites removed every per-group rank window from the
    # sketch/vector family: KMV runs the salted two-stage k-minimum,
    # PQ/ADC argmin row-locally against broadcast codebooks, and the
    # bitmap distinct is pure hash aggregation. A Window node reappearing
    # here means a scale regression (per-group funneling).
    for name in ["q_sketch_kmv", "q_vec_pq", "q_vec_adc", "q_sketch_bitmap"]:
        plan = _plan(spark, sf_dir, name)
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name
        for marker in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
            assert marker not in plan, (name, marker)


def test_pq_and_adc_joins_are_broadcast_only(spark, sf_dir):
    # The only join shape allowed in the encode/search plans is the
    # broadcast nested loop against the constant codebook/LUT rows —
    # never a shuffled join of scored rows.
    for name in ["q_vec_pq", "q_vec_adc"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" in plan, name
        for marker in ["SortMergeJoin", "ShuffledHashJoin"]:
            assert marker not in plan, (name, marker)


def test_recurrence_folds_are_partition_level(spark, sf_dir):
    # The ordered recurrences must run as ONE key shuffle into a
    # partition-level MapInPandas fold — not per-group FlatMapGroupsInPandas
    # (whose dispatch cost scales with the key count), and never a join.
    for name in ["q_ts_ema", "q_ts_holtwinters", "q_ts_cusum"]:
        plan = _plan(spark, sf_dir, name)
        assert "MapInPandas" in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_bm25_topk_and_broadcast_shape(spark, sf_dir):
    # Ranking must be top-k (TakeOrderedAndProject), never a global sort of
    # the scored corpus; the df side broadcasts; no unbounded cartesian
    # (the 1-row totals cross join is BroadcastNestedLoopJoin by
    # construction and whitelisted in plan_audit).
    plan = _plan(spark, sf_dir, "q_llm_bm25")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_vocab_coverage_window_runs_on_reduced_vocab(spark, sf_dir):
    # The top-50 prefix must come from TakeOrderedAndProject (per-partition
    # top-k, driver merge) ABOVE the token hash-agg; the rank/running-sum
    # window is then over that constant 50-row table only — never a
    # partitionBy-less window over the unbounded vocab table.
    plan = _plan(spark, sf_dir, "q_llm_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), (
        "formatted plans print top-down: the Window consumer must appear "
        "above (before) the TakeOrderedAndProject that bounds its input"
    )
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_rfm_thresholds_has_no_window(spark, sf_dir):
    # The scale-safe RFM form must score via the broadcast percentile
    # threshold table — hash-agg -> 1-row agg -> broadcast cross ->
    # row-local CASE sums. No Window node at all (q_events_rfm's global
    # ntile triple is exactly what this query exists to avoid), and the
    # threshold join must be the broadcast 1-row shape, never a shuffle.
    plan = _plan(spark, sf_dir, "q_events_rfm_thresholds")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    for marker in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert marker not in plan, marker


def test_countmin_probe_selection_is_take_ordered(spark, sf_dir):
    # Probe tokens are the md5-top-5 via orderBy().limit(5) — a bounded
    # TakeOrderedAndProject, not a single-partition row_number window over
    # the full token-count table.
    plan = _plan(spark, sf_dir, "q_sketch_countmin")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_containment_pair_join_is_equi_on_block_key(spark, sf_dir):
    # The pair space must come from an equi-join on the blocking key —
    # never a cartesian/nested-loop over the corpus.
    plan = _plan(spark, sf_dir, "q_llm_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_entropy_is_hash_aggs_no_window_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_llm_entropy")
    assert "HashAggregate" in plan
    assert "Window" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_advisories_broadcast_the_feed(spark, sf_dir):
    # The bounded advisory feed must broadcast against the package table.
    plan = _plan(spark, sf_dir, "q_pkg_advisories")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_is_single_global_agg_plus_explode(spark, sf_dir):
    # The stage table must come from ONE aggregate exploded row-locally —
    # a Generate node over the 1-row conjunction counts, no second corpus
    # pass (no union of four scans of documents).
    plan = _plan(spark, sf_dir, "q_llm_filter_funnel")
    assert "Generate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_acid_reads_are_plain_scans_no_python(spark, sf_dir):
    # The table format's data path is ordinary parquet scanning: the
    # registered reads must plan as scans + hash-aggs with NO Python
    # node (the log fold is driver-side metadata, invisible to the plan)
    # and no join at all in the merge read-back.
    for name in ("q_acid_timetravel", "q_acid_merge"):
        plan = _plan(spark, sf_dir, name)
        assert "HashAggregate" in plan, name
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, (name, marker)
    assert "Join" not in _plan(spark, sf_dir, "q_acid_merge")


def test_db_and_avro_sources_decode_via_mapinpandas(spark, sf_dir):
    # The two stdlib sources are DECLARED Python decode surfaces: exactly
    # one MapInPandas stage feeding a JVM-side hash aggregate — no
    # row-at-a-time Python, no Python after the decode.
    for name in ("q_src_sqlite", "q_src_avro", "q_sink_avro"):
        plan = _plan(spark, sf_dir, name)
        assert "MapInPandas" in plan, name
        assert "HashAggregate" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_xml_roundtrip_is_jvm_native(spark, sf_dir):
    # Spark 4's xml format is a JVM-native source: the re-read must plan
    # as a plain FileScan feeding a hash aggregate with NO Python node,
    # exactly like csv/json (the stdlib decode surfaces are the only
    # declared MapInPandas sources).
    plan = _plan(spark, sf_dir, "q_src_xml")
    assert "HashAggregate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_rfm_exact_ntile_arm_is_panel_bounded(spark, sf_dir):
    # r11 verdict #5: the exact-ntile grading arm was the last declared
    # plan with a corpus-proportional single-partition window. Its input
    # is now the md5-smallest 100k-buyer panel taken with
    # TakeOrderedAndProject (parallel partial top-K), so the global ntile
    # windows are bounded at any corpus scale. Formatted plans print
    # top-down: the Window consumer must sit above the
    # TakeOrderedAndProject that bounds it.
    plan = _plan(spark, sf_dir, "q_events_rfm")
    assert "TakeOrderedAndProject" in plan
    assert "Window" in plan
    # r12 advice: anchor on the operator TREE section and on the ntile
    # Window specifically — a first-occurrence plan.index() over the whole
    # formatted string flips on any unrelated Window/TakeOrdered printed
    # earlier (reused subtree, details section). Formatted plans are
    # "<numbered tree>\n\n(1) <details>..."; resolve the ntile Window's
    # node id from the details, then compare tree-line positions: the
    # top-down tree prints parents before children, so the bounding
    # TakeOrderedAndProject must print BELOW the ntile Window it feeds.
    import re as _re

    tree, _, details = plan.partition("\n\n")
    ntile_ids = {
        m.group(1)
        for block in details.split("\n\n")
        if (m := _re.match(r"\((\d+)\) Window\b", block)) and "ntile(" in block
    }
    assert ntile_ids, "no ntile Window node in the plan details"
    tree_lines = tree.splitlines()
    ntile_lines = [
        i
        for i, ln in enumerate(tree_lines)
        if any(f"Window ({nid})" in ln for nid in ntile_ids)
    ]
    top_lines = [
        i for i, ln in enumerate(tree_lines) if "TakeOrderedAndProject" in ln
    ]
    assert ntile_lines and top_lines
    assert max(ntile_lines) < min(top_lines), (
        "the ntile windows must consume the bounded panel, not the raw "
        "per-buyer table"
    )
    assert "CartesianProduct" not in plan


def test_span_dedup_cover_is_interval_merge_not_position_explode(spark, sf_dir):
    # r11 verdict #3: covered tokens now come from a per-doc lag-window
    # interval merge over dupocc rows, NOT the old x8 position explode +
    # (doc,pos)-distinct (which shuffled 8x the duplicated rows — 36M vs
    # 4.5M at sf10d). The plan must carry the doc-partitioned window and
    # exactly ONE explode (the positional shingle stream itself).
    plan = _plan(spark, sf_dir, "q_llm_span_dedup")
    assert "Window" in plan
    # the positional shingle explode appears once per consumer branch
    # (dup agg + join-back); the cover branch adds NO third explode
    assert plan.count("Generate explode") <= 2, (
        "the x8 position-cover explode is back"
    )
    assert "CartesianProduct" not in plan
    for marker in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert marker not in plan, marker


def test_winnow_dup_prunes_single_member_fingerprints_shuffle_free(spark, sf_dir):
    # r11 verdict #3: the unique-fingerprint majority is dropped before
    # the pairing self-join by a count over the SAME fp partitioning as
    # the cap window — the plan must carry exactly ONE exchange on fp
    # feeding the window stack (the count must not add a shuffle).
    plan = _plan(spark, sf_dir, "q_llm_winnow_dup")
    import re

    fp_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and re.search(r"\bfp\b", ln)
    ]
    assert len(fp_exchanges) <= 2, (  # one per self-join side at most
        f"fingerprint pruning added exchanges: {fp_exchanges}"
    )
    assert "CartesianProduct" not in plan


def test_sql_variables_macro_inlines_and_pushes_down(spark, sf_dir):
    # The Spark 4 SQL-surface trio must be free at scale: the SQL-macro
    # function is INLINED (no Python node anywhere), and both the
    # session-variable predicate and the named-parameter predicate reach
    # the parquet scan as pushed filters.
    plan = _plan(spark, sf_dir, "q_sql_variables")
    assert "PushedFilters" in plan
    assert "LessThan(l_quantity,25" in plan.replace(" ", "")
    assert "LessThanOrEqual(l_shipdate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "FLOOR" in plan  # the macro body, inlined into codegen


def test_ivfpq_plans_the_same_every_call(spark, sf_dir):
    # q_vec_ivfpq's residual join keys on the quantizer cell. Unhinted,
    # adaptive execution turned it into a broadcast join built from
    # whichever side's shuffle stage finished first; when that was the
    # vector side, the sample branch could not reuse the codebook
    # broadcast, and the collect ran one more job. The join is hinted
    # shuffle-hash, so three calls in one session run the same jobs.
    import re
    import uuid

    sc = spark.sparkContext
    jobs = []
    for i in range(3):
        df = all_queries()["q_vec_ivfpq"](spark, sf_dir)
        group = f"ivfpq-{uuid.uuid4().hex}-{i}"
        sc.setJobGroup(group, group)
        try:
            df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"ShuffledHashJoin \[qcid#", plan), "residual join re-planned"
    assert len(set(jobs)) == 1, jobs


def test_blocked_token_pairs_tokenize_after_the_fan_out(spark, sf_dir):
    # The one-file documents scan is one task; tokenizing above it ran
    # lower/split/array_distinct for every document on that one task and
    # spread only the pair intersections. The round-robin exchange must
    # sit below the tokenizing projection.
    for name in ("q_llm_jaccard", "q_llm_containment", "q_llm_lsh_calib"):
        df = all_queries()[name](spark, sf_dir)
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        below = [
            lines[i + 1] for i, ln in enumerate(lines)
            if "Project [" in ln and "array_distinct(filter(split(lower(text" in ln
        ]
        assert below, name
        assert all("Exchange RoundRobinPartitioning" in ln for ln in below), (name, below)


def test_batch_resolve_gains_no_action(spark, sf_dir, action_log):
    # q_pkg_resolve builds a fresh Engine per call, so its resolve is the
    # ingest's first: the local finish's one edge collect (one job) builds
    # the adjacency the engine keeps per ingest, and build plus collect run
    # 7 jobs in all. The query reads only its Debian fixture, so the count
    # holds at any scale factor. q_pkg_revdeps reads the same counted edge
    # set but never resolves, so it builds no adjacency.
    from pkg2_spark.operators import graph_ops as G

    action_log.wrap(G, "_adjacency")
    action_log.run(lambda: all_queries()["q_pkg_resolve"](spark, sf_dir).collect())
    assert action_log.names == ["_adjacency"]
    tracker = spark.sparkContext.statusTracker()
    (_, group), = action_log.calls
    assert len(tracker.getJobIdsForGroup(group)) == 1
    assert len(action_log.stray_jobs) == 6
    action_log.run(lambda: all_queries()["q_pkg_revdeps"](spark, sf_dir).collect())
    assert action_log.names == []


def test_driver_rows_reach_spark_only_through_local_rows_df():
    # createDataFrame over a Python list plans a pickled LogicalRDD whose
    # every job starts a Python worker; session.local_rows_df hands Spark
    # an Arrow table instead. It must stay the package's only caller.
    import ast
    import pathlib

    def callers(node, scope):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                yield scope
            fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            yield from callers(child, child.name if fn else scope)

    root = pathlib.Path(__file__).resolve().parent.parent / "pkg2_spark"
    found = [
        f"{path.relative_to(root)}::{fn}"
        for path in sorted(root.rglob("*.py"))
        for fn in callers(ast.parse(path.read_text()), "<module>")
    ]
    assert found == ["session.py::local_rows_df"], found
