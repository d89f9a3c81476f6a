"""SURVEY.md §2.11 — iterative/graph: dependency transitive closure.

pkg2's dependency-resolution analog [Tier C]: from the APKINDEX-style edge
table (package → depends), compute bounded-depth reachability with minimal
depth — the "install closure" of every package.

Spark has no recursion; the driver runs the engine's one BFS fixpoint
kernel of DataFrame self-joins (SURVEY.md §4.3;
operators/graph_ops.py::reachability, grouped by root): semi-naïve rounds,
one node-keyed shuffle join each, with a per-round checkpoint so round N
doesn't replay rounds 1..N-1.

Every fixpoint in this module keeps that round discipline, one checkpoint
action per round, through one of two kernels or one loop: q_graph_closure
and q_graph_sssp call reachability, q_graph_cc calls
operators/dedup.py::resolve_components, and q_graph_kcore checkpoints its
single (node, peel round) state once per round. The driver-local finish
of both kernels reads one bound, graph_ops.LOCAL_FINISH_EDGES.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pkg2_spark.operators.graph_ops import reachability
from pkg2_spark.queries.relational import _APKINDEX_PATH
from pkg2_spark.registry import query
from pkg2_spark.session import plan_memo, truncate_lineage

_MAX_DEPTH = 5


def _edges(spark: SparkSession) -> DataFrame:
    """(name, dep) edges from the APKINDEX sample; so:* virtuals excluded."""
    raw = spark.read.text(_APKINDEX_PATH, wholetext=True)
    stanza = (
        raw.select(F.explode(F.split(F.col("value"), "\n\n")).alias("stanza"))
        .filter(F.trim(F.col("stanza")) != "")
    )
    return (
        stanza.select(
            F.regexp_extract("stanza", r"P:([^\n]+)", 1).alias("name"),
            F.explode(
                F.filter(
                    F.split(F.regexp_extract("stanza", r"D:([^\n]+)", 1), " "),
                    lambda x: (x != "") & ~x.startswith("so:"),
                )
            ).alias("dep"),
        )
    )


_EDGES_SQL = f"""
edges AS (
  SELECT regexp_extract(stanza, 'P:([^' || chr(10) || ']+)', 1) AS name,
         unnest(list_filter(
            string_split(regexp_extract(stanza, 'D:([^' || chr(10) || ']+)', 1), ' '),
            x -> x <> '' AND NOT starts_with(x, 'so:'))) AS dep
  FROM (
    SELECT unnest(string_split(content, chr(10) || chr(10))) AS stanza
    FROM read_text('{_APKINDEX_PATH}')
  )
  WHERE trim(stanza) <> ''
)
"""


@query(
    "q_graph_closure",
    oracle=f"""
WITH RECURSIVE {_EDGES_SQL.strip().rstrip()},
reach(root, node, depth) AS (
  SELECT name, dep, 1 FROM edges
  UNION
  SELECT r.root, e.dep, r.depth + 1
  FROM reach r JOIN edges e ON r.node = e.name
  WHERE r.depth < {_MAX_DEPTH}
)
SELECT root, node, CAST(min(depth) AS INTEGER) AS depth
FROM reach GROUP BY root, node
""",
)
def q_graph_closure(spark, sf_dir):
    # truncate_lineage, not persist: repeated invocations (bench loops,
    # probes) would accumulate cached RDDs; the checkpoint (local by
    # default, reliable when a checkpoint dir is set — session.py's
    # posture seam) materializes the frame once for the loop's many
    # reads and frees with the reference.
    edges = _edges(spark).distinct().transform(truncate_lineage)
    roots = edges.select(F.col("name").alias("root"), F.col("dep").alias("node"))
    return reachability(
        edges, "name", "dep", roots, group="root", node="node", max_depth=_MAX_DEPTH
    )


# --------------------------------------------------------------- PageRank
# Deterministic integer-scaled PageRank over the (undirected) customer ↔
# supplier interaction graph derived from lineitem ⋈ orders. Ranks are kept
# as e6-scaled BIGINTs: per-edge contribution = floor(rank / degree), new
# rank = 150000 + floor(0.85 * sum(contribs)) — every float op has exact
# integer operands and identical order in both engines, so three unrolled
# iterations are bit-identical cross-engine (the registry's floor-not-round
# discipline applied to an iterative algorithm).

_PR_ITERS = 3
_PR_OFFSET = 1000000  # supplier node id = s_suppkey + offset


def _pagerank_oracle() -> str:
    cte = """
pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg)"""
    for i in range(_PR_ITERS):
        cte += f""",
r{i + 1} AS (
  SELECT n.node,
         150000 + CAST(floor(0.85 * coalesce(s.m, 0)) AS BIGINT) AS rank
  FROM r{i} n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST(floor(CAST(r.rank AS DOUBLE) / d.d) AS BIGINT)) AS BIGINT) AS m
    FROM edges e
    JOIN r{i} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)"""
    return f"""
WITH {cte.strip()}
SELECT node - 1000000 AS s_suppkey, rank AS rank_e6
FROM r{_PR_ITERS} WHERE node >= 1000000
"""


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark, sf_dir):
    # Dataflow + determinism rationale: operators/graph_ops.py::pagerank
    # (the reusable form — Engine.pagerank is the facade entry).
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.operators.graph_ops import pagerank

    t = load_tables(spark, sf_dir)
    pairs = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _PR_OFFSET).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank(edges, iters=_PR_ITERS)
    return ranks.filter(F.col("node") >= _PR_OFFSET).select(
        (F.col("node") - _PR_OFFSET).alias("s_suppkey"), F.col("rank").alias("rank_e6")
    )


# --- Shared co-supply kNN graph construction (triangles, degree
# distribution, connected components all read the same edge list).
#
# The raw co-supply projection is quadratic in suppliers-per-part: a hot
# part with m suppliers emits m·(m-1) scored pairs, and the measured pair
# volume grew 13× per 10× data (1.37M → 18.0M, sf0.01 → sf0.1) — the
# same hot-key blow-up class as the LSH band buckets (VERDICT r4 #2/#3).
# Guard: the SAME deterministic md5-ranked member cap idiom
# (operators/lsh.py::cap_band_buckets), applied per part — every part
# contributes at most _PART_CAP·(_PART_CAP-1) pairs, so pair volume is
# O(parts · cap²) no matter how hot a part gets at corpus scale. The kNN
# cut then ranks shared-part counts over the capped projection; both
# engines compute the identical capped sets (md5 rank mirrored in SQL).
_PART_CAP = 16

_COSUPPLY_UND_SQL = f"""sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
capped AS (
  SELECT s, p FROM sp
  QUALIFY row_number() OVER (
    PARTITION BY p ORDER BY md5(CAST(s AS VARCHAR)) ASC NULLS LAST, s ASC NULLS LAST
  ) <= {_PART_CAP}
),
cp AS (
  SELECT a.s AS sa, b.s AS sb, count(*) AS shared
  FROM capped a JOIN capped b ON a.p = b.p AND a.s <> b.s
  GROUP BY a.s, b.s
),
knn AS (
  SELECT sa, sb FROM cp
  QUALIFY row_number() OVER (
    PARTITION BY sa ORDER BY shared DESC NULLS LAST, sb ASC NULLS LAST
  ) <= 3
),
und AS (SELECT DISTINCT least(sa, sb) AS a, greatest(sa, sb) AS b FROM knn)"""


def _cosupply_und(t) -> DataFrame:
    """Undirected (a < b) kNN co-supply edges over the capped projection —
    the Spark mirror of _COSUPPLY_UND_SQL."""
    sp = t["lineitem"].select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    wcap = Window.partitionBy("p").orderBy(
        F.md5(F.col("s").cast("string")).asc_nulls_last(),
        F.col("s").asc_nulls_last(),
    )
    capped = (
        sp.withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= _PART_CAP)
        .drop("_rn")
    )
    a = capped.select(F.col("s").alias("sa"), "p")
    # shuffle_hash: both sides are the same cap-window subtree already
    # partitioned on p (the lsh.py::banded_pairs reuse argument).
    b = capped.select(
        F.col("s").alias("sb"), F.col("p").alias("p2")
    ).hint("shuffle_hash")
    cp = (
        a.join(b, (F.col("p") == F.col("p2")) & (F.col("sa") != F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    w = Window.partitionBy("sa").orderBy(
        F.col("shared").desc_nulls_last(), F.col("sb").asc_nulls_last()
    )
    knn = cp.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return knn.select(
        F.least("sa", "sb").alias("a"), F.greatest("sa", "sb").alias("b")
    ).distinct()


def _cosupply_und_shared(t) -> DataFrame:
    """Session-memoized, lineage-truncated co-supply kNN edge list — the
    q_llm IVF-tree idiom applied to the graph family (r14): SIX graph
    queries consume the identical ~2.2 s projection+cap+pair+kNN kernel
    and each used to rebuild it per invocation. One materialization per
    session and plan of its one input, lineitem (session.plan_memo): the
    edge frame itself is derived anew on every call, so keying on it
    would never hit for an in-memory input. The edge list is
    3·|suppliers| rows, so the checkpoint is KBs at bench scale and
    node-linear at any scale."""
    return plan_memo(
        t["lineitem"],
        "cosupply_und",
        lambda: _cosupply_und(t).transform(truncate_lineage),
    )


@query(
    "q_graph_triangles",
    oracle=f"""
WITH {_COSUPPLY_UND_SQL},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcnt AS (
  SELECT node, count(*) AS n_tri FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
    UNION ALL SELECT z AS node FROM tri
  ) GROUP BY node
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
)
SELECT deg.node AS s_suppkey,
       CAST(deg.degree AS INTEGER) AS degree,
       CAST(coalesce(tcnt.n_tri, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.degree >= 2
                 THEN coalesce(tcnt.n_tri, 0) * 2 * 10000 // (deg.degree * (deg.degree - 1))
                 ELSE 0 END AS BIGINT) AS clustering_bp
FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
""",
)
def q_graph_triangles(spark, sf_dir):
    """Triangle counting + local clustering coefficient over the supplier
    co-supply kNN graph (top-3 most-shared-parts partners per supplier —
    the raw co-supply projection is near-complete on this corpus, so the
    contract graph is the similarity-kNN sparsification every production
    graph pipeline applies first).

    Topology, scale-shaped end to end: the shared capped co-supply
    projection (_cosupply_und — O(parts · cap²) pair volume, hot-part
    safe), the kNN cut as a per-node rank window on exact integer
    shared-counts, and the triangle join as the classic ORIENTED edge
    join — edges stored a<b, so e1(a,b)⋈e2(b,c)⋈e3(a,c) enumerates each
    triangle exactly once with two equi-joins on the (tiny, 3n-edge)
    oriented edge list, never touching the fact table again. Per-node
    counts and the clustering coefficient (basis points, integer DIV)
    are exact integers throughout."""
    from pkg2_spark.catalog import load_tables

    und = _cosupply_und_shared(load_tables(spark, sf_dir))
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .select("x", "y", "z")
    )
    tcnt = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    return deg.join(tcnt, "node", "left").select(
        F.col("node").alias("s_suppkey"),
        F.col("degree").cast("int").alias("degree"),
        n_tri.cast("long").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr("coalesce(n_tri, 0) * 2 * 10000 DIV (degree * (degree - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("clustering_bp"),
    )


@query(
    "q_graph_degree_dist",
    oracle=f"""
WITH {_COSUPPLY_UND_SQL},
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT CAST(d.degree AS INTEGER) AS degree,
       count(*) AS n_nodes,
       CAST(count(*) * 10000 // t.n_nodes AS BIGINT) AS share_bp
FROM deg d CROSS JOIN tot t
GROUP BY d.degree, t.n_nodes
""",
)
def q_graph_degree_dist(spark, sf_dir):
    """Degree distribution of the supplier co-supply kNN graph — the first
    thing a graph pipeline inspects (hub detection, power-law check,
    partitioning-strategy input: a heavy-tailed degree histogram is the
    signal to switch the downstream joins to vertex-cut sharding). Shares
    in exact basis points of the node population.

    Scale shape: the same part-keyed projection + per-node kNN window as
    q_graph_triangles (the expensive part, bounded by suppliers-per-part),
    then two tiny hash-aggs and a 1-row total broadcast — histogram size
    is bounded by the kNN cap, not the graph."""
    from pkg2_spark.catalog import load_tables

    und = _cosupply_und_shared(load_tables(spark, sf_dir))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tot = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        deg.crossJoin(F.broadcast(tot))
        .groupBy(F.col("degree").cast("int").alias("degree"), "n_nodes")
        .agg(F.count(F.lit(1)).alias("n_nodes_at_degree"))
        .select(
            "degree",
            F.col("n_nodes_at_degree").alias("n_nodes"),
            F.expr("CAST(n_nodes_at_degree * 10000 DIV n_nodes AS BIGINT)").alias(
                "share_bp"
            ),
        )
    )


@query(
    "q_graph_cc",
    oracle=f"""
WITH RECURSIVE {_COSUPPLY_UND_SQL},
edges AS (SELECT a AS x, b AS y FROM und UNION SELECT b AS x, a AS y FROM und),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v)
SELECT CAST(component AS BIGINT) AS component,
       CAST(count(*) AS BIGINT) AS n_suppliers
FROM comp GROUP BY component
""",
)
def q_graph_cc(spark, sf_dir):
    """Connected components of the supplier co-supply kNN graph — the
    standalone graph-clustering primitive (the same min-label contraction
    operators/dedup.py:resolve_components that powers near-dup resolution,
    here exercised on a real graph rather than an LSH candidate set).
    Emits each component's canonical min-supplier label and size.

    Scale shape: the shared capped co-supply projection (_cosupply_und —
    O(parts · cap²) pair volume) + per-node kNN window build the edge
    list (degree capped at k=3 per node); contraction + the driver-local
    union-find finish resolve components with localCheckpoint lineage
    truncation (operators/dedup.py)."""
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.operators.dedup import resolve_components

    und = _cosupply_und_shared(load_tables(spark, sf_dir))
    comp = resolve_components(und, src="a", dst="b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers")
    ).select(F.col("component").cast("long").alias("component"), "n_suppliers")


_KCORE_K = 4  # degree threshold
_KCORE_ROUNDS = 4  # fixed synchronous peeling rounds (both engines run all)


def _kcore_oracle() -> str:
    """Generate the fixed-round peeling CTE chain — one (deg, nodes,
    peeled, edges) block per round, the literal SQL mirror of the Spark
    driver loop."""
    parts = [
        "n0 AS MATERIALIZED (SELECT a AS node FROM und UNION SELECT b AS node FROM und)",
        "e0 AS MATERIALIZED (SELECT a, b FROM und)",
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        j = i - 1
        parts.append(
            f"""deg{i} AS MATERIALIZED (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e{j} UNION ALL SELECT b AS node FROM e{j}
  ) GROUP BY node
)"""
        )
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT n.node FROM n{j} n LEFT JOIN deg{i} USING (node)"
            f" WHERE coalesce(d, 0) >= {_KCORE_K})"
        )
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT node, {i} AS r FROM n{j}"
            f" WHERE node NOT IN (SELECT node FROM n{i}))"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT a, b FROM e{j}"
            f" WHERE a IN (SELECT node FROM n{i}) AND b IN (SELECT node FROM n{i}))"
        )
    R = _KCORE_ROUNDS
    peeled_union = " UNION ALL ".join(f"SELECT node, r FROM p{i}" for i in range(1, R + 1))
    chain = ",\n".join(parts)
    return f"""
WITH {_COSUPPLY_UND_SQL},
{chain},
degF AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e{R} UNION ALL SELECT b AS node FROM e{R}
  ) GROUP BY node
),
peeled AS ({peeled_union})
SELECT node AS s_suppkey, CAST(r AS INTEGER) AS peel_round,
       CAST(0 AS INTEGER) AS resid_degree, FALSE AS in_core
FROM peeled
UNION ALL
SELECT n.node AS s_suppkey, CAST(0 AS INTEGER) AS peel_round,
       CAST(coalesce(degF.d, 0) AS INTEGER) AS resid_degree, TRUE AS in_core
FROM n{R} n LEFT JOIN degF USING (node)
"""


@query("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark, sf_dir):
    """Bounded k-core peeling over the supplier co-supply kNN graph — the
    density-tier decomposition (spam/anomaly and community-nucleus
    analysis both start here): run exactly _KCORE_ROUNDS synchronous
    peeling rounds at k=_KCORE_K, emitting for every node the round it
    was peeled in (1..R; 0 = survived all rounds = the bounded k-core)
    and, for survivors, the residual degree inside the surviving
    subgraph. Fixed-round semantics keep the operator deterministic and
    engine-portable whether or not the peel has reached fixpoint — both
    engines run the SAME R rounds, so outputs agree even mid-convergence
    (the full-core variant is this loop with a convergence check, same
    per-round cost).

    The loop carries one state frame, (node, r): r is the round the node
    was peeled in, 0 while it is alive. Each round restricts the shared
    edge list to live endpoints (two leftsemi joins against r = 0), counts
    their degrees with one node-keyed hash-agg (map-combinable union of
    the two endpoints), peels the live nodes below k and cuts the state's
    lineage with one checkpoint action (session.truncate_lineage), so
    round N never replays rounds 1..N-1 (the §4.3 iterative discipline);
    R is a constant, so the whole operator is R node-keyed shuffles
    regardless of graph size. The final select reads peel_round, in_core
    and the residual degree off the same state."""
    from pkg2_spark.catalog import load_tables

    und = _cosupply_und_shared(load_tables(spark, sf_dir))

    def live_degree(state):
        alive = state.filter(F.col("r") == 0).select("node")
        live = und.join(alive.withColumnRenamed("node", "a"), "a", "leftsemi").join(
            alive.withColumnRenamed("node", "b"), "b", "leftsemi"
        )
        deg = (
            live.select(F.col("a").alias("node"))
            .unionAll(live.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        return state.join(deg, "node", "left").withColumn(
            "d", F.coalesce(F.col("d"), F.lit(0))
        )

    state = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.lit(0).alias("r"))
    )
    for i in range(1, _KCORE_ROUNDS + 1):
        peel = (F.col("r") == 0) & (F.col("d") < _KCORE_K)
        state = (
            live_degree(state)
            .select("node", F.when(peel, F.lit(i)).otherwise(F.col("r")).alias("r"))
            .transform(truncate_lineage)
        )
    in_core = F.col("r") == 0
    return live_degree(state).select(
        F.col("node").alias("s_suppkey"),
        F.col("r").cast("int").alias("peel_round"),
        F.when(in_core, F.col("d")).otherwise(F.lit(0)).cast("int").alias("resid_degree"),
        in_core.alias("in_core"),
    )


# ------------------------------------------------------------------- HITS
# Hubs-and-authorities over the directed customer -> supplier purchase
# graph (hub = customer whose purchases concentrate on authoritative
# suppliers, authority = supplier bought by strong hubs). Same integer
# discipline as PageRank: e6-scaled BIGINT scores, max-normalized each
# half-step with INTEGER division, so three unrolled iterations are
# bit-identical cross-engine (operators/graph_ops.py::hits).

_HITS_ITERS = 3


def _hits_oracle() -> str:
    cte = """
pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
h0 AS (SELECT DISTINCT c AS node, CAST(1000000 AS BIGINT) AS score FROM pairs)"""
    for i in range(1, _HITS_ITERS + 1):
        cte += f""",
a{i}_raw AS (
  SELECT p.s AS node, CAST(sum(h.score) AS BIGINT) AS raw
  FROM pairs p JOIN h{i - 1} h ON p.c = h.node GROUP BY p.s
),
a{i} AS (
  SELECT node,
         CAST((raw * 1000000) // (SELECT max(raw) FROM a{i}_raw) AS BIGINT) AS score
  FROM a{i}_raw
),
h{i}_raw AS (
  SELECT p.c AS node, CAST(sum(a.score) AS BIGINT) AS raw
  FROM pairs p JOIN a{i} a ON p.s = a.node GROUP BY p.c
),
h{i} AS (
  SELECT node,
         CAST((raw * 1000000) // (SELECT max(raw) FROM h{i}_raw) AS BIGINT) AS score
  FROM h{i}_raw
)"""
    n = _HITS_ITERS
    return f"""
WITH {cte.strip()}
SELECT 'auth' AS side, node - 1000000 AS id, score AS score_e6 FROM a{n}
UNION ALL
SELECT 'hub' AS side, node AS id, score AS score_e6 FROM h{n}
"""


@query("q_graph_hits", oracle=_hits_oracle())
def q_graph_hits(spark, sf_dir):
    """HITS hubs/authorities (Kleinberg) over the customer->supplier
    purchase graph — the link-analysis dual to q_graph_pagerank, with the
    same determinism posture: integer e6 scores, max-normalized per
    half-step via integer division (operators/graph_ops.py::hits
    documents the dataflow and the int64 headroom bound). Suppliers are
    offset by 1e6 so the two score domains never collide in the node id
    space; the output unions both sides under a `side` discriminator.

    Scale per half-step: one shuffle join of edges against the 1-row-
    per-node score table + one hash-agg + a 1-row broadcast normalizer —
    linear in edges per iteration, state one row per node."""
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.operators.graph_ops import hits

    t = load_tables(spark, sf_dir)
    pairs = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _PR_OFFSET).alias("dst"),
        )
        .distinct()
    )
    scores = hits(pairs, iters=_HITS_ITERS)
    auth = scores.filter(F.col("auth_e6").isNotNull()).select(
        F.lit("auth").alias("side"),
        (F.col("node") - _PR_OFFSET).alias("id"),
        F.col("auth_e6").alias("score_e6"),
    )
    hub = scores.filter(F.col("hub_e6").isNotNull()).select(
        F.lit("hub").alias("side"),
        F.col("node").alias("id"),
        F.col("hub_e6").alias("score_e6"),
    )
    return auth.unionAll(hub)


# ------------------------------------------------- single-source hops (BFS)
def _sssp_oracle() -> str:
    cte = f"""{_COSUPPLY_UND_SQL},
e AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b AS src, a AS dst FROM und),
d0 AS (SELECT min(a) AS node, CAST(0 AS BIGINT) AS dist FROM und)"""
    for i in range(1, 4):
        cte += f""",
d{i} AS (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM d{i - 1} d JOIN e ON e.src = d.node
  ) GROUP BY node
)"""
    return f"WITH {cte}\nSELECT node AS s_suppkey, dist AS hops FROM d3"


@query("q_graph_sssp", oracle=_sssp_oracle())
def q_graph_sssp(spark, sf_dir):
    """Single-source shortest HOPS (unweighted SSSP, 3 hops) from the
    minimum supplier key over the shared capped co-supply kNN graph — the
    reachability-with-distance query a dependency resolver asks ("how far
    is this package from the root?"); q_graph_closure proves
    reachability, this labels it with distance. The oracle relaxes
    dist' = min(dist, neighbor dist + 1) three times; the minimal BFS
    depth from a depth-0 seed is the same fixpoint, so the query is one
    call of the engine's reachability kernel (operators/graph_ops.py)
    over the symmetric edge list with start_depth=0, max_depth=3 —
    integer depths, bit-identical cross-engine.

    Scale: the kernel's driver-local finish runs while the edge list fits
    graph_ops.LOCAL_FINISH_EDGES (the kNN cap keeps it 3·|suppliers|
    rows); past it, one node-keyed join and one counted checkpoint per
    hop, state one row per REACHED node."""
    from pkg2_spark.catalog import load_tables

    und = _cosupply_und_shared(load_tables(spark, sf_dir))
    e = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    seed = und.agg(F.min("a").alias("node"))
    dist = reachability(e, "src", "dst", seed, node="node", start_depth=0, max_depth=3)
    return dist.select(
        F.col("node").alias("s_suppkey"), F.col("depth").cast("long").alias("hops")
    )


@query(
    "q_graph_assortativity",
    oracle=f"""
WITH {_COSUPPLY_UND_SQL},
e AS (SELECT a AS x, b AS y FROM und UNION ALL SELECT b AS x, a AS y FROM und),
deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY x),
pairs AS (
  SELECT dx.d AS a, dy.d AS b
  FROM e JOIN deg dx ON e.x = dx.node JOIN deg dy ON e.y = dy.node
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a) AS BIGINT) AS sx, CAST(sum(b) AS BIGINT) AS sy,
         CAST(sum(a * b) AS BIGINT) AS sxy,
         CAST(sum(a * a) AS BIGINT) AS sx2,
         CAST(sum(b * b) AS BIGINT) AS sy2
  FROM pairs
)
SELECT n AS n_directed_edges,
       CAST(floor(
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy))
         * 10000) AS BIGINT) AS assortativity_e4
FROM m
""",
)
def q_graph_assortativity(spark, sf_dir):
    """Degree ASSORTATIVITY (Newman's r) of the capped co-supply kNN
    graph — the network-science diagnostic behind "do hubs connect to
    hubs?": the Pearson correlation of endpoint degrees over every
    directed edge. Positive r = assortative (supply-chain redundancy
    clusters), negative = hub-and-spoke. Five BIGINT moment sums
    (order-free, partitioning-invariant) and ONE double Pearson
    evaluation floored to e4 — the q_ts_autocorr discipline on a graph.

    Scale: degree = one node-keyed hash-agg; endpoint joins are two
    node-keyed equi-joins against the |nodes|-row degree table; the
    moment rollup is map-combinable. Edge volume is already bounded by
    the shared per-part cap."""
    from pkg2_spark.catalog import load_tables

    t = load_tables(spark, sf_dir)
    und = _cosupply_und_shared(t)
    e = und.select(F.col("a").alias("x"), F.col("b").alias("y")).unionAll(
        und.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = e.groupBy(F.col("x").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    pairs = (
        e.join(deg.withColumnRenamed("node", "xn"), F.col("x") == F.col("xn"))
        .withColumnRenamed("d", "a")
        .join(
            deg.withColumnRenamed("node", "yn").withColumnRenamed("d", "b"),
            F.col("y") == F.col("yn"),
        )
        .select("a", "b")
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sx"),
        F.sum("b").cast("long").alias("sy"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("sxy"),
        F.sum(F.col("a") * F.col("a")).cast("long").alias("sx2"),
        F.sum(F.col("b") * F.col("b")).cast("long").alias("sy2"),
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.floor(
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / F.sqrt(
                (
                    F.col("n").cast("double") * F.col("sx2")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                * (
                    F.col("n").cast("double") * F.col("sy2")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            )
            * 10000
        )
        .cast("long")
        .alias("assortativity_e4"),
    )
