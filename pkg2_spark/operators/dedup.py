"""Near-duplicate resolution: connected components over a candidate-pair
graph, keeping one canonical document per component.

Pair discovery (MinHash/LSH banding, cosine thresholds — queries/llm.py)
yields EDGES; deduplication needs the transitive grouping those edges imply
(A~B, B~C ⇒ {A,B,C} is one duplicate cluster even if A~C was never
scored). The canonical representative is the minimum id in the component.

Algorithm: min-label GRAPH CONTRACTION (the repeated-contraction family of
Kiveris et al.'s MapReduce connected components). Each round: (1) every
super-node takes the min label among itself and its contracted-graph
neighbors, (2) the node→component table composes with that relabeling,
(3) the edge set itself is rewritten into component space, self-loops
dropped, duplicates collapsed. Because the MIN then travels through the
CONTRACTED graph, distance-to-min shrinks geometrically — rounds scale
with log(diameter), not diameter, and the edge set shrinks monotonically
so later rounds are cheaper than earlier ones.

Why this shape (all measured on the round-5 capped LSH edge sets, where
the bucket cap sparsifies saturated buckets into long chains):
- plain min-label propagation = diameter rounds: 17 rounds / 5.1s on the
  sf0.1 sign-LSH graph (vs 5 rounds at sf0.01 — round growth was the
  dominant term in the query's scale ratio);
- pointer jumping on the COMP labels alone: 11 rounds / 4.9s — label
  trees stay flat after each groupBy-min, so that variant can't beat the
  one-edge-hop-per-round bound;
- batching 2 propagation steps per action: catastrophically worse in both
  regimes (27s vs 14s on the old 4.8M-edge sets; 46s first action on the
  capped sets) — the deeper per-action DAG under AQE replanning dwarfs
  the saved round-trips;
- contraction: 6 rounds / 2.2s (sign sf0.1), 5 rounds / 1.6s (MinHash
  sf0.1), identical fixpoints to all of the above.

Two late-round-5 hardenings on top of contraction: (1) the round's
RELABELING MAP is composed with itself (pointer doubling on m, not on
comp) — one-hop contraction alone is linear rounds on path-shaped
residuals (a 41-node chain failed to converge in 20 rounds; with the
doubling, reach is 2^round on any topology); (2) once the contracted
residual fits graph_ops.LOCAL_FINISH_EDGES (the bound reachability's
driver-local finish reads too), a driver-local union-find finishes in
one step and broadcasts the final relabeling back (the standard
distributed-while-big / local-when-small hybrid every production CC
uses; identical fixpoints, and locally it collapses 4-5 fixed-overhead
rounds per resolve query). Exhausting max_iter with edges left raises
rather than returning part-merged labels.

Scale posture: every operation is an equi-join or hash-agg on node ids —
no pair explosion beyond the given edge set, and the rewritten edge set
only ever shrinks. Each contraction round spends one Spark action:
`session.truncate_lineage_counted` checkpoints the rewritten edge set and
counts it in the same job (the iterative-DataFrame discipline; it switches
to reliable checkpoint() automatically when a checkpoint dir is set — the
cluster posture, see SCALING.md `Iterative closure`). Convergence = the
contracted edge set is empty — an exact test read off that count, no
old-vs-new join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

from pkg2_spark.operators import graph_ops
from pkg2_spark.session import (
    local_rows_df,
    truncate_lineage,
    truncate_lineage_counted,
)


def _local_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over the residual contracted edges; returns super-node →
    min-member-of-component (exact, order-independent — min is the same
    label the distributed fixpoint converges to)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Resolve every seen node to its root; root IS the component min
    # because unions always point the larger root at the smaller.
    return {x: find(x) for x in set(parent) | {n for p in pairs for n in p}}


def resolve_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """(node, component) for every node in `edges`; component = min node id
    reachable through the undirected pair graph."""
    spark = edges.sparkSession
    bound = graph_ops.LOCAL_FINISH_EDGES
    # Materialize the edge pipeline ONCE and learn its size in the same job
    # (truncate_lineage_counted: lazy checkpoint mark + count — one action).
    # `edges` is typically the FULL banded+cosine-verified pair pipeline, so
    # this is the only place it is ever computed.
    pairs_df = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    mat, n_raw = truncate_lineage_counted(pairs_df)
    if n_raw <= bound:
        # Fast path (r14 optimization): when the RAW edge list already fits
        # the driver-local budget, the distributed contraction machinery —
        # three materializations (sym / round-0 comp / counted contracted
        # ec), each a fixed-latency Spark action — buys nothing:
        # union-find the collected edges directly. Exact same min-label
        # fixpoint (tests/test_operators.py pins local ≡ distributed), and
        # the threshold bounds driver memory by construction; graphs above
        # it take the distributed rounds below, which shrink the contracted
        # set to the same threshold before going local.
        # Arrow collect (toPandas) — the bounded edge list crosses as
        # columnar batches instead of pickled Rows; same boundedness
        # argument as the union-find itself.
        epdf = mat.toPandas()
        mapping = _local_components(
            list(zip(epdf["a"].tolist(), epdf["b"].tolist()))
        )
        # Node type = common type of the two endpoint columns. Derive it
        # from the CHECKPOINTED frame (flat LogicalRDD — analysis is free);
        # the former union over pairs_df re-analyzed the entire upstream
        # pair pipeline a second time just to read one dataType (r15,
        # ~0.1-0.3 s of driver latency on the dedup increments).
        node_t = (
            mat.select("a")
            .unionByName(mat.select(F.col("b").alias("a")))
            .schema["a"]
            .dataType
        )
        schema = StructType(
            [StructField("node", node_t), StructField("component", node_t)]
        )
        return local_rows_df(spark, mapping.items(), schema)
    # localCheckpoint: `sym` is read three times below (round-0 labels +
    # both sides of the edge contraction) — materializing the symmetric
    # edge list pays the union+distinct once instead of per reference.
    sym = (
        mat.unionByName(mat.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(truncate_lineage)
    )
    # Fused round 0: every node's first label is min(self, direct
    # neighbors) straight off the edge list — one groupBy replaces an
    # identity init plus a full propagation round.
    comp = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nmin"))
        .select("node", F.least("node", "nmin").alias("component"))
        .transform(truncate_lineage)
    )
    # Contract the edges into component space once up front; from here on
    # the original edge list is never touched again.
    ca = comp.select(F.col("node").alias("a"), F.col("component").alias("la"))
    cb = comp.select(F.col("node").alias("b"), F.col("component").alias("lb"))
    ec, n_edges = truncate_lineage_counted(
        sym.join(ca, "a")
        .join(cb, "b")
        .select(F.col("la").alias("a"), F.col("lb").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    for _ in range(max_iter):
        # Exact convergence test, counted by the round's own checkpoint
        # action: contraction is complete when no cross-component edges
        # remain.
        if n_edges == 0:
            break
        if n_edges <= bound:
            # Hybrid finish (what every production CC does): once the
            # CONTRACTED graph fits comfortably on the driver, stop paying
            # a full distributed round per remaining hop — union-find the
            # residual edges locally (exact, order-free min labels) and
            # broadcast the final super-node relabeling back. The
            # threshold bounds driver memory by construction; the
            # distributed rounds above are what shrink an arbitrarily
            # large edge set down to it. Locally: rounds 2..6 collapse
            # into one broadcast join (~2s of fixed per-round overhead on
            # the sf0.1 LSH graphs, identical fixpoints).
            rpdf = ec.toPandas()
            mapping = _local_components(
                list(zip(rpdf["a"].tolist(), rpdf["b"].tolist()))
            )
            node_t = comp.schema["component"].dataType
            schema = StructType(
                [StructField("node", node_t), StructField("mnew", node_t)]
            )
            mdf = F.broadcast(local_rows_df(spark, mapping.items(), schema))
            comp = comp.join(
                mdf, comp["component"] == mdf["node"], "left"
            ).select(
                comp["node"], F.coalesce("mnew", "component").alias("component")
            )
            break
        s = ec.unionByName(ec.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m1 = (
            s.groupBy(F.col("a").alias("node"))
            .agg(F.min("b").alias("nmin"))
            .select("node", F.least("node", "nmin").alias("mnew"))
        )
        # Pointer doubling on the relabeling map (label-of-label): one-hop
        # min propagation alone moves the min ~1 contracted hop per round,
        # which is LINEAR rounds on path-shaped residuals (measured: a
        # 41-node chain failed to converge in 20 rounds) — composing m
        # with itself gives 2^round reach, restoring the log bound on any
        # topology. The join is on the small super-node map, not the edges.
        mj = m1.select(F.col("node").alias("jn"), F.col("mnew").alias("jm"))
        m = (
            m1.join(mj, m1["mnew"] == mj["jn"], "left")
            .select(m1["node"], F.coalesce("jm", "mnew").alias("mnew"))
        )
        # Compose the node→component mapping with this round's contraction.
        # Monotone: mnew <= node for every mapped super-node, so labels only
        # ever decrease and the fixpoint is the true min-id component.
        # NO checkpoint here: comp references itself ONCE per round, so its
        # lineage grows linearly (one join per round, bounded by max_iter) —
        # unlike ec, whose self-reference doubles the plan. Dropping the
        # per-round comp materialization measured 10.5s → 6.6s end-to-end on
        # the sf0.1 sign-LSH graph, identical fixpoint.
        comp = comp.join(m, comp["component"] == m["node"], "left").select(
            comp["node"], F.coalesce("mnew", "component").alias("component")
        )
        ma = m.select(F.col("node").alias("a"), F.col("mnew").alias("la"))
        mb = m.select(F.col("node").alias("b"), F.col("mnew").alias("lb"))
        ec, n_edges = truncate_lineage_counted(
            ec.join(ma, "a", "left")
            .join(mb, "b", "left")
            .select(
                F.coalesce("la", F.col("a")).alias("a"),
                F.coalesce("lb", F.col("b")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
    else:
        # Exhausting max_iter with edges left would silently return
        # part-merged labels — fail loudly instead (2^max_iter reach via
        # pointer doubling makes this unreachable for any real diameter).
        if n_edges:
            raise RuntimeError(
                f"resolve_components did not converge in {max_iter} rounds"
            )
    return comp.select("node", "component")
