"""Graph operators: deterministic integer-scaled PageRank and HITS, and the
one bounded-reachability kernel behind every dependency closure.

Ranks are e6-scaled BIGINTs: per-edge contribution = floor(rank / degree),
new rank = teleport + floor(damping * sum(contribs)). Every float op has
exact integer operands in identical order, so results are bit-identical
across engines, partitionings and re-runs — the floor-not-round discipline
applied to an iterative algorithm (used by queries/graph.py::q_graph_pagerank,
whose DuckDB oracle unrolls the same CTEs).

Scale shape per iteration: one shuffle join of edges against the rank table
on src (degree joined alongside), one dst-keyed hash-agg, one left join back
onto the node set — the standard distributed PageRank dataflow. State per
round is one row per node, and its lineage is cut once per round
(session.truncate_lineage), as in every fixpoint loop of the engine:
reachability's BFS rounds, q_graph_kcore's peel and resolve_components'
contraction each spend one checkpoint action per round.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructField, StructType

from pkg2_spark.session import (
    BuildOnce,
    local_rows_df,
    truncate_lineage,
    truncate_lineage_counted,
)

_SCALE = 1_000_000
_TELEPORT = 150_000  # floor(0.15 * _SCALE)
_DAMP = 0.85


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst", iters: int = 3
) -> DataFrame:
    """(node, rank) over the DIRECTED edge set; symmetrize before calling for
    undirected semantics. Nodes are every distinct source (rank mass from
    pure sinks is dropped, documented — fine for fixed-iteration ranking)."""
    # r14 (guide §5 "materialize reused intermediates" — the hits()
    # posture applied here too): the edge frame feeds every iteration's
    # contribution join AND the degree count, and `ranks` is consumed
    # TWICE per round (contribs join + the rank update's left side), so
    # an untruncated loop re-evaluates the upstream edge pipeline
    # (lineitem⋈orders→distinct in q_graph_pagerank) a number of times
    # growing with 2^iters. Materialize edges+degrees once and cut the
    # rank frame's lineage per round — integer ranks, so values are
    # bit-identical; measured 3.4 → 1.3 s warm at sf0.1.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).transform(
        truncate_lineage
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).transform(
        truncate_lineage
    )
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(_SCALE).cast("long").alias("rank")
    )
    for i in range(iters):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select(
                "dst",
                F.floor(F.col("rank").cast("double") / F.col("d"))
                .cast("long")
                .alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("m"))
        )
        ranks = ranks.join(contribs, ranks["node"] == contribs["dst"], "left").select(
            "node",
            (
                F.lit(_TELEPORT)
                + F.floor(_DAMP * F.coalesce(F.col("m"), F.lit(0))).cast("long")
            ).alias("rank"),
        )
        if i < iters - 1:
            ranks = ranks.transform(truncate_lineage)
    return ranks


def hits(edges: DataFrame, src: str = "src", dst: str = "dst", iters: int = 3) -> DataFrame:
    """Deterministic integer-scaled HITS over a DIRECTED bipartite-ish edge
    set: hub score h(u) over sources, authority score a(v) over targets.

    Update (per iteration): a_raw(v) = sum_{u->v} h(u); a = (a_raw *
    1e6) div max(a_raw); h_raw(u) = sum_{u->v} a(v); h = (h_raw * 1e6)
    div max(h_raw). Max-normalizing each half-step with INTEGER division
    keeps every score in [0, 1e6] — no floats anywhere, so the result is
    bit-identical across engines/partitionings (the pagerank discipline),
    and the 1e6-scaled products stay far below int64 as long as
    max in/out degree < ~9e6 (documented bound; beyond that, raise the
    scale denominator first).

    Scale shape per half-step: one edge ⋈ score shuffle join keyed on the
    score's node column, one hash-agg to the opposite side, one 1-row max
    broadcast for the normalizer — identical to the pagerank dataflow
    plus the scalar join. Returns (node, hub_e6) ∪ rows keyed by target
    with (node, auth_e6) available via the `side` column."""
    if iters < 1:
        # iters = 0 would leave auths unbound at the final select — fail
        # with the contract, not an AttributeError (r11 advice).
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    # Lineage truncation per half-step: the score frame feeds BOTH the next
    # join and its own max-normalizer, so without a checkpoint cut the
    # logical plan doubles per half-step (12 nestings over 3 iterations —
    # measured 25 s of pure analysis/stage overhead at sf0.01; reachability
    # documents the same class).
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).transform(
        truncate_lineage
    )
    hubs = e.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(_SCALE).cast("long").alias("score")
    )
    auths = None
    for _ in range(iters):
        a_raw = (
            e.join(hubs, e["src"] == hubs["node"])
            .groupBy("dst")
            .agg(F.sum("score").alias("raw"))
            .transform(truncate_lineage)
        )
        mx = a_raw.agg(F.max("raw").alias("mx"))
        auths = a_raw.crossJoin(F.broadcast(mx)).select(
            F.col("dst").alias("node"),
            F.expr("(raw * CAST(1000000 AS BIGINT)) div mx").alias("score"),
        )
        h_raw = (
            e.join(auths, e["dst"] == auths["node"])
            .groupBy("src")
            .agg(F.sum("score").alias("raw"))
            .transform(truncate_lineage)
        )
        hmx = h_raw.agg(F.max("raw").alias("mx"))
        hubs = h_raw.crossJoin(F.broadcast(hmx)).select(
            F.col("src").alias("node"),
            F.expr("(raw * CAST(1000000 AS BIGINT)) div mx").alias("score"),
        )
    return auths.select("node", F.col("score").alias("auth_e6")).join(
        hubs.select(F.col("node").alias("hnode"), F.col("score").alias("hub_e6")),
        F.col("node") == F.col("hnode"),
        "full",
    ).select(
        F.coalesce("node", "hnode").alias("node"), "auth_e6", "hub_e6"
    )


#: The driver-local finish bound of every fixpoint loop (reachability,
#: operators/dedup.py::resolve_components): an edge set of at most this
#: many rows is collected and finished on the driver, where each further
#: distributed round would cost a fixed-latency Spark action. 200k edges
#: is a few MB, sized to driver memory, never to the corpus; the
#: distributed rounds are what shrink a larger set down to it. Measured at
#: sf0.1: a resolve took 0.78-1.05 s local vs 1.23 s distributed, and a
#: dedup resolve folds its last 4-5 contraction rounds into one join.
#: An owner that passes a CountedEdges record (the engine's per-ingest
#: edge sets) keeps the finish's adjacency, so a request pays only its
#: BFS and the collect of its result. Measured on 4 cores over the
#: benchmark's 29,841-edge index: 40 in-process resolves took 54 ms median
#: and 0.78 jobs each with the adjacency kept, 134 ms and 1.77 jobs when
#: every call collected the edges (~49 ms of it); the kept adjacency is
#: 4.2 MB of driver heap.
LOCAL_FINISH_EDGES = 200_000


def _names(cols: str | Sequence[str]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


class CountedEdges:
    """A checkpointed edge frame and its row count, as an owner keeps one
    for many closures (the engine's per-ingest edge sets). Passed to
    reachability in place of the bare frame, it also keeps what the
    driver-local finish collects from it: the adjacency, built on the
    first finish that needs it and reused by every later one. The
    adjacency lives and dies with this object, so an owner that replaces
    the record (a re-ingest) replaces its adjacency too."""

    def __init__(self, frame: DataFrame, n: int):
        self.frame, self.n = frame, n
        self._local = BuildOnce()

    def adjacency(self, src: list[str], dst: list[str], keys: list[str]):
        """(adjacency, seed index) over these columns, built once."""
        return self._local.get(
            ("adjacency", tuple(src), tuple(dst), tuple(keys)),
            lambda: _adjacency(self.frame, src, dst, keys),
        )


def reachability(
    edges: DataFrame | CountedEdges,
    src: str | Sequence[str],
    dst: str | Sequence[str],
    start: dict | DataFrame,
    *,
    node: str | Sequence[str],
    max_depth: int,
    group: str | Sequence[str] = (),
    start_depth: int = 1,
) -> DataFrame:
    """Bounded reachability over a directed edge frame: (*group, *node,
    depth) with the MINIMAL depth at which each node is reached from its
    group's seeds, cycle-safe, no deeper than ``max_depth``. The one kernel
    behind Engine.resolve / resolve_constrained, q_graph_closure and
    q_pkg_blast_radius.

    ``src``/``dst`` name the edge's endpoint columns (one each, or several
    for a composite node such as (name, version)); ``node`` names the
    output's node columns. The seeds sit at ``start_depth`` and come from
    ``start``:

    - a dict {edge column: value} — the destinations of the edges whose
      columns equal those values (a package's direct dependencies);
      ungrouped closures only;
    - a DataFrame of (*group, *node) seed rows.

    Semi-naïve rounds: each depth joins only the previous round's NEW
    frontier against the edges and anti-joins the accumulated closure, so
    the first depth a (group, node) is seen at is its minimal one.

    Ungrouped closures over at most LOCAL_FINISH_EDGES edges finish on
    the driver: an adjacency from one Arrow collect of the edges (the dict
    seeds are indexed from the same rows) and an in-memory BFS. A
    CountedEdges record brings its count and keeps that adjacency, so only
    its first finish collects; a bare frame is counted while it is
    checkpointed and collected on every call. Grouped closures stay
    distributed: their output is bounded by groups × nodes, not by the
    node count."""
    src, dst, group, node = _names(src), _names(dst), _names(group), _names(node)
    if not group:
        if not isinstance(edges, CountedEdges):
            edges = CountedEdges(*truncate_lineage_counted(edges))
        if edges.n <= LOCAL_FINISH_EDGES:
            return _local_reachability(
                edges, src, dst, start, node, start_depth, max_depth
            )
    if isinstance(edges, CountedEdges):
        edges = edges.frame
    if isinstance(start, dict):
        match = reduce(lambda a, b: a & b, [F.col(c) == v for c, v in start.items()])
        seeds = edges.filter(match).select(
            *[F.col(d).alias(n) for d, n in zip(dst, node)]
        )
    else:
        seeds = start.select(*group, *node)
    keys = [f"_src{i}" for i in range(len(src))]
    e = edges.select(
        *[F.col(c).alias(k) for c, k in zip(src, keys)],
        *[F.col(d).alias(n) for d, n in zip(dst, node)],
    )
    frontier = (
        seeds.withColumn("depth", F.lit(start_depth))
        .distinct()
        .transform(truncate_lineage)
    )
    closure = frontier
    # Round discipline (the r8 → r9 → r10 lesson, BENCH q_pkg_resolve
    # 0.74 s → 1.60 s → 1.07 s): every driver action is a fixed-latency
    # job (~0.25 s on local[32] regardless of data — measured), so the
    # loop spends exactly ONE action per depth (adaptive execution runs
    # its shuffle stages as jobs of their own): a LAZY checkpoint mark
    # + count() materializes the frontier AND answers the round's
    # emptiness question in the same action (truncate_lineage_counted — r9
    # paid eager checkpoint + isEmpty, two actions per depth). `closure`
    # stays a LAZY union of already-checkpointed frontiers: its plan grows
    # one union node per round (linear, bounded by max_depth) — NOT the
    # self-referencing lineage that doubles per depth, which the per-round
    # frontier checkpoint truncates. Measured variants (warm mins, this
    # machine): r8 two-checkpoint 1.6 s; batched two-depths-per-checkpoint
    # 2.9 s (plan depth doubled); all-lazy persists 2.1–2.9 s
    # (partial-cache recompute — isEmpty computes only partition 0;
    # count() does not share that trap); r9 eager-checkpoint + isEmpty
    # 1.5 s.
    for depth in range(start_depth + 1, max_depth + 1):
        expanded = (
            frontier.select(*group, *[F.col(n).alias(k) for n, k in zip(node, keys)])
            .join(e, keys)
            .select(*group, *node)
            .distinct()
            .withColumn("depth", F.lit(depth))
        )
        new, n_new = truncate_lineage_counted(
            expanded.join(closure, [*group, *node], "left_anti")
        )
        if n_new == 0:
            break
        closure = closure.union(new)
        frontier = new
    return closure


def _adjacency(edges, src, dst, keys):
    """The local finish's driver-side copy of a threshold-bounded edge set,
    from one Arrow collect: {src node: [dst nodes]}, and the seed index
    {value of the dict-start ``keys``: [dst nodes]} (the adjacency itself
    when ``keys`` are the source columns, as in a resolve). A
    single-column node is its plain value and a composite node a tuple (a
    1-tuple per node made a resolve over a 60k-edge index ~0.09 s
    slower)."""
    pdf = edges.select(*dict.fromkeys([*src, *dst, *keys])).toPandas()  # Arrow collect

    def values(names):
        cols = [pdf[c].tolist() for c in names]
        return cols[0] if len(cols) == 1 else list(zip(*cols))

    def index(names):
        out: dict = {}
        for k, d in zip(values(names), dsts):
            out.setdefault(k, []).append(d)
        return out

    dsts = values(dst)
    adj = index(src)
    return adj, adj if keys == src else index(keys)


def _node(values):
    return values[0] if len(values) == 1 else tuple(values)


def _local_reachability(edges: CountedEdges, src, dst, start, node, start_depth, max_depth):
    """reachability's driver-local finish over a threshold-bounded edge
    set: the same minimal depths, from the record's adjacency (collected
    on its first finish) and a BFS; frontier order never affects the
    minimal depth."""
    keys = list(start) if isinstance(start, dict) else []
    adj, seeds = edges.adjacency(src, dst, keys)
    if keys:
        frontier = set(seeds.get(_node(list(start.values())), ()))
    else:
        frontier = {_node(r) for r in start.select(*node).collect()}
    depth_of: dict = {}
    depth = start_depth
    while frontier and depth <= max_depth:
        depth_of.update(dict.fromkeys(frontier, depth))
        frontier = {t for nd in frontier for t in adj.get(nd, ()) if t not in depth_of}
        depth += 1
    schema = StructType(
        [StructField(n, edges.frame.schema[d].dataType) for d, n in zip(dst, node)]
        + [StructField("depth", IntegerType())]
    )
    # One Arrow batch, one partition (session.local_rows_df): the row set
    # is bounded by the edge threshold by construction.
    composite = len(dst) > 1
    rows = [(*(nd if composite else (nd,)), dd) for nd, dd in sorted(depth_of.items())]
    return local_rows_df(edges.frame.sparkSession, rows, schema)
