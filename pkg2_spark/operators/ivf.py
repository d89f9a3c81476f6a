"""The three-level IVF index: quantizer layout, build, descent and search.

Every IVF-family query (ann_ivf / ann_recall / ann_mprobe / ann_tune,
semdedup, ivf_refine, ivfpq, ivf_incr / ivf_retract), ``Engine.ann_search``
and the service's ``ann_search`` endpoint read one index through this
module. It holds the Spark kernel and its DuckDB mirror (``ASSIGN_CTE``,
``beam_cte``, ``descend_cte``), like operators/lsh.py.

DATA-DERIVED THREE-LEVEL codebook. Lineage of the formula: one-level
k = clamp(16, 4096, n/256) pegged at 4096 past n ≈ 1M (cells then grow
linearly — r6 watch item); two-level k1 = k2 = √(n/256) removed the
ceiling but its n·(k1+k2) = Θ(n^1.5/16) assignment term measured as
11.7–12.1× per-decade tails in the second decade of the scale probe
(r7 watch item). The three-level tree cuts that term to Θ(n^{4/3}):

  m  = n // 256            (target final-cell count, integer)
  k1 = max(2, icbrt(m))    md5-hash-sampled level-1 centroids

Level 1: k1 centroids, ALWAYS broadcast (k1 = m^{1/3} ≈ 1.6k rows even
at n = 10^12), one wide-codegen pass over n·k1 scored rows. Levels 2/3
use PROPORTIONAL allocation (round 9 — the fixed per-parent k of r8 let
final cells inherit parent skew: max 11295 vs mean 1133 at the sf100
probe): each parent cell gets ~cell_size/target md5-ranked member seeds
(target t2 = 256·k1 at level 2, 256 at level 3), so a parent twice the
size gets twice the children and the EXPECTED child size is the target
at every n. The level-3 seed assignment is then Lloyd-REFINED once
(assign members to seeds → recenter each seed cell as the
per-dimension integer-micro mean, the q_llm_ivf_refine dataflow →
re-assign against the refined codebook): hash-sampled member seeds do
not balance dense regions; the recentered means do measurably better
and are the codebook a production deployment would keep iterating.
Residual imbalance (a genuinely dense region nearest ONE centroid —
no centroid scheme can split what cosine cannot distinguish) is
bounded DETERMINISTICALLY by an occupancy cap: a final cell holding
> 2·256 members is md5-slot-split into ~cell/256 slots
(slot = hex32(md5(vec_id)) mod slots — engine-portable, key-stable,
shuffle-free), so max final cell ≤ ~1.5× target REGARDLESS of data
geometry — the posting-list cap every production IVF deploys. Final
cid = quantizer_cell_id (the refined centroid's seed vec_id, globally
unique) × SLOT_BASE + slot; quantizer cell = cid div SLOT_BASE.

Levels 2/3 join their codebook to the members on the PARENT cell id:
broadcast while the codebook is small (≤ _BCAST_ROWS — at mid scale
the parent-key count is tiny, so a key-partitioned shuffle would cap
parallelism at the key count), shuffling equi-join once it outgrows the
hint (by then there are ≥ √_BCAST_ROWS keys — enough partitions for any
cluster). Assignment cost stays n·(k1+k2+k3+k3) ≈ 4n·(n/256)^{1/3} (one
extra level-3 pass for the Lloyd re-assignment); the recenter is one
map-combinable (cell, dim)-keyed hash agg. icbrt is EXACT in both
engines: a pow(m, 1/3) seed corrected by integer cube comparisons (pow
is within 1 ulp ≪ 0.5 absolute at these magnitudes, and the correction
is pure integer arithmetic — no reliance on libm rounding).

The vector width is read from the corpus (one aggregate with the count
that sizes k1); a ragged corpus is refused.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from pkg2_spark.operators.similarity import cosine4, wide, wide_cos
from pkg2_spark.session import drop_session_memo, plan_memo, truncate_lineage

TARGET_CELL = 256
SLOT_BASE = 32768  # final cid = quantizer_cell_id * base + slot
_BCAST_ROWS = 65536
_M_SQL = f"(SELECT count(*) // {TARGET_CELL} FROM embeddings)"
K12_SQL = (
    "(SELECT GREATEST(2, CASE WHEN (c+1)*(c+1)*(c+1) <= m THEN c+1 "
    "WHEN c*c*c <= m THEN c ELSE c-1 END) "
    "FROM (SELECT m, CAST(round(pow(m, 1.0/3.0)) AS BIGINT) AS c "
    f"FROM (SELECT {_M_SQL} AS m)))"
)
# level-2 seed target: t2 = 256·k1 members per level-2 cell
_T2_SQL = f"({TARGET_CELL} * {K12_SQL})"


def _icbrt(m: int) -> int:
    """Exact integer cube root (floor) — pow-seeded, cube-corrected; the
    Python twin of the K12_SQL arithmetic."""
    c = round(m ** (1.0 / 3.0)) if m > 0 else 0
    if (c + 1) ** 3 <= m:
        return c + 1
    if c**3 <= m:
        return c
    return c - 1


def ivf_invalidate() -> None:
    """Drop every memoized quantizer artifact (shapes, trees and cell-slot
    maps, every session) to release their checkpointed frames: benchmark
    isolation, corpus replaced."""
    drop_session_memo("ivf_ks", "ivf_tree", "ivf_cellslots")


class Shape(NamedTuple):
    """What one pass over the corpus fixes before the build: ``k12``
    sizes the level-1 codebook and the level-2 seed target; ``k3`` is the
    fixed-allocation children-per-level-2-cell figure (actual level-2/3
    allocation is proportional to cell size — see _sub_centroids);
    ``dim`` is the vector width."""

    k12: int
    k3: int
    dim: int


def shape(e) -> Shape:
    """The corpus's Shape — one aggregate job (count, min and max width)
    per (session, corpus). Its own memo entry, apart from the tree:
    q_llm_ivf_refine needs k1 and the width alone. A ragged corpus raises
    ValueError; an empty one plans its empty tree at width 1."""

    def measure():
        n, lo, hi = e.agg(
            F.count(F.lit(1)),
            F.min(F.size("embedding")),
            F.max(F.size("embedding")),
        ).first()
        if lo != hi:
            raise ValueError(
                f"IVF needs one vector width; the corpus holds {lo} to {hi}"
            )
        m = n // TARGET_CELL
        k12 = max(2, _icbrt(m))
        return Shape(k12, max(2, m // (k12 * k12)), hi or 1)

    return plan_memo(e, "ivf_ks", measure)


class Tree(NamedTuple):
    """One built index. ``cents`` is the level-1 codebook (cid, cemb);
    ``cent2`` the level-2 codebook (c2id = parent level-1 cell, scid,
    semb); ``cent3`` the Lloyd-REFINED level-3 codebook (c3id = parent
    level-2 cell, sscid = quantizer cell id, ssemb as array<double>);
    ``assign`` the FINAL (vec_id, embedding, cid) labeling with
    cid = sscid × SLOT_BASE + occupancy slot. ``n2``/``n3`` are the
    counted level-2/3 codebook sizes that gate their broadcast (allocation
    is data-proportional, so they are measured, not derived from k);
    ``dim`` is the vector width."""

    cents: DataFrame
    cent2: DataFrame
    cent3: DataFrame
    assign: DataFrame
    n2: int
    n3: int
    dim: int


def centroids(e):
    """The derived-k md5-ranked LEVEL-1 centroid sample (cid, cemb) — the
    broadcastable top of the tree codebook (k1 = max(2, icbrt(n/256)))."""
    return (
        e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
        .orderBy(
            F.md5(F.col("cid").cast("string")).asc_nulls_last(),
            F.col("cid").asc_nulls_last(),
        )
        .limit(shape(e).k12)
    )


def nearest(vecs, cands, out_id: str, cand_id: str, cand_vec: str, *,
            dim: int, join_on=None, key: str = "vec_id",
            broadcast_cands: bool = False):
    """Per-vector nearest candidate via the wide-codegen argmax idiom.

    WIDE-CODEGEN argmax, not the HOF fold: the round-6 decade probe
    (SCALE_PROBE_DECADE.md) showed the row-local higher-order-function
    form going superlinear the moment k grows — lambda HOFs are
    INTERPRETED expressions, so assignment paid ~µs per (vector,
    candidate) element instead of codegen arithmetic (42× wall per 10×
    data). Scores the candidate fan-out with the unpacked
    left-associative codegen cosine (bit-identical to the HOF fold and
    DuckDB's list_cosine_similarity), then takes the per-vector argmax
    as a MAP-COMBINABLE max(struct(cos, -cand_id)) hash aggregate —
    partial aggregation collapses each vector's candidate rows map-side,
    the shuffle carries one row per vector, there is no rank window, and
    ties break exactly like the oracle's cos DESC, id ASC rank (max of
    -id = min id).

    ``join_on=None`` broadcasts the candidate frame and crosses (level-1:
    the codebook is always tiny); a join column name makes it a key-keyed
    join on the PARENT cell id, with ``broadcast_cands`` hinting a
    broadcast (see _level for the gate).

    The argmax aggregates on ``key`` ALONE — a narrow unique long — and
    returns just (key, out_id); callers re-join any wide payload on the
    key. Grouping must stay HashAggregate-able: carrying the embedding
    array in the grouping key demotes the plan to SortAggregate (arrays
    are not hash-agg key types), i.e. TWO full sorts of the n·k scored
    rows with an array comparator — measured 4x the cost of the scoring
    itself at the sf10 probe scale (13 s vs ~3 s for level 1)."""
    ve = wide(vecs, [key, *([join_on] if join_on else [])], "embedding", dim, "_v")
    cand_cols = [cand_id] + ([f"{join_on} AS _jk"] if join_on else [])
    ce = wide(cands, cand_cols, cand_vec, dim, "_c")
    cos = wide_cos("_v", "_c", dim)
    if join_on is None:
        scored = ve.crossJoin(F.broadcast(ce))
    else:
        if broadcast_cands:
            ce = F.broadcast(ce)
        scored = ve.join(ce, F.col(join_on) == F.col("_jk"))
    scored = scored.select(
        key,
        F.struct(cos.alias("cos"), (-F.col(cand_id)).alias("nid")).alias("sc"),
    )
    return scored.groupBy(key).agg(
        (-F.max("sc")["nid"]).cast("long").alias(out_id)
    )


def _level(vecs, parent: str, codebook, n_rows: int, dim: int, out_id: str):
    """(vec_id, out_id): each vector's nearest entry of ``codebook``
    (parent key, id, vector columns, in that order) among the children of
    its ``parent`` cell. The codebook joins on the parent cell id,
    broadcast while its COUNTED size is ≤ _BCAST_ROWS: at mid scale the
    parent-key count (k1 or k1·k2) is far below the cluster's task slots,
    so a shuffling equi-join would cap parallelism at the key count,
    while the codebook is only KBs; past the hint the equi-join takes
    over with ≥ √_BCAST_ROWS keys — enough partitions at any n."""
    pkey, cid, cvec = codebook.columns
    return nearest(
        vecs.withColumnRenamed(parent, pkey), codebook, out_id=out_id,
        cand_id=cid, cand_vec=cvec, dim=dim, join_on=pkey,
        broadcast_cands=n_rows <= _BCAST_ROWS,
    )


def descend(t: Tree, vecs):
    """(vec_id, qcid): the greedy level-1 → level-2 → level-3 descent of
    ``vecs`` (vec_id, embedding) down a built tree to its quantizer cell
    — the build's own assignment for corpus members, and the routing of
    new vectors for incremental maintenance (no rebuild; cost
    |vecs|·(k1+k2+k3), independent of the corpus)."""
    v = vecs.select("vec_id", "embedding")
    a1 = v.join(nearest(v, t.cents, "cid", "cid", "cemb", dim=t.dim), "vec_id")
    a2 = v.join(_level(a1, "cid", t.cent2, t.n2, t.dim, "scid"), "vec_id")
    return _level(a2, "scid", t.cent3, t.n3, t.dim, "qcid")


def _sub_centroids(parent, parent_col: str, out_parent: str, out_id: str,
                   out_vec: str, target: int):
    """~cell_size/target md5-ranked member sub-centroid SEEDS per parent
    cell — PROPORTIONAL allocation (round-half-up, ≥ 1 per parent): a
    parent twice the size gets twice the children, so expected child-cell
    size tracks `target` regardless of parent skew. (The r8 fixed
    per-parent k let final cells inherit the parents' imbalance — max
    11295 vs mean 1133 at the sf100 probe.) One rank window + one count
    window over the SAME partition key — a single shuffle, the
    capped-bands idiom, not a per-candidate window."""
    w = Window.partitionBy(parent_col).orderBy(
        F.md5(F.col("vec_id").cast("string")).asc_nulls_last(),
        F.col("vec_id").asc_nulls_last(),
    )
    wc = Window.partitionBy(parent_col)
    return (
        parent.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .filter(
            F.col("_rn")
            <= F.expr(f"greatest(1, (_n + {target // 2}) div {target})")
        )
        .select(
            F.col(parent_col).alias(out_parent),
            F.col("vec_id").alias(out_id),
            F.col("embedding").alias(out_vec),
        )
    )


def _slots():
    """Occupancy-cap slot count of a quantizer cell holding `_cn` members:
    1 up to 2× target, else ~_cn/target (at most SLOT_BASE - 1)."""
    c = TARGET_CELL
    return F.when(F.col("_cn") <= 2 * c, F.lit(1)).otherwise(
        F.least(
            F.lit(SLOT_BASE - 1),
            F.expr(f"(_cn + {c // 2}) div {c}"),
        )
    ).cast("long")


def tree(e) -> Tree:
    """The corpus's Tree, MEMOIZED per (session, corpus): one
    session.plan_memo entry, so a failed build stores nothing, and every
    IVF-family query over the same corpus in a session shares ONE
    construction instead of each re-paying the n·(k1+k2+2·k3) scoring
    passes."""
    return plan_memo(e, "ivf_tree", lambda: _build(e))


def _build(e) -> Tree:
    """Level 1 is the broadcast k1-codebook argmax; levels 2/3 allocate
    ~cell/target md5-ranked member seeds per parent and re-assign members
    within their cell (_level). The level-3 seed assignment is recentered
    once (integer-micro means — the q_llm_ivf_refine dataflow, exact
    under any partition summation order) and members re-assigned against
    the refined codebook; cells above 2× target are md5-slot-split so max
    final cell is bounded at ~1.5× target regardless of data geometry.
    Each corpus-sized frame's lineage is truncated
    (session.truncate_lineage — localCheckpoint locally, reliable
    checkpoint when a dir is set)."""
    k12, _k3, dim = shape(e)
    c = TARGET_CELL
    cents = centroids(e)
    ev = e.select("vec_id", "embedding")
    a1 = ev.join(
        nearest(ev, cents, "cid", "cid", "cemb", dim=dim), "vec_id"
    ).transform(truncate_lineage)
    cent2 = _sub_centroids(a1, "cid", "c2id", "scid", "semb", c * k12)
    n2 = cent2.count()
    a2 = a1.select("vec_id", "embedding").join(
        _level(a1, "cid", cent2, n2, dim, "scid"), "vec_id"
    ).transform(truncate_lineage)
    cent3s = _sub_centroids(a2, "scid", "c3id", "sscid", "ssemb", c)
    n3 = cent3s.count()
    a3s = a2.join(_level(a2, "scid", cent3s, n3, dim, "sscid"), "vec_id")
    # ONE Lloyd step over the seed assignment: per-(cell, dim)
    # integer-micro mean (map-combinable hash agg; exact in doubles —
    # |sum| ≤ n_cell·2e6 ≪ 2^53), re-packed per cell, scaled back to raw
    # units by an exact-IEEE /1e6. Seeds that attracted no member (a
    # rounding tie handed their self-assignment to a sibling) drop out.
    q3 = a3s.select(
        "sscid",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
        ).alias("qe"),
    )
    rdims = (
        q3.select("sscid", F.posexplode("qe").alias("pos", "v"))
        .groupBy("sscid", "pos")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cv")
        )
    )
    refined3 = rdims.groupBy("sscid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cv"))),
            lambda s: s["cv"].cast("double") / F.lit(1000000.0),
        ).alias("remb")
    )
    cent3 = (
        cent3s.select("c3id", "sscid")
        .join(refined3, "sscid")
        .select("c3id", "sscid", F.col("remb").alias("ssemb"))
        .transform(truncate_lineage)
    )
    a0 = a2.select("vec_id", "embedding").join(
        _level(a2, "scid", cent3, n3, dim, "qcid"), "vec_id"
    )
    # Occupancy cap: one qcid-keyed count window (no extra agg+join pass)
    # → slot = hex32(md5(vec_id)) mod slots for cells above 2× target.
    wq = Window.partitionBy("qcid")
    slot = F.when(F.col("_slots") == 1, F.lit(0).cast("long")).otherwise(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % F.col("_slots")
    )
    assign = (
        a0.withColumn("_cn", F.count(F.lit(1)).over(wq))
        .withColumn("_slots", _slots())
        .select(
            "vec_id",
            "embedding",
            (F.col("qcid") * SLOT_BASE + slot).cast("long").alias("cid"),
        )
        .transform(truncate_lineage)
    )
    return Tree(cents, cent2, cent3, assign, n2, n3, dim)


def _cellslots(e):
    """Quantizer-cell → slot-count map (qcid, slots), derived from the
    final assignment (grouping by cid div SLOT_BASE recovers exactly the
    per-quantizer-cell occupancy the cap was computed from). Multi-probe
    search joins its beam against it to route each probe to a slot of a
    foreign cell. Checkpointed in an entry of its own, not with the tree:
    only a beam reads it, and even a lazy checkpoint runs the aggregate's
    shuffle stage at build (measured: +1 job on every tree build)."""
    return plan_memo(
        e,
        "ivf_cellslots",
        lambda: tree(e).assign
        .groupBy(F.expr(f"cid div {SLOT_BASE}").alias("qcid"))
        .agg(F.count(F.lit(1)).alias("_cn"))
        .select("qcid", _slots().alias("slots"))
        .transform(truncate_lineage),
    )


def probe_frame(probes) -> DataFrame:
    """External query vectors as (probe_id, probe_embedding) —
    knn_bruteforce's convention; vec_id and pe / embedding accepted too."""
    cols = set(probes.columns)
    pid = "probe_id" if "probe_id" in cols else "vec_id"
    pvec = next(c for c in ("probe_embedding", "pe", "embedding") if c in cols)
    return probes.select(
        F.col(pid).alias("probe_id"), F.col(pvec).alias("probe_embedding")
    )


def _top(scored, descent: int):
    """Each probe's ``descent`` best (_cos DESC, _cell ASC) rows."""
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_cos").desc_nulls_last(), F.col("_cell").asc_nulls_last()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= descent)
        .drop("_rn")
    )


def ann_multiprobe(e, n_probe: int = 3, descent: int | None = None,
                   n_queries: int = 5, k: int = 5, probes=None,
                   return_cell_rank: bool = False):
    """Multi-probe IVF search with the beam width as THE recall/latency
    knob (r9 verdict task #1: n_probe was hard-coded at 3; a user tuning
    an index needs the recall-vs-n_probe curve, recorded in
    SCALE_PROBE_RECALL.md and summarized in SCALING.md). Returns
    (probe_id, cell, vec_id, cos), the top ``k`` per probe.

    - `n_probe`: how many FINAL slot-cells each query scans — the
      probe's own assigned cell (always, rank 0) plus the top
      (n_probe - 1) beam cells. This is the cost driver: per-probe scan
      ≈ n_probe × ~1.5× target cell. n_probe = 1 is exactly single-probe
      search (own cell only — q_llm_ann_ivf's semantics); for
      self-probes it plans no beam descent.
    - `descent`: beam width at each TREE level (top-`descent` level-1
      cells → top-`descent` level-2 cells → top-`descent` final
      quantizer cells are RANKED; n_probe then takes a prefix).
      Defaults to n_probe (the registered q_llm_ann_mprobe shape:
      descent = n_probe = 3). Descent cost is tiny (≤ n_queries ×
      descent × per-level codebook-slice joins), so callers comparing
      several n_probe values should PIN descent at their max n_probe:
      with a fixed descent the ranked slot-cell list is identical
      across calls and beam(n) ⊆ beam(n′) for n ≤ n′ holds by
      construction — recall@k is structurally monotone in n_probe
      (pinned by tests/test_operators.py).
    - `probes`: an EXPLICIT query DataFrame (see probe_frame). This is
      the external-search entry point (r10 advice: the self-probe
      default cannot answer queries from outside the corpus): external
      probes have no assigned "own" cell, so their candidate cells are
      the top-n_probe beam slot-cells from the descent ranking, and no
      self-id exclusion applies (probe ids live in their own namespace).
      probes=None keeps the self-probe diagnostic shape (vec_id <
      n_queries of the corpus itself, own cell always searched) that the
      registered queries and the recall audits pin.
    - `return_cell_rank` (r14 tuning entry): skip the top-k and carry
      each candidate's slot-cell beam rank `_crank` (own cell = 0, beam
      cells = 1..n_probe-1; external probes = 1..n_probe). With descent
      pinned, a narrower width n's candidate set is exactly _crank < n
      (self-probe) — a recall sweep scores every width from ONE descent
      + ONE cell-keyed candidate join. Added only on request: the
      serving path keeps its leaner plan (adding it unconditionally
      measured +0.7 s on q_llm_ann_mprobe).
    """
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    descent = n_probe if descent is None else descent
    if descent < n_probe:
        raise ValueError("descent beam must be >= n_probe")
    t = tree(e)
    rank_cols = ["_crank"] if return_cell_rank else []
    own = None
    if probes is None:
        own = t.assign.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pe"),
            F.col("cid").alias("cell"),
            *([F.lit(0).alias("_crank")] if return_cell_rank else []),
        )
    if own is not None and n_probe == 1:
        pcands = own
    else:
        pcands = _beam(e, t, own, probes, n_probe, descent, rank_cols)
        if own is not None:
            pcands = own.unionByName(pcands)
    cand_cond = F.col("cid") == F.col("cell")
    if own is not None:
        cand_cond = cand_cond & (F.col("vec_id") != F.col("probe_id"))
    cands = pcands.join(t.assign, cand_cond).select(
        "probe_id", "cell", "vec_id",
        cosine4(F.col("pe"), F.col("embedding")).alias("cos"),
        *rank_cols,
    )
    if return_cell_rank:
        return cands
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc_nulls_last(), F.col("vec_id").asc_nulls_last()
    )
    return (
        cands.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _beam(e, t: Tree, own, probes, n_probe: int, descent: int, rank_cols):
    """(probe_id, pe, cell[, _crank]): the slot-cells each probe scans
    besides its own — the top n_probe - 1 for self-probes (``own`` set),
    the top n_probe for external ones.

    The occupancy cap makes SLOTS the true final cells, so the beam is
    over slot-cells — and a self-probe's OWN assigned cell is ALWAYS
    searched (rank 0), with the top remaining slot-cells beside it. Both
    halves matter, measured at the sf10 replica corpus: routing each
    beamed cell to one md5 slot let the probe's own slot lose the draw
    (multi 0.64 < single 0.84), and ranking ties at round-4 cosine across
    near-identical refined centroids broke toward min cell id, pushing
    the ASSIGNED cell out of the beam entirely. Own-cell-first is the
    production IVF posture (the nearest list is always scanned; n_probe
    extends it) and makes multi-probe's candidate set a strict superset
    of single-probe's — recall >= single structurally. Slot-cell
    ranking: centroid cos DESC, cell ASC, probe's own md5 slot first,
    slot ASC — deterministic, oracle-mirrored (beam_cte)."""
    if own is not None:
        pr = own.select("probe_id", "pe")
    else:
        pr = probe_frame(probes).withColumnRenamed("probe_embedding", "pe")
    # Level 1 scores the broadcast k1 codebook; each lower level joins
    # the ≤ descent-row beam (broadcast) to the parent-keyed codebook.
    beam = _top(
        pr.crossJoin(F.broadcast(t.cents)).select(
            "probe_id", "pe", F.col("cid").alias("_cell"),
            cosine4(F.col("pe"), F.col("cemb")).alias("_cos"),
        ),
        descent,
    )
    for book in (t.cent2, t.cent3):
        pkey, cid, cvec = book.columns
        beam = _top(
            F.broadcast(beam.drop("_cos"))
            .join(book, F.col(pkey) == F.col("_cell"))
            .select(
                "probe_id", "pe", F.col(cid).alias("_cell"),
                cosine4(F.col("pe"), F.col(cvec)).alias("_cos"),
            ),
            descent,
        )
    slotted = (
        F.broadcast(beam).join(_cellslots(e), F.col("qcid") == F.col("_cell"))
        .select(
            "probe_id", "pe", "_cell", "_cos",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("slots") - 1)
            ).alias("slot"),
            (
                F.conv(
                    F.substring(F.md5(F.col("probe_id").cast("string")), 1, 8),
                    16, 10,
                ).cast("long")
                % F.col("slots")
            ).alias("pslot"),
        )
        .withColumn(
            "cell", (F.col("_cell") * SLOT_BASE + F.col("slot")).cast("long")
        )
    )
    w_slot = Window.partitionBy("probe_id").orderBy(
        F.col("_cos").desc_nulls_last(),
        F.col("_cell").asc_nulls_last(),
        F.when(F.col("slot") == F.col("pslot"), F.lit(0)).otherwise(F.lit(1)).asc(),
        F.col("slot").asc_nulls_last(),
    )
    width = n_probe
    if own is not None:
        slotted = slotted.join(
            own.select(F.col("probe_id").alias("o_pid"), F.col("cell").alias("o_cell")),
            (F.col("probe_id") == F.col("o_pid")) & (F.col("cell") == F.col("o_cell")),
            "left_anti",
        )
        width = n_probe - 1
    return (
        slotted.withColumn("_crank", F.row_number().over(w_slot))
        .filter(F.col("_crank") <= width)
        .select("probe_id", "pe", "cell", *rank_cols)
    )


# Three-level quantizer, DuckDB mirror of _build: md5-sampled level-1
# codebook `cent` → proportional member-seed levels 2/3 (`cent2`,
# `cent3s`) → ONE Lloyd refinement of the level-3 codebook (`cent3`,
# DOUBLE[] centroids) → md5-slot occupancy cap. `assign` is the FINAL
# (vec_id, embedding, cid) labeling; `cellslots` maps quantizer cell →
# slot count (1 unless occupancy-capped) so downstream CTEs can route
# probes to a slot.
ASSIGN_CTE = f"""cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
  QUALIFY row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC NULLS LAST, vec_id ASC NULLS LAST
  ) <= {K12_SQL}
),
assign1 AS (
  SELECT vec_id, embedding, cid,
         round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                      CAST(cemb AS DOUBLE[])), 4) AS ccos
  FROM embeddings CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY vec_id ORDER BY ccos DESC NULLS LAST, cid ASC NULLS LAST
  ) = 1
),
cent2 AS (
  SELECT cid AS c2id, vec_id AS scid, embedding AS semb FROM (
    SELECT cid, vec_id, embedding,
           row_number() OVER (
             PARTITION BY cid
             ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC NULLS LAST,
                      vec_id ASC NULLS LAST) AS rn,
           count(*) OVER (PARTITION BY cid) AS n
    FROM assign1
  ) WHERE rn <= GREATEST(1, (n + {_T2_SQL} // 2) // {_T2_SQL})
),
assign2 AS (
  SELECT vec_id, embedding, scid FROM (
    SELECT a.vec_id, a.embedding, c2.scid,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(c2.semb AS DOUBLE[])), 4) AS scos
    FROM assign1 a JOIN cent2 c2 ON c2.c2id = a.cid
    QUALIFY row_number() OVER (
      PARTITION BY a.vec_id ORDER BY scos DESC NULLS LAST, scid ASC NULLS LAST
    ) = 1
  )
),
cent3s AS (
  SELECT scid AS c3id, vec_id AS sscid, embedding AS ssemb FROM (
    SELECT scid, vec_id, embedding,
           row_number() OVER (
             PARTITION BY scid
             ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC NULLS LAST,
                      vec_id ASC NULLS LAST) AS rn,
           count(*) OVER (PARTITION BY scid) AS n
    FROM assign2
  ) WHERE rn <= GREATEST(1, (n + {TARGET_CELL // 2}) // {TARGET_CELL})
),
assign3s AS (
  SELECT vec_id, embedding, sscid FROM (
    SELECT a.vec_id, a.embedding, c3.sscid,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(c3.ssemb AS DOUBLE[])), 4) AS sscos
    FROM assign2 a JOIN cent3s c3 ON c3.c3id = a.scid
    QUALIFY row_number() OVER (
      PARTITION BY a.vec_id ORDER BY sscos DESC NULLS LAST, sscid ASC NULLS LAST
    ) = 1
  )
),
q3 AS (
  SELECT sscid,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000000) AS BIGINT)) AS qe
  FROM assign3s
),
rdims AS (
  SELECT sscid, i.i AS pos,
         CAST(floor(CAST(sum(qe[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM q3 CROSS JOIN unnest(generate_series(1, len(q3.qe))) AS i(i)
  GROUP BY sscid, i.i
),
refined3 AS (
  SELECT sscid, list(CAST(cv AS DOUBLE) / 1000000.0 ORDER BY pos ASC) AS remb
  FROM rdims GROUP BY sscid
),
cent3 AS (
  SELECT s.c3id, s.sscid, r.remb AS ssemb
  FROM cent3s s JOIN refined3 r ON r.sscid = s.sscid
),
assign0 AS (
  SELECT vec_id, embedding, sscid AS qcid FROM (
    SELECT a.vec_id, a.embedding, c3.sscid,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        c3.ssemb), 4) AS sscos
    FROM assign2 a JOIN cent3 c3 ON c3.c3id = a.scid
    QUALIFY row_number() OVER (
      PARTITION BY a.vec_id ORDER BY sscos DESC NULLS LAST, sscid ASC NULLS LAST
    ) = 1
  )
),
cellslots AS (
  SELECT qcid,
         CASE WHEN count(*) <= {2 * TARGET_CELL} THEN 1
              ELSE LEAST({SLOT_BASE - 1},
                         (count(*) + {TARGET_CELL // 2}) // {TARGET_CELL})
         END AS slots
  FROM assign0 GROUP BY qcid
),
assign AS (
  SELECT a.vec_id, a.embedding,
         a.qcid * {SLOT_BASE} + CASE WHEN s.slots = 1 THEN 0
           ELSE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))::BIGINT % s.slots
         END AS cid
  FROM assign0 a JOIN cellslots s USING (qcid)
)"""


def descend_cte(source: str) -> str:
    """DuckDB mirror of ``descend``: CTEs d1 → d2 → d3, where d3 holds
    (vec_id, cid = quantizer cell) for every row of ``source`` (vec_id,
    embedding) routed down the ASSIGN_CTE tree."""
    return f"""d1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT d.vec_id, d.embedding, c.cid,
           round(list_cosine_similarity(CAST(d.embedding AS DOUBLE[]),
                                        CAST(c.cemb AS DOUBLE[])), 4) AS ccos
    FROM {source} d CROSS JOIN cent c
    QUALIFY row_number() OVER (
      PARTITION BY d.vec_id ORDER BY ccos DESC NULLS LAST, c.cid ASC NULLS LAST
    ) = 1
  )
),
d2 AS (
  SELECT vec_id, embedding, scid FROM (
    SELECT a.vec_id, a.embedding, c2.scid,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(c2.semb AS DOUBLE[])), 4) AS scos
    FROM d1 a JOIN cent2 c2 ON c2.c2id = a.cid
    QUALIFY row_number() OVER (
      PARTITION BY a.vec_id ORDER BY scos DESC NULLS LAST, scid ASC NULLS LAST
    ) = 1
  )
),
d3 AS (
  SELECT vec_id, sscid AS cid FROM (
    SELECT a.vec_id, c3.sscid,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(c3.ssemb AS DOUBLE[])), 4) AS sscos
    FROM d2 a JOIN cent3 c3 ON c3.c3id = a.scid
    QUALIFY row_number() OVER (
      PARTITION BY a.vec_id ORDER BY sscos DESC NULLS LAST, sscid ASC NULLS LAST
    ) = 1
  )
)"""


def beam_cte(descent: int) -> str:
    """DuckDB mirror of ``_beam``'s descent for the self-probes
    vec_id < 5: CTEs probes, pcells1 → pcells2 → pcells (top ``descent``
    per level), slotted (each ranked quantizer cell's slots with the
    probe's own md5 slot) and own (each probe's assigned cell). Needs
    ASSIGN_CTE before it."""
    return f"""probes AS (
  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5
),
pcells1 AS (
  SELECT probe_id, pe, cid,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                      CAST(cemb AS DOUBLE[])), 4) AS pcos
  FROM probes CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY pcos DESC NULLS LAST, cid ASC NULLS LAST
  ) <= {descent}
),
pcells2 AS (
  SELECT probe_id, pe, scid,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                      CAST(semb AS DOUBLE[])), 4) AS scos
  FROM pcells1 JOIN cent2 ON cent2.c2id = pcells1.cid
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY scos DESC NULLS LAST, scid ASC NULLS LAST
  ) <= {descent}
),
pcells AS (
  SELECT probe_id, pe, sscid AS qcell,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]), ssemb), 4) AS sscos
  FROM pcells2 JOIN cent3 ON cent3.c3id = pcells2.scid
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY sscos DESC NULLS LAST, sscid ASC NULLS LAST
  ) <= {descent}
),
slotted AS (
  SELECT probe_id, pe, qcell, sscos, slots,
         unnest(generate_series(0, slots - 1)) AS slot,
         ('0x' || substr(md5(CAST(probe_id AS VARCHAR)), 1, 8))::BIGINT
           % slots AS pslot
  FROM (SELECT pc.probe_id, pc.pe, pc.qcell, pc.sscos, cs.slots
        FROM pcells pc JOIN cellslots cs ON cs.qcid = pc.qcell)
),
own AS (
  SELECT vec_id AS probe_id, embedding AS pe, cid AS cell
  FROM assign WHERE vec_id < 5
)"""
