"""Vector similarity operators over ArrayType(FloatType) embedding columns.

All pure built-in higher-order functions (zip_with/aggregate/transform) —
JVM-side, codegen-friendly, no Python in the hot path (SURVEY.md §2.9).
Floats are cast to double BEFORE arithmetic (float32 math diverges across
engines); similarity outputs are rounded to 4dp per §2.13.1.

Scale posture:
- brute-force knn = cross join; bounded by the probe count (a broadcast of
  probes against a full scan of vectors — linear in corpus size, the right
  baseline shape).
- IVF = coarse quantization: assign every vector to its nearest centroid
  (|centroids| is small → broadcast), then search only the probe's cell —
  the candidate set shrinks by the centroid fan-out, and the expensive
  ranking join is an equi-join on centroid_id instead of a cross join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def as_double(arr) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(F.aggregate(F.transform(as_double(a), lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a, b) -> Column:
    """Cosine similarity, computed in double precision, same element order as
    DuckDB's list_cosine_similarity (sequential fold) so results hash-match."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine4(a, b) -> Column:
    return F.round(cosine(a, b), 4)


def unpack(vec_col: str, dim: int, prefix: str) -> list[str]:
    """SQL projections turning an array<float> into `dim` double columns.

    Lambda higher-order functions (zip_with/aggregate) are interpreted
    expressions — correct but outside whole-stage codegen. Unpacking to flat
    columns turns vector math into plain codegen arithmetic (~10-20× faster
    on pairwise workloads, measured at sf0.1). Expressions are SQL strings
    (one JVM-side parse) rather than hundreds of per-column Py4J calls —
    plan-construction time is part of per-query latency."""
    return [
        f"CAST(element_at({vec_col}, {i + 1}) AS DOUBLE) AS {prefix}{i}"
        for i in range(dim)
    ]


def wide_dot(pa: str, pb: str, dim: int) -> Column:
    """Left-associative product sum over unpacked columns — bit-identical to
    the sequential fold (and DuckDB's loop), so round-4 hash-matching holds."""
    return F.expr(" + ".join(f"{pa}{i} * {pb}{i}" for i in range(dim)))


def wide_norm(prefix: str, dim: int) -> Column:
    return F.sqrt(F.expr(" + ".join(f"{prefix}{i} * {prefix}{i}" for i in range(dim))))


def wide(df: DataFrame, cols: list[str], vec_col: str, dim: int, prefix: str) -> DataFrame:
    """One side of the wide cosine: the SQL select items ``cols``, then
    ``vec_col`` unpacked into ``{prefix}0 .. {prefix}{dim-1}`` and its norm
    ``{prefix}_n`` (per VECTOR, before any pair join — linear work).

    The vector must have ``dim`` coordinates: unpacking reads exactly
    1..dim, so a wider vector would score on a prefix and a narrower one
    would fail on an opaque index error. Each vector is checked once, in
    its row (no job), and a mismatch raises naming both widths."""
    checked = df.selectExpr(
        *cols,
        f"IF(size({vec_col}) <> {dim}, raise_error(concat('vector {vec_col} has ', "
        f"size({vec_col}), ' coordinates; the wide cosine reads dim = {dim}')), "
        f"{vec_col}) AS {prefix}",
    )
    keep = [c for c in checked.columns if c != prefix]
    return checked.selectExpr(*keep, *unpack(prefix, dim, prefix)).withColumn(
        f"{prefix}_n", wide_norm(prefix, dim)
    )


def wide_cos(pa: str, pb: str, dim: int) -> Column:
    """Pair cosine, rounded to 4dp, of two ``wide`` sides: one codegen dot
    and a divide per pair (dot/(na*nb) with the same sequential sums)."""
    return F.round(wide_dot(pa, pb, dim) / (F.col(f"{pa}_n") * F.col(f"{pb}_n")), 4)


def _pair_stage_slices(sess) -> int:
    """Task count for the quadratic pair stage.

    Follows the deployment's tuned ``spark.sql.shuffle.partitions`` but is
    robust to platforms that set it non-numerically (e.g. auto-optimized
    shuffle reports 'auto') — fall back to defaultParallelism — and capped at
    4× the core count so a foreign session left at the static default of 200
    doesn't explode a small pair stage into 200 tiny tasks (an explicit
    repartition is NOT coalesced by AQE)."""
    par = max(int(sess.sparkContext.defaultParallelism), 1)
    try:
        slices = int(sess.conf.get("spark.sql.shuffle.partitions", str(par)))
    except (ValueError, TypeError):
        slices = par
    return max(1, min(slices, par * 4))


def cosine_pairs_wide(
    left: DataFrame,
    right: DataFrame,
    join_cond,
    dim: int,
    left_vec: str = "ea",
    right_vec: str = "eb",
    broadcast_right: bool = True,
) -> DataFrame:
    """Join two vector-carrying frames and compute pair cosine in wide
    (codegen) form. Inputs must carry distinct column names; output keeps all
    non-vector columns plus `cos` (rounded 4dp).

    Norms are precomputed per VECTOR before the join (linear work), so the
    quadratic pair stage is just the 64-term dot + one divide — measured
    ~4.7× faster than norms-per-pair at sf0.1, and bit-identical
    (dot/(na*nb) with the same sequential sums).

    Parallelism: the pair stage is quadratic in the band size while the
    inputs are linear, so a small parquet scan (often 1 partition) would run
    the expensive stage on one core. When ``broadcast_right`` (the default —
    right side fits in memory), the left side is round-robin repartitioned to
    ``spark.sql.shuffle.partitions`` so every core gets a slice of the pair
    work (vs one task: 3.5× faster at sf0.1; vs hard-coded defaultParallelism:
    follows the deployment's tuned slice count and measured ~15% faster with
    far lower variance at bench scale). When the right side is too big to
    broadcast, pass ``broadcast_right=False``: both sides shuffle on the
    equi-prefix of ``join_cond`` (band key) and AQE handles skew — the
    100 TB shape."""
    lkeep = [c for c in left.columns if c != left_vec]
    rkeep = [c for c in right.columns if c != right_vec]
    lw = wide(left, lkeep, left_vec, dim, "__a")
    rw = wide(right, rkeep, right_vec, dim, "__b")
    if broadcast_right:
        lw = lw.repartition(_pair_stage_slices(lw.sparkSession))
        rw = F.broadcast(rw)
    joined = lw.join(rw, join_cond)
    return joined.select(*lkeep, *rkeep, wide_cos("__a", "__b", dim).alias("cos"))


def sign_lsh_bands(
    df: DataFrame,
    dim: int,
    rows_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH banding for angular similarity: band b's key is the
    concatenated sign pattern of ``rows_per_band`` consecutive coordinates
    (axis-aligned random-hyperplane LSH — the standard-basis special case of
    SRP-LSH). Vectors sharing any (band_id, band_key) are candidates; pair
    discovery becomes an equi-join on the band key instead of all-pairs.

    Exact comparisons (x > 0) on the stored floats, so band membership is
    bit-identical across engines — the oracle can mirror it. ``rows_per_band``
    trades recall for selectivity (2^r keys per band); at real corpus scale
    raise r (32-64 with multiprobe) so per-bucket pair counts stay bounded.

    The whole projection is ONE selectExpr string (one JVM-side parse): the
    per-coordinate Column-object form paid ~0.25 s of Py4J/parse round-trips
    per plan construction (r14 measurement, identical results), which is
    per-query latency for every sign-LSH consumer."""
    assert dim % rows_per_band == 0
    keys = ", ".join(
        "concat("
        + ", ".join(
            f"CAST(element_at({vec_col}, {b * rows_per_band + i + 1}) > 0 AS STRING)"
            for i in range(rows_per_band)
        )
        + ")"
        for b in range(dim // rows_per_band)
    )
    return df.selectExpr(
        id_col, f"posexplode(array({keys})) AS (band_id, band_key)"
    )


def cosine_on_pairs(
    cand: DataFrame,
    vectors: DataFrame,
    left: str,
    right: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine for an explicit candidate-pair frame — the VERIFY stage
    of every candidate-then-verify pipeline (LSH discovery upstream).

    Wide codegen form: vectors unpack to flat double columns with
    per-vector norms precomputed BEFORE the lookup joins (linear work), so
    the per-pair cost is one 64-term codegen dot + a divide — measured 2×
    faster than the array-lambda form at sf0.1 (0.71s vs 1.38s over 62k
    candidates), bit-identical values (same left-associative sums, same
    4dp round). Both lookup joins are equi-joins on the id — broadcast or
    shuffle as the optimizer sizes them."""
    wa = wide(vectors, [f"{id_col} AS {left}"], vec_col, dim, "_wa")
    wb = wide(vectors, [f"{id_col} AS {right}"], vec_col, dim, "_wb")
    return (
        cand.join(wa, left)
        .join(wb, right)
        .select(left, right, wide_cos("_wa", "_wb", dim).alias("cos"))
    )


def knn_bruteforce(
    vectors: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
    probe_vec: str = "probe_embedding",
    dim: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each probe. Ranking key is the ROUNDED
    cosine plus the candidate id — cross-engine deterministic even when raw
    doubles differ in the last ulp.

    Shape: probes are broadcast (bounded probe set), the corpus side
    streams — linear in corpus size; the corpus is round-robin
    repartitioned so the scoring stage uses every core even when the scan
    arrives as one partition (small-file case). With ``dim`` (the embedding
    width, known to every real corpus) scoring runs in wide unpacked-column
    (codegen) form; without it, the lambda-HOF fold — bit-identical results
    either way (cosine_pairs_wide docstring), and no driver-side action in
    the plan-construction path in either mode.

    ``exclude_self`` (default True) drops candidates whose id equals the
    probe's — right for self-probes drawn from the corpus itself (the
    diagnostic/recall-audit shape). Pass False for EXTERNAL probes, whose
    ids live in the caller's namespace: an accidental id collision with a
    corpus vector must not censor that vector from the result."""
    pair_cond = (
        (F.col(probe_id) != F.col(id_col)) if exclude_self else F.lit(True)
    )
    if dim is not None:
        scored = cosine_pairs_wide(
            vectors.select(id_col, F.col(vec_col).alias("__v")),
            probes.select(probe_id, F.col(probe_vec).alias("__p")),
            pair_cond,
            dim=dim,
            left_vec="__v",
            right_vec="__p",
        )
    else:
        lw = vectors.select(id_col, F.col(vec_col).alias("__v")).repartition(
            _pair_stage_slices(vectors.sparkSession)
        )
        rw = F.broadcast(probes.select(probe_id, F.col(probe_vec).alias("__p")))
        scored = (
            lw.join(rw, pair_cond)
            .select(probe_id, id_col, cosine4(F.col("__v"), F.col("__p")).alias("cos"))
        )
    w = Window.partitionBy(probe_id).orderBy(
        F.col("cos").desc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    return (
        scored.select(probe_id, id_col, "cos")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
