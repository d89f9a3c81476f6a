"""LSH band-bucket candidate generation with a hot-bucket skew guard.

Both near-dup families produce the same intermediate shape — one row per
(id, band_id, band_key) — whether the bands come from MinHash signatures
over token sets (operators/text.py::lsh_bands) or sign-LSH over embedding
coordinates (operators/similarity.py::sign_lsh_bands). Candidate discovery
is then a self-equi-join on (band_id, band_key): the scale-shaped
alternative to all-pairs comparison.

The failure mode at corpus scale (VERDICT.md round 4, "What's wrong" #2/#3)
is the HOT bucket: boilerplate-heavy web corpora put thousands of documents
behind one band key, and a bucket of m members emits m·(m-1)/2 pairs — the
quadratic blow-up sneaks back in through the skewed tail of the key
distribution. Guard: a deterministic per-bucket cap. Members of each
(band_id, band_key) bucket are ranked by md5(id) (content-independent,
engine-reproducible) and only the first ``cap`` participate in pair
generation, bounding every bucket's contribution to cap·(cap-1)/2 pairs —
total candidate volume becomes O(#buckets · cap²) instead of O(Σ m_b²).

Why cap rather than salt: salting (operators/skew.py) redistributes a hot
key's WORK across tasks but leaves the pair count quadratic — the right
tool when every pair must be scored. Dedup does not need every pair:
within a saturated bucket the members are near-identical by construction,
and the capped subset still links them transitively through the component
resolution step (a bucket is a clique on its kept members; recall is lost
only for members sharing NO other band with any kept member — the standard
bounded-recall trade every production MinHash dedup makes). The cap is a
window rank per bucket: a single O(m log m) sort-spill per hot bucket vs
the O(m²) join it prevents.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def cap_band_buckets(bands: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Keep a deterministic md5-ranked subset of at most ``cap`` members per
    (band_id, band_key) bucket. Mirrored in DuckDB oracles via
    ``capped_bands_sql`` — exact same rank expression, so the kept sets are
    bit-identical across engines."""
    w = Window.partitionBy("band_id", "band_key").orderBy(
        F.md5(F.col(id_col).cast("string")).asc_nulls_last(),
        F.col(id_col).asc_nulls_last(),
    )
    return (
        bands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def banded_pairs(
    bands: DataFrame,
    id_col: str,
    left_alias: str,
    right_alias: str,
    cap: int | None = None,
    keep_provenance: bool = False,
    distinct_pairs: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (left < right) from a band table, optionally
    bucket-capped. The join is a pure equi-join on (band_id, band_key) —
    shuffle-partitioned by band key, AQE-splittable, no cross join — and the
    ``distinct`` collapses multi-band collisions before any downstream
    scoring work.

    With ``keep_provenance`` the originating (band_id, band_key) stays on
    each pair row (distinct over the 4-tuple): the persisted shape the
    incremental dedup path needs, so pairs from buckets a delta never
    touches can be reused without re-deriving them.

    ``distinct_pairs=False`` (r15, guide §2.4 "a distinct on data that is
    already unique"): when the band table has a SINGLE band per id (e.g.
    the IVF-cell blocking key in q_llm_semdedup), a pair can only arise in
    one bucket, so the multi-band distinct is a no-op that still costs one
    pair-keyed Exchange + two hash aggregates. Callers assert the
    single-band property; multi-band tables must keep the default."""
    if cap is not None:
        # Capped path (r14, guide §2.4 "remove shuffles outright"): the cap
        # bounds every bucket at ``cap`` members, so the bucket's member
        # list fits in one array and pairs can be ENUMERATED per bucket —
        # collect_list on the same (band_id, band_key) partitioning the cap
        # window just established (zero additional Exchange), then inline
        # the x<y combinations. The previous self-equi-join built the whole
        # scan→band→sort→shuffle subtree TWICE (Spark's exchange-reuse rule
        # does not fire across the two aliased sides — verified in the r14
        # executed plan) and paid a ShuffledHashJoin on top; per-bucket work
        # is the same O(m²) either way, but one corpus scan and one band
        # shuffle replace two of each. Identical pair sets (r14: 61,645 of
        # 61,645 at sf0.1) — membership, the x<y orientation, and the
        # multi-band distinct are unchanged.
        capped = cap_band_buckets(bands, id_col, cap)
        grouped = capped.groupBy("band_id", "band_key").agg(
            F.collect_list(id_col).alias("_members")
        )
        pair_cols = f"x AS {left_alias}, y AS {right_alias}"
        pairs = grouped.select(
            "band_id",
            "band_key",
            F.expr(
                "inline(flatten(transform(_members, x -> "
                f"transform(filter(_members, y -> x < y), y -> struct({pair_cols})))))"
            ),
        )
        cols = [left_alias, right_alias]
        if keep_provenance:
            cols += ["band_id", "band_key"]
        out = pairs.select(*cols)
        return out.distinct() if distinct_pairs else out
    # Uncapped path: bucket membership is unbounded, so pair discovery must
    # stay a self-equi-join (collect_list over a hot bucket would be the
    # exact memory blow-up the cap exists to prevent). The join strategy
    # is the planner's: a hot bucket can outgrow a shuffle-hash build
    # side, and a caller that filters one side (q_llm_minhash_est) lets
    # it broadcast.
    a = bands.select(F.col(id_col).alias(left_alias), "band_id", "band_key")
    b = bands.select(
        F.col(id_col).alias(right_alias),
        F.col("band_id").alias("_bid2"),
        F.col("band_key").alias("_bkey2"),
    )
    cols = [left_alias, right_alias]
    if keep_provenance:
        cols += ["band_id", "band_key"]
    out = a.join(
        b,
        (F.col("band_id") == F.col("_bid2"))
        & (F.col("band_key") == F.col("_bkey2"))
        & (F.col(left_alias) < F.col(right_alias)),
    ).select(*cols)
    return out.distinct() if distinct_pairs else out


def capped_bands_sql(id_col: str, cap: int, source: str = "bands") -> str:
    """DuckDB CTE body mirroring ``cap_band_buckets`` over a CTE named
    ``source`` with columns (id_col, band_id, band_key)."""
    return f"""cbands AS (
  SELECT {id_col}, band_id, band_key FROM {source}
  QUALIFY row_number() OVER (
    PARTITION BY band_id, band_key
    ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC NULLS LAST, {id_col} ASC NULLS LAST
  ) <= {cap}
)"""
