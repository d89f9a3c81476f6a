"""The candidate-pair kernel: every blocked self-join in the engine.

``banded_pairs`` is the one place a block table is joined to itself. It
owns the ordered ``id_a < id_b`` equi-join on the block key, the md5-ranked
hot-bucket cap, pair de-duplication, the payload columns carried to both
sides, and (``banded_pairs_sql``, beside ``capped_bands_sql``) the DuckDB
mirror of the candidate CTE. Callers keep only their verify step.

A block table has one row per (id, block). Its shape names the blocking:
- multi-band: (id, band_id, band_key) — MinHash bands over token sets
  (operators/text.py::lsh_bands), sign-LSH over embedding coordinates
  (operators/similarity.py::sign_lsh_bands), the pigeonhole halves of a
  16-bit SimHash or pHash;
- single-block: (id, band_key), no ``band_id`` — the ``source`` column
  (text.blocked_token_pairs), an IVF cell (q_llm_semdedup), a winnowing
  fingerprint (q_llm_winnow_dup).

De-duplication is one rule, read from that shape, never from a flag:
- *Single-block tables need none.* A pair is emitted once per shared key,
  which is what a per-key count (winnow's ``n_shared``) needs, and a
  single-row-per-id table shares at most one key.
- *Emit-once* for an uncapped multi-band table that carries each row's
  key vector ``band_keys`` (index = band_id): a pair is kept only at the
  lowest band whose keys are equal on both rows. The rows judge it
  themselves, so no pair-sized ``distinct`` (and its shuffle) is needed.
- *``distinct``* for every other multi-band table, capped ones above all:
  a band the cap dropped a member from still has equal keys on both rows
  but produced no pair, and judging that needs the ranks of other buckets
  (a shuffle). ``cap_band_buckets`` therefore drops ``band_keys``.
The DuckDB mirror keeps ``SELECT DISTINCT``, so an oracle match checks
emit-once against the plain definition.

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


def _block_keys(bands: DataFrame) -> list[str]:
    """The block key columns of a band table: (band_id, band_key) for a
    multi-band table, (band_key) for a single-block one."""
    return [k for k in ("band_id", "band_key") if k in bands.columns]


def cap_band_buckets(bands: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Keep a deterministic md5-ranked subset of at most ``cap`` members per
    bucket. Mirrored in DuckDB oracles via ``capped_bands_sql`` — exact
    same rank expression, so the kept sets are bit-identical across
    engines.

    The key vector ``band_keys`` is dropped: once a bucket is capped, equal
    keys on two rows no longer mean the pair was emitted there, so a capped
    table must not offer emit-once a vector it would misread."""
    w = Window.partitionBy(*_block_keys(bands)).orderBy(
        F.md5(F.col(id_col).cast("string")).asc_nulls_last(),
        F.col(id_col).asc_nulls_last(),
    )
    return (
        bands.drop("band_keys")
        .withColumn("_rn", F.row_number().over(w))
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
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs (left < right) of rows that share a block, from a
    band table, optionally bucket-capped.

    Output: ``left_alias``, ``right_alias``, then, with ``keep_provenance``,
    the block key the pair came from (the persisted shape the incremental
    dedup path needs, so pairs from buckets a delta never touches can be
    reused without re-deriving them), then ``{c}_a``/``{c}_b`` for each
    payload column ``c`` in ``carry``, read from the two rows.

    De-duplication follows the table's shape (module docstring): no
    ``band_id`` column — none; uncapped with a ``band_keys`` column —
    emit-once; otherwise, capped tables above all, ``distinct``."""
    keys = _block_keys(bands)
    emit_once = cap is None and "band_id" in keys and "band_keys" in bands.columns
    carried = [c + s for c in carry for s in ("_a", "_b")]
    if cap is not None:
        # Capped path (r14, guide §2.4 "remove shuffles outright"): the cap
        # bounds every bucket at ``cap`` members, so the bucket's member
        # list fits in one array and pairs can be ENUMERATED per bucket —
        # collect_list on the same block-key partitioning the cap window
        # just established (zero additional Exchange), then inline the x<y
        # combinations. A self-equi-join would build the whole
        # scan→band→sort→shuffle subtree TWICE (Spark's exchange-reuse rule
        # does not fire across the two aliased sides — verified in the r14
        # executed plan) and pay a ShuffledHashJoin on top; per-bucket work
        # is the same O(m²) either way, but one corpus scan and one band
        # shuffle replace two of each. A payload rides in the member
        # struct.
        capped = cap_band_buckets(bands.select(id_col, *keys, *carry), id_col, cap)
        member = F.struct(id_col, *carry) if carry else F.col(id_col)
        grouped = capped.groupBy(*keys).agg(F.collect_list(member).alias("_members"))
        x, y = (f"{v}.{id_col}" if carry else v for v in ("x", "y"))
        fields = ", ".join(
            [f"{x} AS {left_alias}", f"{y} AS {right_alias}"]
            + [f"{v}.{c} AS {c}_{s}" for c in carry for v, s in (("x", "a"), ("y", "b"))]
        )
        pairs = grouped.select(
            *keys,
            F.expr(
                "inline(flatten(transform(_members, x -> "
                f"transform(filter(_members, y -> {x} < {y}), y -> struct({fields})))))"
            ),
        )
    else:
        # Uncapped path: bucket membership is unbounded, so pair discovery
        # must stay a self-equi-join (collect_list over a hot bucket would
        # be the exact memory blow-up the cap exists to prevent). The join
        # strategy is the planner's: a hot bucket can outgrow a
        # shuffle-hash build side, and a caller that filters one side
        # (q_llm_minhash_est) lets it broadcast.
        cols = keys + (["band_keys"] if emit_once else []) + list(carry)

        def side(alias: str, s: str) -> DataFrame:
            return bands.select(F.col(id_col).alias(alias), *[F.col(c).alias(c + s) for c in cols])

        cond = F.col(left_alias) < F.col(right_alias)
        for k in keys:
            cond = cond & (F.col(k + "_a") == F.col(k + "_b"))
        pairs = side(left_alias, "_a").join(side(right_alias, "_b"), cond)
        if emit_once:
            # Keep the pair at the lowest band whose keys are equal on both
            # rows, and only there.
            pairs = pairs.filter(
                "array_position(zip_with(band_keys_a, band_keys_b, (p, q) -> p = q), true)"
                " = band_id_a + 1"
            )
        pairs = pairs.withColumnsRenamed({k + "_a": k for k in keys})
    out = pairs.select(left_alias, right_alias, *(keys if keep_provenance else []), *carried)
    return out.distinct() if "band_id" in keys and not emit_once else out


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


def banded_pairs_sql(id_col: str, left_alias: str, right_alias: str, source: str = "cbands") -> str:
    """DuckDB CTE ``cand`` mirroring ``banded_pairs`` over a multi-band CTE
    named ``source`` (``cbands`` from ``capped_bands_sql``, or an uncapped
    band CTE). It keeps the plain definition, ``SELECT DISTINCT``, so an
    oracle match checks emit-once against it."""
    return f"""cand AS (
  SELECT DISTINCT a.{id_col} AS {left_alias}, b.{id_col} AS {right_alias}
  FROM {source} a JOIN {source} b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.{id_col} < b.{id_col}
)"""
