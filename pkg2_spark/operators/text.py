"""Text operators: tokenization, MinHash, SimHash, fingerprinting.

Shared by the §2.9 LLM-pipeline queries. Everything is built-in expressions
(JVM-side); hashes are md5-based because md5 is bit-identical across engines
(SURVEY.md §2.13.7) — which makes every signature portable to the DuckDB
oracle, unlike xxhash64/murmur.

Scale posture: tokenize → explode → hash-partition by token or doc; MinHash
is one groupBy with K min() aggregates (map-side partial min makes the
shuffle tiny); LSH banding turns the O(n²) near-dup pair search into an
equi-join on band keys.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokenizer with empty-token guard (both engines identical)."""
    return F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")


def tokenize(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per (doc, token occurrence).

    fan_out_scan (r14): every consumer runs heavy per-row work (explode +
    md5 chains) directly above this, so an under-split scan must not leave
    it single-threaded; a no-op whenever the scan is already parallel."""
    from pkg2_spark.session import fan_out_scan

    df = fan_out_scan(df)
    return df.select(id_col, F.explode(tokens_col(text_col)).alias("token"))


def tokenize_distinct(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per (doc, distinct token) — the MinHash/Jaccard input."""
    from pkg2_spark.session import fan_out_scan

    df = fan_out_scan(df)
    return df.select(id_col, F.explode(F.array_distinct(tokens_col(text_col))).alias("token"))


def minhash_signatures(
    tok: DataFrame, num_hashes: int, id_col: str = "doc_id", token_col: str = "token"
) -> DataFrame:
    """K portable MinHashes per doc: mh_i = min(md5(token || ':' || i)).

    Deterministic, engine-portable (md5), and a single hash-aggregate:
    the shuffle carries K strings per doc, independent of doc length.
    """
    aggs = [
        F.min(F.md5(F.concat(F.col(token_col), F.lit(f":{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return tok.groupBy(id_col).agg(*aggs)


def band_key_expr(band: int, rows_per_band: int) -> Column:
    """THE band-key derivation: md5 over the band's r consecutive signature
    columns joined with '|'. Single source of truth shared by ``lsh_bands``
    and the band-set rewrites (q_llm_lsh_calib, q_llm_neardup_pairs) so the
    key formula cannot silently desynchronize from the pair-join semantics
    or the oracle CTEs (ADVICE r14)."""
    cols = [F.col(f"mh{band * rows_per_band + r}") for r in range(rows_per_band)]
    return F.md5(F.concat_ws("|", *cols))


def lsh_bands(sig: DataFrame, num_hashes: int, rows_per_band: int, id_col: str = "doc_id") -> DataFrame:
    """Band the signature: band_key = md5(concat of r consecutive hashes).
    Docs sharing any band key are near-dup candidates (equi-join, no O(n²)).
    Each row also carries the doc's key vector ``band_keys``, from which
    operators/lsh.py::banded_pairs emits each uncapped pair once without a
    distinct; a consumer that never reads it has it pruned from its plan."""
    assert num_hashes % rows_per_band == 0
    bands = [
        band_key_expr(b, rows_per_band) for b in range(num_hashes // rows_per_band)
    ]
    return sig.select(id_col, F.array(*bands).alias("band_keys")).select(
        id_col,
        F.posexplode("band_keys").alias("band_id", "band_key"),
        "band_keys",
    )


# 16 SimHash dimensions: the high bit of each hex nibble of md5(token).
_HEX = "0123456789abcdef"


def simhash16(tok: DataFrame, id_col: str = "doc_id", token_col: str = "token") -> DataFrame:
    """16-bit SimHash from distinct tokens — portable bit extraction via
    md5 hex nibbles (no engine-specific int<->hex casts).

    Per dimension i: weight +1 if nibble_i(md5(tok)) >= 8 else -1; sum over
    tokens; fingerprint bit i set iff the sum is positive.

    One hash-aggregate with 16 conditional sums (r14, guide §2.2): the
    former shape exploded 16 rows per token and paid TWO token-proportional
    shuffles (groupBy(doc, i), then groupBy(doc)); the column form shuffles
    16 ints per doc after map-side partial aggregation — the same per-doc
    sums s_i, bit for bit, at 1/16th the row volume and one exchange fewer.
    md5 is projected once per token below the aggregate (not inlined 16x).
    """
    h = tok.select(id_col, F.md5(F.col(token_col)).alias("h"))
    sums = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"instr('{_HEX}', substring(h, {i} + 1, 1)) - 1 >= 8"),
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"s{i}")
            for i in range(16)
        ]
    )
    fp = None
    for i in range(16):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return sums.select(id_col, fp.cast("long").alias("simhash"))


def blocked_token_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    block_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Block-keyed token-set pair overlap: (doc_a, doc_b, ni, la, lb) for
    every same-block pair with doc_a < doc_b, where ni = |A∩B| and la/lb
    are the sizes of the two documents' distinct-token sets (tokens_col
    over ``text_col``). The shared kernel of q_llm_jaccard /
    q_llm_containment / q_llm_lsh_calib's ground-truth arm.

    The pairs come from operators/lsh.py::banded_pairs over a single-block
    table (the block column is the only key, so no pair de-duplication),
    carrying the token sets to both sides. Two r14 fixes (measured 11.4 s
    → 1.4 s for the jaccard consumer and 28.8 s → 0.7 s for containment at
    sf0.1, identical outputs):

    - fan_out_scan on the raw documents (guide §2.5), BELOW the
      tokenizing projection: lower/split/array_distinct run on every core,
      and the block join, which broadcasts one side, runs every per-pair
      array intersection on the PROBE side's partitions — an under-split
      scan serialized the whole quadratic-per-block workload onto one
      task.
    - the intersection is evaluated ONCE per pair. Consumers derive
      several metrics from ni, and filter pushdown duplicates each
      metric expression into FilterExec — up to 8 array_intersect
      evaluations per pair in the containment plan. Emitting (ni, la,
      lb) through an explode(array(struct(...))) puts a Generate node
      between the intersection and the metric arithmetic; generator
      output is materialized as plain attributes, so no downstream
      filter or projection can re-inline the array work. (Plain column
      aliases don't survive: CollapseProject re-substitutes them.)
    """
    from pkg2_spark.operators.lsh import banded_pairs
    from pkg2_spark.session import fan_out_scan

    blocks = fan_out_scan(docs.select(id_col, block_col, text_col)).select(
        id_col,
        F.col(block_col).alias("band_key"),
        F.array_distinct(tokens_col(text_col)).alias("toks"),
    )
    return (
        banded_pairs(blocks, id_col, "doc_a", "doc_b", carry=("toks",))
        .select(
            "doc_a",
            "doc_b",
            F.explode(
                F.array(
                    F.struct(
                        F.size(F.array_intersect("toks_a", "toks_b")).alias("ni"),
                        F.size("toks_a").alias("la"),
                        F.size("toks_b").alias("lb"),
                    )
                )
            ).alias("_m"),
        )
        .select("doc_a", "doc_b", "_m.ni", "_m.la", "_m.lb")
    )


def rolling_fingerprint(text_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Polynomial rolling hash over the token stream, mod 1e9+7.

    step value per token: length(w)*7 + ascii(first char); acc = (acc*31 +
    step) % p. Pure integer fold — bit-identical across engines.
    """
    toks = tokens_col()
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * 31 + F.length(w) * 7 + F.ascii(F.substring(w, 1, 1))) % 1000000007,
    )
    return text_df.select(id_col, fp.alias("fingerprint"))
