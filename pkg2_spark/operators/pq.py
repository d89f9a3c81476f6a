"""Product quantization (PQ): codebook, encode, lookup table and ADC scan.

q_vec_pq (encode), q_vec_adc (search the codes) and q_vec_ivfpq (encode
and search IVF residuals) read one codec through this module. It holds
the Spark kernel and its DuckDB mirror, like operators/lsh.py and
operators/ivf.py.

Format. A vector of width d is cut into M = 8 subspaces of d / M
coordinates; the width is read from each row (``size(v) div M``, no
job), and a width M does not divide is refused at run time, not
truncated. Each subvector is coded by its nearest entry of a K = 16
codebook — a FORMAT constant (the code width), not a blocking constant:
unlike the data-derived IVF cell count it fixes the compressed
representation and does not grow with n. The codebook is the K
md5-ranked rows of a frame (``sample``), a stand-in for per-subspace
k-means exactly as the IVF level-1 codebook is.

A codebook is an array of structs whose field ``v`` holds the entry's
vector. Each caller builds its own array from ``sample`` and picks its
order; that order is the argmin tie-break (strict <, so the lowest
position wins an exact tie). Codes are 1-based positions into it.

Topology: the one-row codebook is broadcast and every vector encodes
row-locally with nested higher-order functions — no exchange, no rank
window. A query's lookup table (LUT) holds its M × K subspace distances,
so a corpus vector's asymmetric distance (ADC) is M table lookups over
its code, never a full-width computation.

Determinism: every squared distance folds its terms in sequential
element order from 0.0, as DuckDB's list_aggregate sum does, and every
reported distance is floor-scaled to an e4 integer, so the two engines
produce bit-identical codes, LUTs and ADC sums.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

M = 8  # subspaces per vector
K = 16  # codebook entries


def sample(df: DataFrame, id_col: str, n: int = K) -> DataFrame:
    """The ``n`` rows of ``df`` first by (md5(id), id), with that md5 as
    ``mkey`` (lead a struct with it to sort an array into sample order)."""
    return (
        df.withColumn("mkey", F.md5(F.col(id_col).cast("string")))
        .orderBy(F.col("mkey").asc_nulls_last(), F.col(id_col).asc_nulls_last())
        .limit(n)
    )


def _d2(a: Column, b: Column) -> Column:
    """Squared L2 distance, folded in element order."""

    def sq(x, y):
        d = x.cast("double") - y.cast("double")
        return d * d

    return F.aggregate(F.zip_with(a, b, sq), F.lit(0.0), lambda acc, t: acc + t)


def _d2_sub(a: Column, b: Column, s: Column) -> Column:
    """Squared L2 distance of subspace ``s`` (0-based) of ``a`` and ``b``."""
    n = F.size(a)
    w = F.when(n % M == 0, (n / M).cast("int")).otherwise(
        F.raise_error(F.lit(f"PQ needs a vector width divisible by {M}"))
    )
    return _d2(F.slice(a, s * w + 1, w), F.slice(b, s * w + 1, w))


def encode(v: Column, cb: Column) -> Column:
    """The PQ code of ``v``: M structs (d2, pos), each subspace's nearest
    codebook position and its squared distance."""

    def nearest(s):
        scored = F.transform(
            cb,
            lambda c, i: F.struct(
                _d2_sub(v, c["v"], s).alias("d2"), (i + 1).alias("pos")
            ),
        )
        return F.aggregate(
            scored,
            F.struct(F.lit(float("inf")).alias("d2"), F.lit(-1).alias("pos")),
            lambda acc, p: F.when(p["d2"] < acc["d2"], p).otherwise(acc),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(M - 1)), nearest)


def lut(q: Column, cb: Column) -> Column:
    """The lookup table of query vector ``q``: element s, p is the squared
    distance of q's subspace s to codebook entry p."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda s: F.transform(cb, lambda c: _d2_sub(q, c["v"], s)),
    )


def adc_e4(codes: Column, table: Column) -> Column:
    """Asymmetric distance of a code to a LUT's query: the sum over
    subspaces of floor(1e4 × table entry)."""
    terms = F.transform(
        codes,
        lambda c, s: F.floor(F.element_at(F.element_at(table, s + 1), c["pos"]) * 10000),
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def exact_e4(a: Column, b: Column) -> Column:
    """floor(1e4 × squared L2 distance) over the full width."""
    return F.floor(_d2(a, b) * 10000)


# DuckDB mirror. `cb` is a sample_cte of (pos, id, v); code_cte and
# lut_cte read it, and ADC_E4_SQL sums a `lut` joined to a `code`.


def _fold_sql(a: str, b: str, lo: str, n: str) -> str:
    """Squared L2 distance over coordinates lo+1 .. lo+n, in order."""

    def t(v):
        return f"CAST({v}[CAST({lo} + i AS INTEGER)] AS DOUBLE)"

    return (
        f"list_aggregate(list_transform(generate_series(1, {n}),\n"
        f"           i -> ({t(a)} - {t(b)})\n"
        f"              * ({t(a)} - {t(b)})), 'sum')"
    )


def _d2_sub_sql(a: str, b: str, s: str) -> str:
    w = f"(len({a}) // {M})"
    return _fold_sql(a, b, f"{s} * {w}", w)


def sample_cte(name: str, source: str, id_col: str, vec: str, n: int = K) -> str:
    """CTE ``name`` (pos, id, v): ``sample``'s rows, pos = 1-based rank.
    A vector width M does not divide raises here."""
    return f"""{name} AS (
  SELECT row_number() OVER (
    ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC NULLS LAST, {id_col} ASC NULLS LAST
  ) AS pos, {id_col} AS id,
  CASE WHEN len({vec}) % {M} = 0 THEN {vec}
       ELSE error('PQ needs a vector width divisible by {M}') END AS v
  FROM {source}
  QUALIFY pos <= {n}
)"""


def code_cte(source: str, vec: str, tie: str, carry=("vec_id",)) -> str:
    """CTE code (carry..., s, pos, cbid, d2): per row of ``source`` (keyed
    by vec_id) and subspace s, the nearest ``cb`` entry; ``tie`` (pos or
    cbid) breaks an exact d2 tie, as the Spark array order does."""
    cols = ", ".join(f"x.{c}" for c in carry)
    return f"""code AS (
  SELECT {cols}, sub.s, cb.pos, cb.id AS cbid,
         {_d2_sub_sql(f"x.{vec}", "cb.v", "sub.s")} AS d2
  FROM {source} x CROSS JOIN cb CROSS JOIN range({M}) sub(s)
  QUALIFY row_number() OVER (
    PARTITION BY x.vec_id, sub.s ORDER BY d2 ASC NULLS LAST, {tie} ASC NULLS LAST
  ) = 1
)"""


def lut_cte(source: str, qid: str, vec: str) -> str:
    """CTE lut (qid, s, pos, d2): each ``source`` query's lookup table."""
    return f"""lut AS (
  SELECT q.{qid} AS qid, sub.s, cb.pos,
         {_d2_sub_sql(f"q.{vec}", "cb.v", "sub.s")} AS d2
  FROM {source} q CROSS JOIN cb CROSS JOIN range({M}) sub(s)
)"""


ADC_E4_SQL = "CAST(sum(CAST(floor(lut.d2 * 10000) AS BIGINT)) AS BIGINT)"


def exact_e4_sql(a: str, b: str) -> str:
    return f"CAST(floor({_fold_sql(a, b, '0', f'len({a})')} * 10000) AS BIGINT)"
