"""Multimodal-column queries (BASELINE.json:6): binary payloads, typed
metadata, decode/feature-extract via mapInPandas, frame sampling.

The decode runs through REAL mapInPandas plumbing (Arrow batches → Python
worker → features); the oracle reconstructs the same deterministic features
from md5 hex nibbles in pure SQL, so even the Python path is value-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pkg2_spark.catalog import load_tables
from pkg2_spark.operators.multimodal import decode_features, with_binary_payload
from pkg2_spark.registry import query

# hex pair -> byte value, in DuckDB SQL
_NIB = "(instr('0123456789abcdef', substring(md5(text), {p}, 1)) - 1)"


def _byte_sql(i: int) -> str:
    hi = _NIB.format(p=2 * i + 1)
    lo = _NIB.format(p=2 * i + 2)
    return f"({hi} * 16 + {lo})"


@query(
    "q_mm_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(unhex(md5(text))) AS INTEGER) AS n_bytes,
       'fake/rgb16' AS fmt,
       CAST((doc_id % 16) * 64 + 64 AS INTEGER) AS width,
       CAST((doc_id % 9) * 64 + 64 AS INTEGER) AS height
FROM documents
""",
)
def q_mm_meta(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    t = with_binary_payload(d)
    return t.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.col("media_meta.fmt").alias("fmt"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )


@query(
    "q_mm_decode",
    oracle=f"""
SELECT doc_id,
       CAST(16 AS INTEGER) AS n_bytes,
       CAST({_byte_sql(0)} AS INTEGER) AS b0,
       CAST({_byte_sql(1)} AS INTEGER) AS b1,
       CAST({_byte_sql(0)} + {_byte_sql(1)} AS DOUBLE) / 2 AS luma
FROM documents
""",
)
def q_mm_decode(spark, sf_dir):
    # Real Arrow/mapInPandas decode path (stubbed codec, deterministic
    # features) — the oracle recomputes the bytes from md5 hex in SQL.
    d = load_tables(spark, sf_dir)["documents"]
    return decode_features(with_binary_payload(d))


@query(
    "q_mm_frames",
    oracle="""
WITH t AS (
  SELECT doc_id, CAST(doc_id % 5 + 1 AS INTEGER) AS n_frames FROM documents WHERE doc_id < 100
)
SELECT doc_id, CAST(u AS INTEGER) AS frame_id,
       CAST(u AS BIGINT) * 40000 AS frame_ts_us
FROM t, unnest(generate_series(0, n_frames - 1)) AS g(u)
""",
)
def q_mm_frames(spark, sf_dir):
    # Frame-sampling plumbing for video-shaped payloads: one row per sampled
    # frame with its timestamp (25 fps → 40 ms). Decode itself is stubbed.
    d = load_tables(spark, sf_dir)["documents"]
    t = d.filter(F.col("doc_id") < 100).select(
        "doc_id", ((F.col("doc_id") % 5) + 1).cast("int").alias("n_frames")
    )
    return t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_id"),
    ).select(
        "doc_id",
        F.col("frame_id").cast("int").alias("frame_id"),
        (F.col("frame_id").cast("long") * 40000).alias("frame_ts_us"),
    )


@query(
    "q_mm_features",
    oracle="""
SELECT doc_id, CAST(16 AS INTEGER) AS n_bytes,
       to_json(list_transform(generate_series(0, 15),
         b -> len(list_filter(generate_series(0, 15),
           i -> substring(md5(text), CAST(2 * i + 1 AS INTEGER), 1)
                = substring('0123456789abcdef', CAST(b + 1 AS INTEGER), 1))))) AS hist
FROM documents
WHERE doc_id < 200
""",
)
def q_mm_features(spark, sf_dir):
    # Vector-valued feature extraction through real mapInPandas plumbing: a
    # 16-bin byte histogram per payload (the embedding/MFCC shape with a stub
    # extractor), JSON-serialized at the boundary. The oracle rebuilds the
    # same histogram from md5 hex nibbles in pure SQL, so the Arrow
    # round-trip of an array-shaped feature is value-checked end to end.
    from pkg2_spark.operators.multimodal import histogram_features

    d = load_tables(spark, sf_dir)["documents"]
    return histogram_features(with_binary_payload(d.filter(F.col("doc_id") < 200)))


@query(
    "q_mm_resize",
    oracle="""
SELECT doc_id,
       CAST(((doc_id % 16) * 64 + 64) // 2 AS INTEGER) AS out_w,
       CAST(((doc_id % 9) * 64 + 64) // 2 AS INTEGER) AS out_h,
       substring(md5(text), 1, 8) AS out_hex
FROM documents
""",
)
def q_mm_resize(spark, sf_dir):
    # Resize stub through real mapInPandas plumbing: meta dims halved,
    # payload truncated to a quarter (16-byte md5 payload -> 4 bytes -> 8 hex
    # chars) — the oracle reconstructs both in pure SQL, so the Arrow
    # round-trip is value-checked even though the codec is fake.
    from pkg2_spark.operators.multimodal import resize_features

    d = load_tables(spark, sf_dir)["documents"]
    return resize_features(with_binary_payload(d))


def _phash_sql(src: str) -> str:
    """16-bit perceptual-hash from 16 payload bytes (bit i = byte i > 127),
    as engine-shared SQL over a lowercase hex string expression — instr()
    and substring() behave identically in Spark SQL and DuckDB."""
    terms = []
    for i in range(16):
        hi = f"(instr('0123456789abcdef', substring({src}, {2 * i + 1}, 1)) - 1)"
        lo = f"(instr('0123456789abcdef', substring({src}, {2 * i + 2}, 1)) - 1)"
        terms.append(f"(CAST(({hi} * 16 + {lo}) > 127 AS INTEGER) * {1 << i})")
    return " + ".join(terms)


@query(
    "q_mm_phash_dup",
    oracle=f"""
WITH p AS (
  SELECT doc_id, ({_phash_sql("md5(text)")}) AS phash FROM documents
),
c AS (
  SELECT doc_id, phash, 0 AS chunk_id, phash % 256 AS chunk_val FROM p
  UNION ALL
  SELECT doc_id, phash, 1 AS chunk_id, phash // 256 AS chunk_val FROM p
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.phash AS pa, b.doc_id AS doc_b, b.phash AS pb
  FROM c a JOIN c b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= 1
""",
)
def q_mm_phash_dup(spark, sf_dir):
    """Perceptual-hash near-dup detection over the BINARY media column —
    the image-dedup step of a multimodal pipeline: derive a 16-bit pHash
    from the payload bytes (bit per byte > 127; on real media these are
    DCT coefficients, here the deterministic stub bytes), block candidate
    pairs by pHash half (pigeonhole: Hamming <= 1 implies one identical
    half — COMPLETE blocking, the q_llm_simhash_dup idiom applied to
    media), and verify exact Hamming via bit_count(xor).

    The pHash computes JVM-side from hex(payload) — the binary column
    round-trips through hex so no Python touches the pairing path; the
    oracle rebuilds identical bytes from md5(text) (the payload's
    generator). Blocking key cardinality is 256 per half — on real
    corpora use 64-bit pHashes with k+1 chunks for Hamming <= k.

    The halves are a two-band table that carries its key vector, so
    operators/lsh.py::banded_pairs emits each pair once, at its lowest
    shared half, with no pair-keyed distinct (1 → 0 shuffle Exchanges,
    3 → 2 collect jobs at sf0.01). This query keeps only the verify step."""
    from pkg2_spark.operators.lsh import banded_pairs

    d = load_tables(spark, sf_dir)["documents"]
    t = with_binary_payload(d)
    hexp = "lower(hex(payload))"
    p = t.select("doc_id", F.expr(_phash_sql(hexp)).alias("phash"))
    halves = F.array(F.col("phash") % 256, (F.col("phash") / F.lit(256)).cast("int"))
    bands = p.select(
        "doc_id",
        "phash",
        halves.alias("band_keys"),
        F.posexplode(halves).alias("band_id", "band_key"),
    )
    hamming = F.bit_count(F.expr("phash_a ^ phash_b"))
    return (
        banded_pairs(bands, "doc_id", "doc_a", "doc_b", carry=("phash",))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 1)
    )
