"""SURVEY.md §2.9 — LLM-data-pipeline operators (required by BASELINE.json:6).

Dedup (exact / MinHash+LSH / SimHash / Jaccard / embedding), similarity
search (brute-force + IVF), text analysis (tokens, TF-IDF, n-grams, language
ID, quality scoring, fingerprinting). All are shuffle-friendly DataFrame
pipelines over built-in expressions — nothing materializes per-node state
that grows with corpus size, so every operator survives a 100 TB corpus:

- exact dedup / MinHash: one hash-aggregate per doc (map-side combine).
- LSH banding: pair discovery via equi-join on band keys — O(candidates),
  never O(n²).
- brute-force ANN: probes × corpus linear scan (the correctness baseline);
  IVF variant prunes to one centroid cell per probe.
- TF-IDF / language-ID: token explode → hash partition by token; the heavy
  join is token-keyed, the doc-count side is a broadcast scalar.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Window

from pkg2_spark.catalog import load_tables
from pkg2_spark.operators.lsh import banded_pairs, capped_bands_sql
from pkg2_spark.operators.sampling import hash_sample, hash_split
from pkg2_spark.operators.similarity import cosine4, cosine_pairs_wide, knn_bruteforce
from pkg2_spark.operators.text import (
    band_key_expr,
    lsh_bands,
    minhash_signatures,
    rolling_fingerprint,
    simhash16,
    tokenize,
    tokenize_distinct,
    tokens_col,
)
from pkg2_spark.registry import QUERIES, query
from pkg2_spark.session import (
    drop_session_memo,
    fan_out_scan,
    plan_memo,
    truncate_lineage,
)

_K = 8  # MinHash signature length
_BANDS_R = 4  # rows per LSH band (b=2, r=4: the synthetic corpus has a tiny
# vocabulary, so looser bands collide on nearly every pair)

_TOK_SQL = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

# Hot-bucket guard for every LSH pair-discovery join (operators/lsh.py):
# at most this many md5-ranked members of one (band_id, band_key) bucket
# participate in pair generation, bounding a bucket's pair contribution to
# cap·(cap-1)/2 no matter how saturated the band gets (boilerplate-heavy
# corpora saturate bands as the NORM at 100 TB — VERDICT.md round 4 #2).
_BUCKET_CAP = 64

# Sign-LSH band table over the embeddings, mirrored bit-identically by
# operators/similarity.py::sign_lsh_bands (8 bands × 8 sign bits; exact
# float comparisons so band membership matches across engines).
_SIGN_BANDS_SQL = """bands AS (
  SELECT vec_id, g.b AS band_id,
         list_aggregate(list_transform(generate_series(1, 8),
           i -> CAST(embedding[CAST(g.b * 8 + i AS INTEGER)] > 0 AS VARCHAR)),
           'string_agg', '') AS band_key
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) g
)"""


def _sign_cand_sql() -> str:
    """bands → capped bands → distinct candidate pairs, the oracle mirror of
    sign_lsh_bands + operators/lsh.py::banded_pairs(cap=_BUCKET_CAP)."""
    return f"""{_SIGN_BANDS_SQL},
{capped_bands_sql("vec_id", _BUCKET_CAP)},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cbands a JOIN cbands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)"""


@query(
    "q_llm_dedup_exact",
    oracle="""
SELECT md5(lower(trim(text))) AS content_hash,
       min(doc_id) AS keeper_doc,
       count(*) AS n_copies
FROM documents
GROUP BY content_hash
""",
)
def q_llm_dedup_exact(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.select(F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc"), F.count(F.lit(1)).alias("n_copies"))
    )


def _minhash_oracle() -> str:
    mh = ",\n  ".join(
        f"min(md5(token || ':{i}')) AS mh{i}" for i in range(_K)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS token
  FROM documents
)
SELECT doc_id,
  {mh}
FROM tok
GROUP BY doc_id
"""


@query("q_llm_minhash", oracle=_minhash_oracle())
def q_llm_minhash(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    return minhash_signatures(tokenize_distinct(d), _K)


def _bands_cte() -> str:
    band_exprs = ", ".join(
        "md5({})".format(
            " || '|' || ".join(f"mh{b * _BANDS_R + r}" for r in range(_BANDS_R))
        )
        for b in range(_K // _BANDS_R)
    )
    return f"""
sig AS ({_minhash_oracle().strip()}),
bands AS (
  SELECT doc_id, u.band_id, u.band_key FROM (
    SELECT doc_id,
           unnest(list_transform([{band_exprs}],
                  (x, i) -> struct_pack(band_id := CAST(i - 1 AS INTEGER), band_key := x))) AS u
    FROM sig
  )
)"""


@query(
    "q_llm_neardup_pairs",
    oracle=f"""
WITH {_bands_cte()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, count(*) AS n_candidates, min(doc_b) AS min_cand, max(doc_b) AS max_cand
FROM pairs GROUP BY doc_a
""",
)
def q_llm_neardup_pairs(spark, sf_dir):
    # LSH candidate discovery: docs sharing any (band_id, band_key) bucket.
    # Output is the per-doc candidate degree (the raw pair set is quadratic
    # on this tiny-vocab synthetic corpus; q_llm_jaccard emits raw pairs).
    #
    # r14 (guide §2.5 skew / §1.2 fix the algorithm): the declared result is
    # a per-doc AGGREGATE of the distinct pair set, so the quadratic pair
    # materialization can be avoided entirely. With b = 2 bands the distinct
    # candidate degree follows from inclusion-exclusion over per-bucket
    # window counts — for each doc, partners-with-larger-id sharing band 0
    # plus those sharing band 1, minus those sharing BOTH (= same full
    # signature group); min/max partner need no dedup at all (min/max over a
    # multiset union). Every term is an O(m log m) sort per bucket instead
    # of O(m²) emitted pairs: the sweep corpus's two ~2.4k-member hot
    # buckets were emitting ~5.6M pairs on ONE AQE-coalesced task. The
    # module constants fix b = 2 (_K // _BANDS_R), which this
    # inclusion-exclusion relies on.
    d = load_tables(spark, sf_dir)["documents"]
    sig = minhash_signatures(tokenize_distinct(d), _K)
    bands = lsh_bands(sig, _K, _BANDS_R)
    w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    w_after = w.rowsBetween(1, Window.unboundedFollowing)
    bucket = Window.partitionBy("band_id", "band_key")
    per_band = bands.select(
        "doc_id",
        F.count(F.lit(1)).over(w_after).alias("_gt"),
        F.lead("doc_id").over(w).alias("_next"),
        F.max("doc_id").over(bucket).alias("_bmax"),
    ).select(
        "doc_id",
        "_gt",
        "_next",
        F.when(F.col("_bmax") > F.col("doc_id"), F.col("_bmax")).alias("_maxgt"),
    )
    per_doc = per_band.groupBy("doc_id").agg(
        F.sum("_gt").alias("_cnt_ab"),
        F.min("_next").alias("min_cand"),
        F.max("_maxgt").alias("max_cand"),
    )
    # Partners sharing BOTH bands = same (band0_key, band1_key) signature
    # group: the double-counted term of the inclusion-exclusion.
    # Shared key derivation (operators/text.py::band_key_expr) — the same
    # expression lsh_bands uses, so the "both bands" signature group can't
    # desynchronize from the band equi-join semantics (ADVICE r14).
    both_key = [band_key_expr(b, _BANDS_R).alias(f"_k{b}") for b in range(2)]
    wb = Window.partitionBy("_k0", "_k1").orderBy("doc_id")
    both = sig.select("doc_id", *both_key).select(
        "doc_id",
        F.count(F.lit(1))
        .over(wb.rowsBetween(1, Window.unboundedFollowing))
        .alias("_cnt_both"),
    )
    return (
        per_doc.join(both, "doc_id")
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("_cnt_ab") - F.col("_cnt_both")).alias("n_candidates"),
            "min_cand",
            "max_cand",
        )
        .filter(F.col("n_candidates") > 0)
    )


@query(
    "q_llm_cossim",
    oracle="""
SELECT id_a, id_b, cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 4) AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos >= 0.3
""",
)
def q_llm_cossim(spark, sf_dir):
    # Label-banded pair space (coarse blocking) → cosine in double precision.
    # Wide (unpacked-column) form: the dot product runs in whole-stage
    # codegen instead of interpreted lambda HOFs — same summation order, so
    # results are bit-identical to the fold form and to DuckDB's loop.
    from pkg2_spark.operators.similarity import cosine_pairs_wide

    e = load_tables(spark, sf_dir)["embeddings"]
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label").alias("la"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb"), F.col("embedding").alias("eb"))
    pairs = cosine_pairs_wide(
        a, b, (F.col("la") == F.col("lb")) & (F.col("id_a") < F.col("id_b")), dim=64
    )
    return pairs.select("id_a", "id_b", "cos").filter(F.col("cos") >= 0.3)


@query(
    "q_llm_knn",
    oracle="""
WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT probe_id, vec_id,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])), 4) AS cos
  FROM probes CROSS JOIN embeddings
  WHERE vec_id <> probe_id
)
SELECT probe_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS LAST
  ) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def q_llm_knn(spark, sf_dir):
    e = load_tables(spark, sf_dir)["embeddings"]
    probes = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_embedding")
    )
    return knn_bruteforce(e.select("vec_id", "embedding"), probes, k=5, dim=64)


@query(
    "q_llm_tokens",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS token FROM documents)
SELECT token, count(*) AS tf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM tok
GROUP BY token
HAVING count(*) >= 5
""",
)
def q_llm_tokens(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    return (
        tokenize(d)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .filter(F.col("tf") >= 5)
    )


@query(
    "q_llm_tfidf",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf, df.df,
       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
WHERE tf.doc_id < 50
""",
)
def q_llm_tfidf(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    tok = tokenize(d)
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.filter(F.col("doc_id") < 50)
        .join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


@query(
    "q_llm_ngrams",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents WHERE doc_id < 50
),
g AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)] || ' ' || toks[CAST(i + 2 AS INTEGER)])) AS ngram
  FROM t WHERE len(toks) >= 3
)
SELECT ngram, count(*) AS n FROM g GROUP BY ngram
""",
)
def q_llm_ngrams(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    toks = tokens_col()
    t = d.filter(F.col("doc_id") < 50).select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 3
    )
    tri = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        ),
    )
    return (
        t.select(F.explode(tri).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_llm_langstats",
    oracle="""
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang, source
""",
)
def q_llm_langstats(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]


@query(
    "q_llm_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, n_chars, {_TOK_SQL} AS toks
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 4) AS avg_tok_len,
       round(CAST(list_sum(list_transform(toks,
             x -> CASE WHEN x IN ({", ".join(repr(s) for s in _STOPWORDS)}) THEN 1 ELSE 0 END)) AS DOUBLE)
             / len(toks), 4) AS stopword_ratio,
       round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars, 4) AS alpha_ratio,
       (len(toks) BETWEEN 5 AND 1000) AND
         (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars > 0.5) AS passes
FROM t
""",
)
def q_llm_quality(spark, sf_dir):
    # Heuristic quality scoring: token stats, stopword ratio, character-class
    # ratio, and a pass/fail gate — the standard pretraining-corpus filters.
    d = load_tables(spark, sf_dir)["documents"]
    t = d.filter(F.col("doc_id") < 200).select(
        "doc_id", "text", "n_chars", tokens_col().alias("toks")
    )
    tok_lens = F.aggregate(
        F.transform("toks", lambda x: F.length(x).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x
    )
    n_stop = F.aggregate(
        F.transform("toks", lambda x: F.when(x.isin(_STOPWORDS), 1).otherwise(0).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    alpha = F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double") / F.col("n_chars")
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(tok_lens.cast("double") / F.size("toks"), 4).alias("avg_tok_len"),
        F.round(n_stop.cast("double") / F.size("toks"), 4).alias("stopword_ratio"),
        F.round(alpha, 4).alias("alpha_ratio"),
        (F.size("toks").between(5, 1000) & (alpha > 0.5)).alias("passes"),
    )


@query(
    "q_llm_embed_col",
    oracle="""
SELECT d.doc_id, d.lang, e.label,
       CAST(len(e.embedding) AS INTEGER) AS dim,
       round(sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                     CAST(e.embedding AS DOUBLE[]))), 4) AS l2_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def q_llm_embed_col(spark, sf_dir):
    # "Multimodal column" pattern: attach a vector column to a text table and
    # compute over it with higher-order functions — no Python in the path.
    from pkg2_spark.operators.similarity import norm

    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .join(t["embeddings"], F.col("doc_id") == F.col("vec_id"))
        .select(
            "doc_id",
            "lang",
            "label",
            F.size("embedding").alias("dim"),
            F.round(norm(F.col("embedding")), 4).alias("l2_norm"),
        )
    )


@query(
    "q_llm_simhash",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS token FROM documents
),
h AS (SELECT doc_id, md5(token) AS h FROM tok),
bits AS (
  SELECT doc_id, g.i,
         CASE WHEN instr('0123456789abcdef', substring(h, g.i + 1, 1)) - 1 >= 8
              THEN 1 ELSE -1 END AS w
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
),
s AS (SELECT doc_id, i, CAST(sum(w) AS BIGINT) AS s FROM bits GROUP BY doc_id, i)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id
""",
)
def q_llm_simhash(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    return simhash16(tokenize_distinct(d))


def _simhash_cte() -> str:
    return f"""
tok AS (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS token FROM documents
),
h AS (SELECT doc_id, md5(token) AS h FROM tok),
bits AS (
  SELECT doc_id, g.i,
         CASE WHEN instr('0123456789abcdef', substring(h, g.i + 1, 1)) - 1 >= 8
              THEN 1 ELSE -1 END AS w
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
),
sums AS (SELECT doc_id, i, CAST(sum(w) AS BIGINT) AS s FROM bits GROUP BY doc_id, i),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
)"""


@query(
    "q_llm_simhash_dup",
    oracle=f"""
WITH {_simhash_cte()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
""",
)
def q_llm_simhash_dup(spark, sf_dir):
    """SimHash near-dup pairing: all pairs within Hamming distance 1 of the
    16-bit signature — COMPLETE by construction: the signature is split
    into two 8-bit halves and pairs are discovered through an equi-join on
    (half_id, half_value); a pair differing in ≤1 bit differs in at most
    one half, so it must share the other half exactly (pigeonhole). The
    oracle brute-forces all pairs, so a hash-match proves the blocked scan
    found every qualifying pair. At scale: k+1 chunks find distance ≤ k,
    and the join stays chunk-keyed — never all-pairs.

    r14: a pair can match in BOTH halves (hamming 0); instead of a
    .distinct() over the full pair stream (a second corpus-pair-sized
    shuffle — the widest exchange in the old plan), each pair is emitted
    exactly once by a row-local rule: keep the half-0 match, and keep a
    half-1 match only when the halves-0 differ (3.5 → 1.5 s at sf0.1,
    identical output)."""
    d = load_tables(spark, sf_dir)["documents"]
    sig = simhash16(tokenize_distinct(d))
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(F.col("simhash") % 256, (F.col("simhash") / 256).cast("long"))
        ).alias("half_id", "half_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "half_id", "half_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sb"),
        F.col("half_id").alias("hid2"),
        F.col("half_val").alias("hval2"),
    )
    return (
        a.join(
            b,
            (F.col("half_id") == F.col("hid2"))
            & (F.col("half_val") == F.col("hval2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select(
            "doc_a",
            "doc_b",
            "sa",
            "sb",
            "half_id",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 1)
        .filter((F.col("half_id") == 0) | (F.col("sa") % 256 != F.col("sb") % 256))
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "q_llm_jaccard",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, list_distinct({_TOK_SQL}) AS toks FROM documents
),
scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS ni,
         len(a.toks) AS la, len(b.toks) AS lb
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(ni AS INTEGER) AS n_common,
       round(CAST(ni AS DOUBLE) / (la + lb - ni), 4) AS jaccard
FROM scored WHERE ni > 0
""",
)
def q_llm_jaccard(spark, sf_dir):
    # Token-set Jaccard over source-blocked pairs (blocking keeps the pair
    # space linear per block; full-corpus pairing at scale goes through LSH).
    # Pair overlap comes from blocked_token_pairs (r14): probe-side fan-out
    # + one array_intersect per pair — 11.4 s → 1.4 s at sf0.1.
    from pkg2_spark.operators.text import blocked_token_pairs

    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", "source", F.array_distinct(tokens_col()).alias("toks"))
    m = blocked_token_pairs(t)
    return m.select(
        "doc_a",
        "doc_b",
        F.col("ni").alias("n_common"),
        F.round(F.col("ni").cast("double") / (F.col("la") + F.col("lb") - F.col("ni")), 4).alias(
            "jaccard"
        ),
    ).filter(F.col("n_common") > 0)


_NEARDUP_BLOCKS = 8  # pair-space shards: B*(B+1)/2 = 36 evenly-sized tasks


@query(
    "q_llm_embed_neardup",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cos DESC NULLS LAST, id_a ASC NULLS LAST, id_b ASC NULLS LAST
LIMIT 50
""",
)
def q_llm_embed_neardup(spark, sf_dir):
    """EXACT global top-50 pairs by cosine, block-sharded.

    Exact top-k over all pairs is inherently O(n²) scoring — on THIS corpus
    no candidate filter can prune it: the 50th-best pair has cos 0.4065
    (measured at sf0.01), barely above the ~0 background, so any LSH/IVF
    candidate set either misses true top-50 members or keeps ~everything.
    What CAN scale is the plan shape: round 1 used a BroadcastNestedLoopJoin
    over all id-pairs (driver broadcast, one giant task). Here each vector is
    replicated to its block-pair keys (B=8 → 36 shards of the pair triangle)
    and the pair stage is an EQUI-join on (bi, bj) — shuffle-partitioned,
    work spread evenly, no broadcast of a full side, no NLJ. Each unordered
    pair meets exactly once: cross-block pairs at key (min_blk, max_blk) with
    roles fixed by block; same-block pairs are halved by id order. The
    approximate scale path (when semantics allow missing pairs) is
    q_llm_cossim_lsh. r14: both sides fan out the one-row-group scan
    (session.fan_out_scan) before the block explode + 64-column unpack —
    that pre-shuffle work ran on ONE task and gated the whole pair stage
    (6.3 → 1.1 s at sf0.1; a no-op on any multi-split input)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    nb = _NEARDUP_BLOCKS
    a = (
        fan_out_scan(e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")))
        .withColumn("bi", (F.col("id_a") % nb).cast("int"))
        .withColumn("bj", F.explode(F.sequence(F.col("bi"), F.lit(nb - 1))))
    )
    b = (
        fan_out_scan(e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")))
        .withColumn("bj2", (F.col("id_b") % nb).cast("int"))
        .withColumn("bi2", F.explode(F.sequence(F.lit(0), F.col("bj2"))))
    )
    pairs = cosine_pairs_wide(
        a,
        b,
        (F.col("bi") == F.col("bi2"))
        & (F.col("bj") == F.col("bj2"))
        & ((F.col("bi") != F.col("bj")) | (F.col("id_a") < F.col("id_b"))),
        dim=64,
        broadcast_right=False,
    )
    return (
        pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cos",
        )
        .orderBy(
            F.col("cos").desc_nulls_last(),
            F.col("id_a").asc_nulls_last(),
            F.col("id_b").asc_nulls_last(),
        )
        .limit(50)
    )


# DATA-DERIVED THREE-LEVEL IVF codebook. Lineage of the formula: one-level
# k = clamp(16, 4096, n/256) pegged at 4096 past n ≈ 1M (cells then grow
# linearly — r6 watch item); two-level k1 = k2 = √(n/256) removed the
# ceiling but its n·(k1+k2) = Θ(n^1.5/16) assignment term measured as
# 11.7–12.1× per-decade tails in the second decade of the scale probe
# (r7 watch item). The three-level tree cuts that term to Θ(n^{4/3}):
#
#   m  = n // 256            (target final-cell count, integer)
#   k1 = max(2, icbrt(m))    md5-hash-sampled level-1 centroids
#
# Level 1: k1 centroids, ALWAYS broadcast (k1 = m^{1/3} ≈ 1.6k rows even
# at n = 10^12), one wide-codegen pass over n·k1 scored rows. Levels 2/3
# use PROPORTIONAL allocation (round 9 — the fixed per-parent k of r8 let
# final cells inherit parent skew: max 11295 vs mean 1133 at the sf100
# probe): each parent cell gets ~cell_size/target md5-ranked member seeds
# (target t2 = 256·k1 at level 2, 256 at level 3), so a parent twice the
# size gets twice the children and the EXPECTED child size is the target
# at every n. The level-3 seed assignment is then Lloyd-REFINED once
# (assign members to seeds → recenter each seed cell as the
# per-dimension integer-micro mean, the q_llm_ivf_refine dataflow →
# re-assign against the refined codebook): hash-sampled member seeds do
# not balance dense regions; the recentered means do measurably better
# and are the codebook a production deployment would keep iterating.
# Residual imbalance (a genuinely dense region nearest ONE centroid —
# no centroid scheme can split what cosine cannot distinguish) is
# bounded DETERMINISTICALLY by an occupancy cap: a final cell holding
# > 2·256 members is md5-slot-split into ~cell/256 slots
# (slot = hex32(md5(vec_id)) mod slots — engine-portable, key-stable,
# shuffle-free), so max final cell ≤ ~1.5× target REGARDLESS of data
# geometry — the posting-list cap every production IVF deploys. Final
# cid = quantizer_cell_id (the refined centroid's seed vec_id, globally
# unique) × 32768 + slot; quantizer cell = cid div 32768.
#
# Levels 2/3 join their codebook to the members on the PARENT cell id:
# broadcast while the codebook is small (≤ _IVF_BCAST_ROWS — at mid
# scale the parent-key count is tiny, so a key-partitioned shuffle would
# cap parallelism at the key count), shuffling equi-join once it
# outgrows the hint (by then there are ≥ √_IVF_BCAST_ROWS keys — enough
# partitions for any cluster). Assignment cost stays n·(k1+k2+k3+k3) ≈
# 4n·(n/256)^{1/3} (one extra level-3 pass for the Lloyd re-assignment);
# the recenter is one map-combinable (cell, dim)-keyed hash agg. icbrt
# is EXACT in both engines: a pow(m, 1/3) seed corrected by integer cube
# comparisons (pow is within 1 ulp ≪ 0.5 absolute at these magnitudes,
# and the correction is pure integer arithmetic — no reliance on libm
# rounding).
_IVF_TARGET_CELL = 256
_IVF_BCAST_ROWS = 65536
_IVF_SLOT_BASE = 32768  # final cid = quantizer_cell_id * base + slot
_IVF_M_SQL = f"(SELECT count(*) // {_IVF_TARGET_CELL} FROM embeddings)"
_IVF_K12_SQL = (
    "(SELECT GREATEST(2, CASE WHEN (c+1)*(c+1)*(c+1) <= m THEN c+1 "
    "WHEN c*c*c <= m THEN c ELSE c-1 END) "
    "FROM (SELECT m, CAST(round(pow(m, 1.0/3.0)) AS BIGINT) AS c "
    f"FROM (SELECT {_IVF_M_SQL} AS m)))"
)
# level-2 seed target: t2 = 256·k1 members per level-2 cell
_IVF_T2_SQL = f"({_IVF_TARGET_CELL} * {_IVF_K12_SQL})"


def _icbrt(m: int) -> int:
    """Exact integer cube root (floor) — pow-seeded, cube-corrected; the
    Python twin of the _IVF_K12_SQL arithmetic."""
    c = round(m ** (1.0 / 3.0)) if m > 0 else 0
    if (c + 1) ** 3 <= m:
        return c + 1
    if c**3 <= m:
        return c
    return c - 1


def ivf_invalidate() -> None:
    """Drop every memoized quantizer artifact (ks, trees and cell-slot
    maps, every session) to release their checkpointed frames: benchmark
    isolation, corpus replaced."""
    drop_session_memo("ivf_ks", "ivf_tree", "ivf_cellslots")


def _ivf_ks(e) -> tuple[int, int]:
    """(k12, k3) for the corpus — one count job per (session, corpus).
    k12 sizes the level-1 codebook and the level-2 seed target; k3 is the
    LEGACY fixed-allocation per-parent count, retained as the expected
    children-per-level-2-cell figure for probes/tests (actual level-2/3
    allocation is proportional to cell size — see _sub_centroids). Its
    own entry, apart from the tree: q_llm_ivf_refine needs k alone."""

    def count():
        m = e.count() // _IVF_TARGET_CELL
        k12 = max(2, _icbrt(m))
        return k12, max(2, m // (k12 * k12))

    return plan_memo(e, "ivf_ks", count)


def _ivf_k(e) -> int:
    """Per-level k for levels 1/2 (probe + test surface)."""
    return _ivf_ks(e)[0]


# Three-level quantizer — the coarse-quantization stage shared by IVF
# search (q_llm_ann_ivf / q_llm_ann_recall / q_llm_ann_mprobe), the IVFADC
# composite (q_vec_ivfpq), incremental maintenance (q_vec_ivf_incr), and
# cluster-blocked semantic dedup (q_llm_semdedup). Structure (see the
# module design block above): md5-sampled level-1 codebook → proportional
# member-seed levels 2/3 → ONE Lloyd refinement of the level-3 codebook →
# md5-slot occupancy cap. `assign` exposes the FINAL (vec_id, embedding,
# cid) labeling with cid = refined-centroid-seed vec_id × 32768 + slot;
# `cent3` carries the REFINED level-3 codebook (c3id = parent level-2
# cell, sscid = quantizer cell id, ssemb = refined centroid, DOUBLE[]);
# `cellslots` maps quantizer cell → slot count (1 unless occupancy-capped)
# so downstream CTEs can route probes to a slot.
_IVF_ASSIGN_CTE = f"""cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
  QUALIFY row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC NULLS LAST, vec_id ASC NULLS LAST
  ) <= {_IVF_K12_SQL}
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
  ) WHERE rn <= GREATEST(1, (n + {_IVF_T2_SQL} // 2) // {_IVF_T2_SQL})
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
  ) WHERE rn <= GREATEST(1, (n + {_IVF_TARGET_CELL // 2}) // {_IVF_TARGET_CELL})
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
  FROM q3 CROSS JOIN generate_series(1, 64) AS i(i)
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
         CASE WHEN count(*) <= {2 * _IVF_TARGET_CELL} THEN 1
              ELSE LEAST({_IVF_SLOT_BASE - 1},
                         (count(*) + {_IVF_TARGET_CELL // 2}) // {_IVF_TARGET_CELL})
         END AS slots
  FROM assign0 GROUP BY qcid
),
assign AS (
  SELECT a.vec_id, a.embedding,
         a.qcid * {_IVF_SLOT_BASE} + CASE WHEN s.slots = 1 THEN 0
           ELSE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))::BIGINT % s.slots
         END AS cid
  FROM assign0 a JOIN cellslots s USING (qcid)
)"""


@query(
    "q_llm_ann_ivf",
    oracle=f"""
WITH {_IVF_ASSIGN_CTE},
probes AS (
  SELECT vec_id AS probe_id, embedding AS pe, cid AS pcid FROM assign WHERE vec_id < 5
)
SELECT probe_id, pcid AS cell, vec_id,
       round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[])), 4) AS cos
FROM probes JOIN assign ON assign.cid = probes.pcid AND assign.vec_id <> probes.probe_id
QUALIFY row_number() OVER (
  PARTITION BY probe_id ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS LAST
) <= 5
""",
)
def q_llm_ann_ivf(spark, sf_dir):
    """IVF-style ANN: coarse-quantize with the three-level tree whose size
    is DERIVED from the corpus (k1 = icbrt(n/256) md5-sampled level-1
    centroids; levels 2/3 allocate ~cell/target member seeds per parent;
    the level-3 codebook is Lloyd-refined once and oversized cells are
    md5-slot-capped — see the module design block), search only the
    probe's final cell. The scale path for similarity search: assignment
    is O(n·(k1+k2+2·k3)) = O(n^{4/3}) total; MEAN final cell ≈ 256 at
    every n by proportional allocation and MAX final cell ≤ ~1.5× target
    by the occupancy cap (r9 probe: max/mean 18.2 → 2.25 at sf10), and
    the ranking join is centroid-keyed, not a cross join."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return _ivf_search(e)


def _ivf_centroids(e):
    """The derived-k md5-ranked LEVEL-1 centroid sample (cid, cemb) — the
    broadcastable top of the tree codebook (k1 = max(2, icbrt(n/256)))."""
    return (
        e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
        .orderBy(
            F.md5(F.col("cid").cast("string")).asc_nulls_last(),
            F.col("cid").asc_nulls_last(),
        )
        .limit(_ivf_k(e))
    )


def _nearest_wide(vecs, cands, out_id: str, cand_id: str, cand_vec: str,
                  join_on=None, dim: int = 64, key: str = "vec_id",
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
    join on the PARENT cell id. For keyed joins, ``broadcast_cands``
    hints a broadcast — the caller gates it on codebook size
    (_IVF_BCAST_ROWS): at mid scale the parent-key count (k1 or k1·k2)
    is far below the cluster's task slots, so a shuffling equi-join
    would cap parallelism at the key count, while the codebook is only
    KBs; once the codebook outgrows the hint the equi-join takes over
    with >= sqrt(_IVF_BCAST_ROWS) keys — enough partitions at any n.

    The argmax aggregates on ``key`` ALONE — a narrow unique long — and
    returns just (key, out_id); callers re-join any wide payload on the
    key. Grouping must stay HashAggregate-able: carrying the embedding
    array in the grouping key demotes the plan to SortAggregate (arrays
    are not hash-agg key types), i.e. TWO full sorts of the n·k scored
    rows with an array comparator — measured 4x the cost of the scoring
    itself at the sf10 probe scale (13 s vs ~3 s for level 1)."""
    from pkg2_spark.operators.similarity import unpack, wide_dot, wide_norm

    ve = vecs.selectExpr(
        key, *([join_on] if join_on else []), *unpack("embedding", dim, "_v")
    ).withColumn("_nv", wide_norm("_v", dim))
    cand_cols = [cand_id] + ([f"{join_on} AS _jk"] if join_on else [])
    ce = cands.selectExpr(*cand_cols, *unpack(cand_vec, dim, "_c")).withColumn(
        "_nc", wide_norm("_c", dim)
    )
    cos = F.round(wide_dot("_v", "_c", dim) / (F.col("_nv") * F.col("_nc")), 4)
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


def _ivf_tree(e):
    """The three-level quantizer pipeline, MEMOIZED per (session, corpus):
    (cents, assign1, cent2, assign2, cent3, assign); see _build_ivf_index."""
    return _ivf_index(e)[0]


def _ivf_index(e):
    """(tree, (level-2, level-3) codebook sizes) for the corpus: one
    session.plan_memo entry, so a failed build stores nothing."""
    return plan_memo(e, "ivf_tree", lambda: _build_ivf_index(e))


def _ivf_slots():
    """Occupancy-cap slot count of a quantizer cell holding `_cn` members:
    1 up to 2× target, else ~_cn/target (at most _IVF_SLOT_BASE - 1)."""
    c = _IVF_TARGET_CELL
    return F.when(F.col("_cn") <= 2 * c, F.lit(1)).otherwise(
        F.least(
            F.lit(_IVF_SLOT_BASE - 1),
            F.expr(f"(_cn + {c // 2}) div {c}"),
        )
    ).cast("long")


def _build_ivf_index(e):
    """Builds the _ivf_index pair. The tree is
    (cents, assign1, cent2, assign2, cent3, assign) where `cent3`
    is the Lloyd-REFINED level-3 codebook (c3id = parent level-2 cell,
    sscid = quantizer cell id, ssemb = refined centroid as array<double>)
    and `assign` carries the FINAL (vec_id, embedding, cid) labeling with
    cid = sscid × _IVF_SLOT_BASE + occupancy slot (see the module design
    block: proportional seed allocation → one Lloyd step → md5-slot cap).

    Level 1 is the broadcast k1-codebook argmax; levels 2/3 allocate
    ~cell/target md5-ranked member seeds per parent and re-assign members
    within their cell via the parent-keyed join (broadcast while the
    codebook is ≤ _IVF_BCAST_ROWS — see _nearest_wide; gated on the
    COUNTED codebook size since allocation is data-proportional). The
    level-3 seed assignment is recentered once (integer-micro means — the
    q_llm_ivf_refine dataflow, exact under any partition summation order)
    and members re-assigned against the refined codebook; cells above
    2× target are md5-slot-split so max final cell is bounded at ~1.5×
    target regardless of data geometry. Each corpus-sized frame's lineage is
    truncated (session.truncate_lineage — localCheckpoint locally,
    reliable checkpoint when a dir is set), and through the memo
    ann_ivf / ann_recall / ann_mprobe / ann_tune / semdedup / ivfpq /
    ivf_incr over the same corpus in a session share ONE construction
    instead of each re-paying the n·(k1+k2+2·k3) scoring passes."""
    k12, _k3 = _ivf_ks(e)
    c = _IVF_TARGET_CELL
    cents = _ivf_centroids(e)
    ev = e.select("vec_id", "embedding")
    a1 = ev.join(
        _nearest_wide(ev, cents, out_id="cid", cand_id="cid", cand_vec="cemb"),
        "vec_id",
    ).transform(truncate_lineage)
    cent2 = _sub_centroids(a1, "cid", "c2id", "scid", "semb", c * k12)
    n2 = cent2.count()
    a2 = a1.select("vec_id", "embedding").join(
        _nearest_wide(
            a1.withColumnRenamed("cid", "c2id"), cent2, out_id="scid",
            cand_id="scid", cand_vec="semb", join_on="c2id",
            broadcast_cands=n2 <= _IVF_BCAST_ROWS,
        ),
        "vec_id",
    ).transform(truncate_lineage)
    cent3s = _sub_centroids(a2, "scid", "c3id", "sscid", "ssemb", c)
    n3 = cent3s.count()
    bc3 = n3 <= _IVF_BCAST_ROWS
    a3s = a2.join(
        _nearest_wide(
            a2.withColumnRenamed("scid", "c3id"), cent3s, out_id="sscid",
            cand_id="sscid", cand_vec="ssemb", join_on="c3id",
            broadcast_cands=bc3,
        ),
        "vec_id",
    )
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
        _nearest_wide(
            a2.withColumnRenamed("scid", "c3id"), cent3, out_id="qcid",
            cand_id="sscid", cand_vec="ssemb", join_on="c3id",
            broadcast_cands=bc3,
        ),
        "vec_id",
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
        .withColumn("_slots", _ivf_slots())
        .select(
            "vec_id",
            "embedding",
            (F.col("qcid") * _IVF_SLOT_BASE + slot).cast("long").alias("cid"),
        )
        .transform(truncate_lineage)
    )
    return (cents, a1, cent2, a2, cent3, assign), (n2, n3)


def _ivf_sizes(e) -> tuple[int, int]:
    """(level-2, level-3) codebook row counts for the corpus — the
    broadcast-gating inputs (allocation is data-proportional, so sizes
    are measured at construction, not derived from k)."""
    return _ivf_index(e)[1]


def _ivf_cellslots(e):
    """Quantizer-cell → slot-count map (qcid, slots), derived from the
    final assignment (grouping by cid div _IVF_SLOT_BASE recovers exactly
    the per-quantizer-cell occupancy the cap was computed from).
    Multi-probe search joins its beam against it to route each probe to
    a slot of a foreign cell. Checkpointed in an entry of its own, not
    with the tree: only multi-probe reads it, and even a lazy checkpoint
    runs the aggregate's shuffle stage at build (measured: +1 job on
    every tree build)."""
    return plan_memo(
        e,
        "ivf_cellslots",
        lambda: _ivf_tree(e)[5]
        .groupBy(F.expr(f"cid div {_IVF_SLOT_BASE}").alias("qcid"))
        .agg(F.count(F.lit(1)).alias("_cn"))
        .select("qcid", _ivf_slots().alias("slots"))
        .transform(truncate_lineage),
    )


def _ivf_assign(e):
    """Final three-level cell labeling (vec_id, embedding, cid) — see
    _ivf_tree for the structure and the module header for the design
    (proportional allocation keeps MEAN final cell ≈ 256 at every n; the
    Lloyd step balances dense regions; the md5-slot cap bounds MAX at
    ~1.5× target). Checkpointed + memoized: repeated calls on the same
    corpus return the same materialized frame."""
    return _ivf_tree(e)[5]


def _ivf_search(e, n_probes: int = 5, k: int = 5):
    """The q_llm_ann_ivf pipeline as a reusable operator (also consumed by
    q_llm_ann_recall): derived-k hash-sampled centroid tree → assignment →
    probe-cell ranking. The assignment is checkpointed + memoized in
    _ivf_tree: probes and candidates both read it, and every IVF-family
    query on the corpus reuses the paid scoring crosses."""
    assign = _ivf_assign(e)
    probes = assign.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe"), F.col("cid").alias("pcid")
    )
    cands = probes.join(
        assign, (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("probe_id"))
    ).select(
        "probe_id",
        F.col("pcid").alias("cell"),
        "vec_id",
        cosine4(F.col("pe"), F.col("embedding")).alias("cos"),
    )
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc_nulls_last(), F.col("vec_id").asc_nulls_last()
    )
    return cands.withColumn("rn", F.row_number().over(w_rank)).filter(F.col("rn") <= k).drop("rn")


@query(
    "q_llm_semdedup",
    oracle=f"""
WITH RECURSIVE {_IVF_ASSIGN_CTE},
cbands AS (
  SELECT vec_id, cid FROM assign
  QUALIFY row_number() OVER (
    PARTITION BY cid
    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC NULLS LAST, vec_id ASC NULLS LAST
  ) <= {_BUCKET_CAP}
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cbands a JOIN cbands b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT id_a AS x, id_b AS y FROM (
    SELECT id_a, id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
  ) WHERE cos >= 0.3
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v)
SELECT component,
       count(*) AS n_members,
       max(node) AS max_member
FROM comp
GROUP BY component
""",
)
def q_llm_semdedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: cluster the embedding space
    with the IVF coarse quantizer (derived-k broadcast codebook), compare
    ONLY within a cluster, keep pairs above a cosine threshold, resolve
    transitive clusters, one canonical member each. Real corpora run this
    at ~0.95 on normalized embeddings; the synthetic corpus's intra-cell
    similarity ceiling is ~0.49 (measured at sf0.01), so the contract
    threshold is 0.3 — below the ceiling so the resolution path is
    actually exercised by the differential check.

    The cluster id is the blocking key — the same candidate-then-verify
    shape as the LSH dedup family, but blocked by LEARNED structure
    (nearest centroid) instead of hash structure, which is what recent
    semantic-dedup pipelines run over embedding corpora. Cells get the same
    _BUCKET_CAP hot-bucket guard as every other pair join (a dense cluster
    is the hot-band analog), so per-cell work is O(cap²); at real scale k
    grows with corpus size (k-means codebook, q_kmeans_step is the
    builder) keeping cells bounded."""
    from pkg2_spark.operators.dedup import resolve_components
    from pkg2_spark.operators.similarity import cosine_on_pairs

    e = load_tables(spark, sf_dir)["embeddings"]
    # _ivf_assign is checkpointed + memoized (see _ivf_tree): the band
    # self-join's two sides and every contraction round all read the same
    # materialized label frame, and the n·(k1+k2+k3) scoring cross is
    # shared with the other IVF-family queries on this corpus.
    assign = _ivf_assign(e).select("vec_id", "cid")
    bands = assign.select(
        "vec_id",
        F.lit(0).alias("band_id"),
        F.col("cid").cast("string").alias("band_key"),
    )
    # distinct_pairs=False (r15): each vector sits in exactly ONE cell
    # (single band), so a pair can only be discovered once — the
    # multi-band distinct would be a no-op costing one pair Exchange.
    cand = banded_pairs(
        bands, "vec_id", "id_a", "id_b", cap=_BUCKET_CAP, distinct_pairs=False
    )
    pairs = cosine_on_pairs(cand, e, "id_a", "id_b", dim=64).filter(
        F.col("cos") >= 0.3
    )
    comp = resolve_components(pairs, src="id_a", dst="id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


@query(
    "q_llm_cossim_lsh",
    oracle=f"""
WITH {_sign_cand_sql()}
SELECT id_a, id_b, cos FROM (
  SELECT id_a, id_b,
         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4) AS cos
  FROM cand
  JOIN embeddings ea ON ea.vec_id = cand.id_a
  JOIN embeddings eb ON eb.vec_id = cand.id_b
) WHERE cos >= 0.3
""",
)
def q_llm_cossim_lsh(spark, sf_dir):
    """Cosine pair similarity with LSH-derived blocking — the scale-shaped
    replacement for q_llm_cossim's fixed-cardinality `label` band key.

    Candidates come from sign-LSH bands (8 bands × 8-bit sign patterns,
    operators/similarity.py::sign_lsh_bands): pair discovery is an equi-join
    on (band_id, band_key), whose bucket population is set by the data
    distribution, not by a 10-value column — at 100× the data the per-bucket
    pair count is controlled by raising rows_per_band, while `label`-banding
    grows 10,000× per band. Hot buckets are additionally capped at
    _BUCKET_CAP md5-ranked members (operators/lsh.py rationale), so a
    saturated band key contributes O(cap²) pairs instead of O(m²). Band
    membership and the cap rank are exact, so the oracle mirrors both
    bit-identically."""
    from pkg2_spark.operators.similarity import cosine_on_pairs, sign_lsh_bands

    e = load_tables(spark, sf_dir)["embeddings"]
    bands = sign_lsh_bands(e, dim=64, rows_per_band=8)
    cand = banded_pairs(bands, "vec_id", "id_a", "id_b", cap=_BUCKET_CAP)
    return cosine_on_pairs(cand, e, "id_a", "id_b", dim=64).filter(
        F.col("cos") >= 0.3
    )


@query(
    "q_llm_jaccard_lsh",
    oracle=f"""
WITH {_bands_cte().replace("bands AS", "mbands AS").strip()},
{capped_bands_sql("doc_id", _BUCKET_CAP, source="mbands")},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM cbands a JOIN cbands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
t AS (SELECT doc_id, list_distinct({_TOK_SQL}) AS toks FROM documents),
scored AS (
  SELECT doc_a, doc_b,
         len(list_filter(ta.toks, x -> list_contains(tb.toks, x))) AS ni,
         len(ta.toks) AS la, len(tb.toks) AS lb
  FROM cand
  JOIN t ta ON ta.doc_id = cand.doc_a
  JOIN t tb ON tb.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, CAST(ni AS INTEGER) AS n_common,
       round(CAST(ni AS DOUBLE) / (la + lb - ni), 4) AS jaccard
FROM scored
WHERE round(CAST(ni AS DOUBLE) / (la + lb - ni), 4) >= 0.5
""",
)
def q_llm_jaccard_lsh(spark, sf_dir):
    """Exact Jaccard verification on MinHash-LSH-blocked candidates — the
    scale-shaped replacement for q_llm_jaccard's fixed-cardinality `source`
    blocking (20 fixed values → O((n/20)²) pairs).

    Blocking key is the md5 LSH band signature (operators/text.py::lsh_bands)
    whose cardinality grows with corpus content, so the pair join stays an
    equi-join on a high-cardinality key at any n; hot buckets are capped at
    _BUCKET_CAP md5-ranked members (operators/lsh.py — this corpus's tiny
    vocabulary saturates the b=2/r=4 bands, previously 52,433 of 124,750
    possible pairs at sf0.01). Verification then computes EXACT Jaccard on
    the candidate token sets and keeps pairs ≥ 0.5 — the
    candidate-then-verify pipeline every production near-dup system runs."""
    d = load_tables(spark, sf_dir)["documents"]
    bands = lsh_bands(minhash_signatures(tokenize_distinct(d), _K), _K, _BANDS_R)
    cand = banded_pairs(bands, "doc_id", "doc_a", "doc_b", cap=_BUCKET_CAP)
    t = d.select("doc_id", F.array_distinct(tokens_col()).alias("toks"))
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    uni = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            F.round(inter.cast("double") / uni, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# Shared langid CTE prefix: q_llm_langid emits per-doc predictions,
# q_ml_eval aggregates the same predictions into the confusion-derived
# precision/recall/F1 table — ONE classifier definition, two oracles.
_LANGID_CTE = f"""tok AS (SELECT doc_id, lang, unnest({_TOK_SQL}) AS token FROM documents),
lang_top AS (
  SELECT lang AS cand_lang, token FROM (
    SELECT lang, token, count(*) AS cnt,
           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC NULLS LAST, token ASC NULLS LAST) AS rn
    FROM tok GROUP BY lang, token
  ) WHERE rn <= 5
),
doc_tok AS (SELECT DISTINCT doc_id, token FROM tok),
scores AS (
  SELECT doc_id, cand_lang, count(*) AS score
  FROM doc_tok JOIN lang_top USING (token)
  GROUP BY doc_id, cand_lang
),
best AS (
  SELECT doc_id, cand_lang, score FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC NULLS LAST, cand_lang ASC NULLS LAST) AS rn
    FROM scores
  ) WHERE rn = 1
)"""


@query(
    "q_llm_langid",
    oracle=f"""
WITH {_LANGID_CTE}
SELECT d.doc_id, d.lang, coalesce(best.cand_lang, 'unknown') AS predicted,
       coalesce(best.score, 0) AS score,
       coalesce(best.cand_lang, 'unknown') = d.lang AS correct
FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
""",
)
def q_llm_langid(spark, sf_dir):
    """Corpus-trained language ID: top-5 most frequent tokens per language
    are the markers; a doc is classified by which language's markers it
    overlaps most. Deterministic ties (score desc, lang asc)."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select("doc_id", "lang", F.explode(tokens_col()).alias("token"))
    w_top = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc_nulls_last(), F.col("token").asc_nulls_last()
    )
    lang_top = (
        tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 5)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    doc_tok = tok.select("doc_id", "token").distinct()
    scores = (
        doc_tok.join(F.broadcast(lang_top), "token")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc_nulls_last(), F.col("cand_lang").asc_nulls_last()
    )
    best = scores.withColumn("rn", F.row_number().over(w_best)).filter(F.col("rn") == 1)
    return (
        d.select("doc_id", "lang")
        .join(best.select("doc_id", "cand_lang", "score"), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("cand_lang"), F.lit("unknown")).alias("predicted"),
            F.coalesce(F.col("score"), F.lit(0)).alias("score"),
            (F.coalesce(F.col("cand_lang"), F.lit("unknown")) == F.col("lang")).alias("correct"),
        )
    )


@query(
    "q_llm_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_ish,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_ws,
       round(CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
             / len(list_filter(string_split(text, ' '), x -> x <> '')), 4) AS ratio
FROM documents
WHERE doc_id < 200
""",
)
def q_llm_token_count(spark, sf_dir):
    # Two tokenizers: whitespace and a BPE-ish regex (letter runs / digit
    # runs / single punctuation) — the standard pre-tokenization split.
    d = load_tables(spark, sf_dir)["documents"]
    bpe = F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    return d.filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.size(bpe).alias("n_bpe_ish"),
        F.size(ws).alias("n_ws"),
        F.round(F.size(bpe).cast("double") / F.size(ws), 4).alias("ratio"),
    )


@query(
    "q_llm_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
         [CAST(0 AS BIGINT)] || list_transform({_TOK_SQL},
             w -> CAST(length(w) * 7 + ascii(substring(w, 1, 1)) AS BIGINT)),
         (a, b) -> (a * 31 + b) % 1000000007
       ) AS fingerprint
FROM documents
""",
)
def q_llm_fingerprint(spark, sf_dir):
    # Rolling polynomial hash over the token stream — content fingerprint
    # stable under whitespace normalization; pure integer fold, bit-identical
    # across engines.
    d = load_tables(spark, sf_dir)["documents"]
    return rolling_fingerprint(d)


@query(
    "q_llm_sample_hash",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccc'
""",
)
def q_llm_sample_hash(spark, sf_dir):
    # Deterministic ~5% corpus sample by content-hash bucket
    # (operators/sampling.py): reproducible, key-stable, shuffle-free —
    # the sampling primitive a 100 TB pipeline can re-run without moving
    # rows in or out of the sample. 0x0ccc/0x10000 = 4.998%.
    d = load_tables(spark, sf_dir)["documents"]
    return hash_sample(d, "doc_id", 0.05).select("doc_id", "lang", "source")


@query(
    "q_llm_split",
    oracle="""
SELECT CASE
         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
         ELSE 'test'
       END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
""",
)
def q_llm_split(spark, sf_dir):
    # Stable train/val/test assignment (80/10/10) by hash bucket: a doc's
    # split never changes as the corpus grows — the property that prevents
    # test-set leakage across dataset versions. Thresholds are exact:
    # 0.8*65536 = 0xcccc, 0.9*65536 = 0xe666.
    d = load_tables(spark, sf_dir)["documents"]
    split = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q_llm_dedup_resolve",
    oracle=f"""
WITH RECURSIVE {_sign_cand_sql()},
pairs AS (
  SELECT id_a AS x, id_b AS y FROM (
    SELECT id_a, id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
  ) WHERE cos >= 0.3
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v)
SELECT component,
       count(*) AS n_members,
       max(node) AS max_member
FROM comp
GROUP BY component
""",
)
def q_llm_dedup_resolve(spark, sf_dir):
    """Near-dup RESOLUTION: LSH-banded candidate pairs, cosine-verified at
    >= 0.3, become edges; transitive clusters come from min-label
    propagation (operators/dedup.py); canonical doc per cluster = min id.

    Edge discovery is the sign-LSH band join proven in q_llm_cossim_lsh —
    an equi-join on (band_id, band_key) with the _BUCKET_CAP hot-bucket
    guard — replacing round 1-4's label-blocked all-pairs stage (10 block
    values ⇒ O(n²/10) pairs, measured 3.45× wall per 10× data in
    SCALE_PROBE r4; VERDICT r4 "Next round" #1). Cosine stays as the VERIFY
    filter on the candidate set only, so the expensive exact math runs on
    O(candidates), never O(n²). The oracle recomputes components over the
    same banded+capped+verified edges with a recursive closure — feasible
    at sf0.01, while the Spark path stays iterative-join shaped for scale.
    """
    from pkg2_spark.operators.dedup import resolve_components
    from pkg2_spark.operators.similarity import cosine_on_pairs, sign_lsh_bands

    e = load_tables(spark, sf_dir)["embeddings"]
    bands = sign_lsh_bands(e, dim=64, rows_per_band=8)
    cand = banded_pairs(bands, "vec_id", "id_a", "id_b", cap=_BUCKET_CAP)
    pairs = cosine_on_pairs(cand, e, "id_a", "id_b", dim=64).filter(
        F.col("cos") >= 0.3
    )
    comp = resolve_components(pairs, src="id_a", dst="id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


@query(
    "q_llm_sample_stratified",
    oracle="""
SELECT lang, doc_id, source FROM (
  SELECT lang, doc_id, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC NULLS LAST, doc_id ASC NULLS LAST
         ) AS rn
  FROM documents
) WHERE rn <= 20
""",
)
def q_llm_sample_stratified(spark, sf_dir):
    # Balanced per-language quota (20 docs/lang) in a deterministic
    # hash-derived order — evaluation-set construction for skewed corpora
    # without RNG state (operators/sampling.py::stratified_sample).
    from pkg2_spark.operators.sampling import stratified_sample

    d = load_tables(spark, sf_dir)["documents"]
    return stratified_sample(d, strata="lang", key="doc_id", k=20).select(
        "lang", "doc_id", "source"
    )


def _minhash_est_oracle() -> str:
    agree = " + ".join(f"CAST(a.mh{i} = b.mh{i} AS INTEGER)" for i in range(_K))
    return f"""
WITH {_bands_cte()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 2 = 0
),
t AS (SELECT doc_id, list_distinct({_TOK_SQL}) AS toks FROM documents),
scored AS (
  SELECT doc_a, doc_b,
         ({agree}) AS n_agree,
         len(list_filter(ta.toks, x -> list_contains(tb.toks, x))) AS ni,
         len(ta.toks) AS la, len(tb.toks) AS lb
  FROM cand
  JOIN sig a ON a.doc_id = cand.doc_a
  JOIN sig b ON b.doc_id = cand.doc_b
  JOIN t ta ON ta.doc_id = cand.doc_a
  JOIN t tb ON tb.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, n_agree,
       round(n_agree / 8.0, 4) AS est_jaccard,
       round(CAST(ni AS DOUBLE) / (la + lb - ni), 4) AS jaccard
FROM scored
"""


@query("q_llm_minhash_est", oracle=_minhash_est_oracle())
def q_llm_minhash_est(spark, sf_dir):
    """Sketch validation: MinHash-estimated Jaccard (fraction of agreeing
    signature positions) against the exact token-set Jaccard, on a
    deterministic ~10% sample of the LSH candidate pairs.

    This is the QA harness a production dedup pipeline runs when tuning
    (K, b, r): the estimate is computed purely from the K-hash signatures
    (constant per-doc state), the exact value only on the sampled candidate
    subset — the same estimate-cheap/verify-sampled split used at corpus
    scale. All arithmetic is integer counts + one exact division, so both
    engines agree bit-for-bit.

    r14: the signature frame is localCheckpoint'd — it is consumed THREE
    times (bands, a-side sig join, b-side sig join) and each consumer was
    re-running the tokenize+8×min-agg pipeline; materializing the bounded
    per-doc state (8 ints/doc) computes it once (4.6 → 3.4 s at sf0.1).
    The token-array frame stays lazy: checkpointing it measured slower
    (full arrays outweigh the saved recompute)."""
    d = load_tables(spark, sf_dir)["documents"]
    sig = minhash_signatures(tokenize_distinct(d), _K).transform(truncate_lineage)
    bands = lsh_bands(sig, _K, _BANDS_R)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_id").alias("bid2"),
        F.col("band_key").alias("bkey2"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_id") == F.col("bid2"))
            & (F.col("band_key") == F.col("bkey2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter((F.col("doc_a") % 5 == 0) & (F.col("doc_b") % 2 == 0))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # r14 (guide §2.5): AQE coalesces the distinct's exchange by BYTES, but
    # each surviving pair row fans into an array_intersect over the full
    # token sets downstream — ~480k verifications were landing on 2 tasks
    # (the 16-byte pair rows total ~3 MB). A keyed repartition to the
    # session's parallelism floor re-spreads the compute-dense verify stage;
    # at cluster scale the attach joins re-exchange the pairs anyway, so
    # this costs one extra skinny-pair shuffle and changes nothing else.
    cand = cand.repartition(
        spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
    )
    siga = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_K)])
    sigb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_K)])
    t = d.select("doc_id", F.array_distinct(tokens_col()).alias("toks"))
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    n_agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_K))
    inter = F.size(F.array_intersect("ta", "tb"))
    uni = F.size("ta") + F.size("tb") - inter
    return (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_agree.alias("n_agree"),
            F.round(n_agree / F.lit(8.0), 4).alias("est_jaccard"),
            F.round(inter.cast("double") / uni, 4).alias("jaccard"),
        )
    )


@query(
    "q_llm_ann_recall",
    oracle=f"""
WITH {_IVF_ASSIGN_CTE},
iprobes AS (
  SELECT vec_id AS probe_id, embedding AS pe, cid AS pcid FROM assign WHERE vec_id < 5
),
ivf AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, assign.vec_id,
           round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                        CAST(assign.embedding AS DOUBLE[])), 4) AS cos
    FROM iprobes JOIN assign ON assign.cid = iprobes.pcid AND assign.vec_id <> iprobes.probe_id
    QUALIFY row_number() OVER (
      PARTITION BY probe_id ORDER BY cos DESC NULLS LAST, assign.vec_id ASC NULLS LAST
    ) <= 5
  )
),
exact AS (
  SELECT probe_id, vec_id FROM (
    SELECT p.probe_id, e.vec_id,
           round(list_cosine_similarity(CAST(p.pe AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])), 4) AS cos
    FROM (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5) p
    CROSS JOIN embeddings e
    WHERE e.vec_id <> p.probe_id
    QUALIFY row_number() OVER (
      PARTITION BY probe_id ORDER BY cos DESC NULLS LAST, e.vec_id ASC NULLS LAST
    ) <= 5
  )
)
SELECT exact.probe_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(sum(CASE WHEN ivf.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4) AS recall
FROM exact
LEFT JOIN ivf ON ivf.probe_id = exact.probe_id AND ivf.vec_id = exact.vec_id
GROUP BY exact.probe_id
""",
)
def q_llm_ann_recall(spark, sf_dir):
    """ANN quality measurement: recall@5 of the IVF index against the exact
    brute-force top-5, per probe — the evaluation loop every production ANN
    deployment runs before trusting an index (tune k_centroids / n_probe
    until recall clears the bar).

    Both arms are the engine's own operators (knn_bruteforce and
    _ivf_search), joined on (probe_id, vec_id); the oracle recomputes both
    arms in SQL. Linear in corpus size per arm; the comparison itself is a
    k-row-per-probe join."""
    e = load_tables(spark, sf_dir)["embeddings"]
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_embedding")
    )
    exact = knn_bruteforce(e.select("vec_id", "embedding"), probes, k=5, dim=64).select(
        "probe_id", "vec_id"
    )
    ivf = _ivf_search(e).select("probe_id", "vec_id").withColumn("__hit", F.lit(1))
    return (
        exact.join(ivf, ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"),
            F.round(F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.lit(5.0), 4).alias("recall"),
        )
    )


@query(
    "q_llm_ivf_refine",
    oracle=f"""
WITH seeds AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
  QUALIFY row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC NULLS LAST, vec_id ASC NULLS LAST
  ) <= {_IVF_K12_SQL}
),
q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000000) AS BIGINT)) AS qe
  FROM embeddings
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, s.cid,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(s.cemb AS DOUBLE[])), 4) AS ccos
    FROM embeddings e CROSS JOIN seeds s
    QUALIFY row_number() OVER (
      PARTITION BY e.vec_id ORDER BY ccos DESC NULLS LAST, cid ASC NULLS LAST
    ) = 1
  )
),
dims AS (
  SELECT a1.cid, i.i AS pos,
         CAST(floor(CAST(sum(q.qe[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM a1 JOIN q USING (vec_id) CROSS JOIN generate_series(1, 64) AS i(i)
  GROUP BY a1.cid, i.i
),
refined AS (
  SELECT cid, list(cv ORDER BY pos ASC) AS rc FROM dims GROUP BY cid
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, r.cid,
           round(list_cosine_similarity(
             list_transform(q.qe, x -> CAST(x AS DOUBLE)),
             list_transform(r.rc, x -> CAST(x AS DOUBLE))), 4) AS rcos
    FROM q CROSS JOIN refined r
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id ORDER BY rcos DESC NULLS LAST, cid ASC NULLS LAST
    ) = 1
  )
)
SELECT s.cid,
       CAST(coalesce(c1.n, 0) AS BIGINT) AS n_seed,
       CAST(coalesce(c2.n, 0) AS BIGINT) AS n_refined,
       r.rc[1] AS c0_micro, r.rc[2] AS c1_micro
FROM seeds s
LEFT JOIN (SELECT cid, count(*) AS n FROM a1 GROUP BY cid) c1 ON c1.cid = s.cid
LEFT JOIN (SELECT cid, count(*) AS n FROM a2 GROUP BY cid) c2 ON c2.cid = s.cid
LEFT JOIN refined r ON r.cid = s.cid
""",
)
def q_llm_ivf_refine(spark, sf_dir):
    """One spherical-k-means refinement step over the DERIVED level-1 IVF
    codebook — the codebook-quality lever the scale probe names (the md5
    hash sample does not BALANCE cells; Lloyd refinement does): assign
    every vector to its nearest md5-sampled seed by cosine (the exact
    assignment the IVF tree uses), recenter each cell as the per-dimension
    integer-micro mean (floor-scaled BIGINTs — exact under any partition
    summation order, the q_kmeans_step discipline), re-assign against the
    refined centroids, and report per-seed-cell membership before/after
    plus the first two refined components. A production deployment
    iterates exactly this dataflow until the balance converges, then
    feeds the refined codebook to _ivf_tree.

    Scale shape: seed scoring and re-assignment are the wide-codegen
    broadcast argmax (`_nearest_wide` — k1 = icbrt(n/256) rows is always
    broadcastable); the recenter is posexplode -> ONE map-combinable hash
    agg on (cid, pos) (64·k1 reduce keys, the heavy summing happens
    map-side) -> collect_list re-pack of k1 arrays. Micro-unit cosines
    stay exact in doubles: |dot| <= 64·(2e6)^2 ≈ 2.6e14 < 2^53."""
    e = load_tables(spark, sf_dir)["embeddings"]
    seeds = _ivf_centroids(e)
    ev = e.select("vec_id", "embedding")
    a1 = _nearest_wide(ev, seeds, out_id="cid", cand_id="cid", cand_vec="cemb")
    qe = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
    )
    q = e.select("vec_id", qe.alias("qe"))
    # r14 negative result (recorded in OPTIMIZATION_r14.md): replacing this
    # explode + (cid,pos) agg + collect_list repack with ONE wide hash agg
    # of 64 per-dimension sums measured SLOWER end-to-end (2.6-3.8 s →
    # 4.5 s full query, stage-alone equal) — `refined` is consumed twice
    # (broadcast re-assignment + component projection) and the wide-agg
    # subtree recomputes worse than the narrow explode shape. Kept as-is.
    dims = (
        a1.join(q, "vec_id")
        .select("cid", F.posexplode("qe").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cv")
        )
    )
    refined = dims.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("rc")
    )
    qd = q.select(
        "vec_id", F.transform("qe", lambda x: x.cast("double")).alias("embedding")
    )
    rcands = refined.select(
        "cid", F.transform("rc", lambda x: x.cast("double")).alias("rcemb")
    )
    a2 = _nearest_wide(qd, rcands, out_id="cid", cand_id="cid", cand_vec="rcemb")
    c1 = a1.groupBy("cid").agg(F.count(F.lit(1)).alias("n1"))
    c2 = a2.groupBy("cid").agg(F.count(F.lit(1)).alias("n2"))
    rsel = refined.select(
        "cid",
        F.element_at("rc", 1).alias("c0_micro"),
        F.element_at("rc", 2).alias("c1_micro"),
    )
    return (
        seeds.select("cid")
        .join(c1, "cid", "left")
        .join(c2, "cid", "left")
        .join(rsel, "cid", "left")
        .select(
            "cid",
            F.coalesce("n1", F.lit(0)).cast("long").alias("n_seed"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n_refined"),
            "c0_micro",
            "c1_micro",
        )
    )


_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
_PHONE_RE = "[+][0-9][0-9]{6,}"


@query(
    "q_llm_pii_scrub",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or +1' || CAST((doc_id * 7919) % 10000000 AS VARCHAR) AS txt
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(len(regexp_extract_all(txt, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(txt, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(regexp_replace(txt, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM t
""",
)
def q_llm_pii_scrub(spark, sf_dir):
    """PII scrubbing: regex redaction of emails and phone-shaped tokens —
    the privacy pass every pretraining pipeline runs before export. The
    corpus is synthetic, so deterministic contact strings are appended
    first (keyed off doc_id) and the scrubber must find and redact exactly
    those; the md5 of the scrubbed text proves byte-level equality of the
    redaction across engines. Patterns stay in the ASCII subset shared by
    Java regex and RE2 (DuckDB needs the 'g' flag — its regexp_replace is
    first-match by default, Spark's is global). Pure projection: row-local,
    shuffle-free, linear at any corpus size."""
    d = load_tables(spark, sf_dir)["documents"]
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1"),
        ((F.col("doc_id") * 7919) % 10000000).cast("string"),
    )
    t = d.filter(F.col("doc_id") < 300).select("doc_id", txt.alias("txt"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("txt"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("txt"), F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("txt"), F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@query(
    "q_llm_export_shards",
    oracle="""
WITH train AS (
  SELECT doc_id, n_chars,
         instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1 AS shard_id
  FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
)
SELECT CAST(shard_id AS INTEGER) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc
FROM train GROUP BY shard_id
""",
)
def q_llm_export_shards(spark, sf_dir):
    """Training-shard export: the train split written as 16 hash-assigned
    shard directories (what a data loader consumes), then read back and
    audited per shard. Shard id is a later md5 nibble of the doc key —
    independent of the split-threshold prefix, key-stable, and balanced in
    expectation; the oracle recomputes the same stats straight from the
    source table, so writer+reader fidelity is value-checked.

    Scale shape: one projection for the shard id, one partitionBy write
    (files land pre-grouped for shard-parallel loading), no extra shuffle
    beyond the writer's partitioning. Write-once per scale like the other
    fixtures."""
    import os

    from pkg2_spark.queries.relational import fixture_path, fixture_ready

    d = load_tables(spark, sf_dir)["documents"]
    train = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).filter(
        F.col("split") == "train"
    )
    shard = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 5, 1),
        )
        - 1
    ).cast("int")
    path = fixture_path("llm_shards", sf_dir)
    if not fixture_ready(path, sf_dir):
        (
            train.withColumn("shard_id", shard)
            .select("doc_id", "n_chars", "shard_id")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(path)
        )
    back = spark.read.parquet(path)
    return back.groupBy(F.col("shard_id").cast("int").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "q_llm_decontam",
    oracle=f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
t AS (SELECT doc_id, split, {_TOK_SQL} AS toks FROM s),
g AS (
  SELECT doc_id, split,
         unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
                i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)] || ' ' || toks[CAST(i + 2 AS INTEGER)]))) AS ngram
  FROM t WHERE len(toks) >= 3
),
train_g AS (SELECT DISTINCT ngram FROM g WHERE split = 'train'),
test_g AS (SELECT DISTINCT doc_id, ngram FROM g WHERE split = 'test'),
tot AS (SELECT doc_id, count(*) AS n_tris FROM test_g GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*) AS n_contam FROM test_g
  WHERE ngram IN (SELECT ngram FROM train_g)
  GROUP BY doc_id
)
SELECT tot.doc_id,
       CAST(tot.n_tris AS BIGINT) AS n_tris,
       CAST(coalesce(hit.n_contam, 0) AS BIGINT) AS n_contam,
       round(CAST(coalesce(hit.n_contam, 0) AS DOUBLE) / tot.n_tris, 4) AS contam_ratio
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
""",
)
def q_llm_decontam(spark, sf_dir):
    """Train/test decontamination scan: for every TEST document, the number
    and fraction of its distinct trigram shingles that also occur anywhere
    in the TRAIN split — the n-gram-overlap contamination check run before
    any benchmark evaluation (production uses the same pipeline with longer
    shingles).

    Scale shape: shingle explode → distinct → one semi-join keyed on the
    shingle string (high-cardinality, shuffle-partitionable) + one groupBy
    per side. The train-side shingle set is never collected or broadcast by
    construction — at 100 TB it is itself a distributed table."""
    d = load_tables(spark, sf_dir)["documents"]
    s = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    toks = tokens_col()
    t = s.select("doc_id", "split", toks.alias("toks")).filter(F.size("toks") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        ),
    )
    g = t.select("doc_id", "split", F.explode(F.array_distinct(tri)).alias("ngram"))
    train_g = g.filter(F.col("split") == "train").select("ngram").distinct()
    test_g = g.filter(F.col("split") == "test").select("doc_id", "ngram").distinct()
    tot = test_g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tris"))
    hit = (
        test_g.join(train_g, "ngram", "leftsemi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    return tot.join(hit, "doc_id", "left").select(
        "doc_id",
        "n_tris",
        F.coalesce("n_contam", F.lit(0)).alias("n_contam"),
        F.round(F.coalesce("n_contam", F.lit(0)).cast("double") / F.col("n_tris"), 4).alias(
            "contam_ratio"
        ),
    )


@query(
    "q_llm_decontam_sem",
    oracle=f"""
WITH {_sign_cand_sql()},
s AS (
  SELECT vec_id,
         CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) < 'e666'
              THEN 'train' ELSE 'eval' END AS split
  FROM embeddings
),
cross_pairs AS (
  SELECT CASE WHEN sa.split = 'eval' THEN c.id_a ELSE c.id_b END AS eval_id,
         CASE WHEN sa.split = 'eval' THEN c.id_b ELSE c.id_a END AS train_id
  FROM cand c
  JOIN s sa ON sa.vec_id = c.id_a
  JOIN s sb ON sb.vec_id = c.id_b
  WHERE sa.split <> sb.split
),
scored AS (
  SELECT p.eval_id, p.train_id,
         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4) AS cos
  FROM cross_pairs p
  JOIN embeddings ea ON ea.vec_id = p.eval_id
  JOIN embeddings eb ON eb.vec_id = p.train_id
)
SELECT eval_id,
       count(*) AS n_train_neighbors,
       max(cos) AS max_cos
FROM scored WHERE cos >= 0.3
GROUP BY eval_id
""",
)
def q_llm_decontam_sem(spark, sf_dir):
    """SEMANTIC train/eval decontamination — the embedding-space
    complement of q_llm_decontam's n-gram overlap scan (paraphrased or
    re-worded benchmark leakage carries no shared shingles but sits next
    to its source in embedding space). Eval vectors (10% hash split) are
    screened against the train split: candidates from the same capped
    sign-LSH bands as q_llm_cossim_lsh, kept only when the pair CROSSES
    the split boundary, cosine-verified at >= 0.3, then rolled up per eval
    vector (how many train neighbors, how close the closest).

    Scale shape: identical to the LSH pair path (band equi-join + hot-
    bucket cap) — the split filter PRUNES candidates before the cosine,
    and the per-eval rollup is a map-combinable hash-agg. At 100 TB the
    eval side is small, so the cross-split filter drops almost every
    candidate pair before any arithmetic."""
    from pkg2_spark.operators.similarity import cosine_on_pairs, sign_lsh_bands

    e = load_tables(spark, sf_dir)["embeddings"]
    s = hash_split(e.select("vec_id"), "vec_id", {"train": 0.9, "eval": 0.1})
    bands = sign_lsh_bands(e, dim=64, rows_per_band=8)
    cand = banded_pairs(bands, "vec_id", "id_a", "id_b", cap=_BUCKET_CAP)
    sa = s.select(F.col("vec_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("vec_id").alias("id_b"), F.col("split").alias("split_b"))
    crossed = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "eval", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("eval_id"),
            F.when(F.col("split_a") == "eval", F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("train_id"),
        )
    )
    scored = cosine_on_pairs(crossed, e, "eval_id", "train_id", dim=64)
    return (
        scored.filter(F.col("cos") >= 0.3)
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_train_neighbors"),
            F.max("cos").alias("max_cos"),
        )
    )


@query(
    "q_llm_datacard",
    oracle="""
WITH d AS (
  SELECT source, doc_id, lang, n_chars, md5(lower(text)) AS th,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tok
  FROM documents
),
dups AS (
  SELECT source, th, count(*) AS c FROM d GROUP BY source, th HAVING count(*) > 1
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(d.n_tok) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(coalesce(any_value(dup.n_dup), 0) AS BIGINT) AS n_dup_docs,
       CAST(sum(d.n_chars) * 100 // count(*) AS BIGINT) AS mean_chars_e2,
       CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) * 10000 // count(*)
            AS BIGINT) AS pct_en_bp
FROM d
LEFT JOIN (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_dup
  FROM dups GROUP BY source
) dup ON d.source = dup.source
GROUP BY d.source
""",
)
def q_llm_datacard(spark, sf_dir):
    """Per-source data card — the one-page corpus summary a dataset release
    ships (datasheet/data-statement style): volume (docs, tokens), language
    spread, within-source exact-duplicate mass, mean document length, and
    English share. Composes the engine's counting primitives into a single
    two-level aggregation; every emitted figure is an exact integer
    (fixed-point means and basis-point shares via integer DIV).

    Scale shape: one doc-level projection feeding two hash-aggs (per-source
    rollup + per-(source, text-hash) duplicate mass) joined on the tiny
    source key — no windows, no pairs, map-side combinable throughout."""
    d = load_tables(spark, sf_dir)["documents"].select(
        "source",
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.lower(F.col("text"))).alias("th"),
        F.size(tokens_col("text")).alias("n_tok"),
    )
    dups = (
        d.groupBy("source", "th")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("n_dup"))
    )
    return (
        d.join(F.broadcast(dups), "source", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.coalesce(F.any_value("n_dup"), F.lit(0)).cast("long").alias("n_dup_docs"),
            F.expr("CAST(sum(n_chars) * 100 DIV count(*) AS BIGINT)").alias(
                "mean_chars_e2"
            ),
            F.expr(
                "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000"
                " DIV count(*) AS BIGINT)"
            ).alias("pct_en_bp"),
        )
    )


@query(
    "q_llm_dedup_incr",
    oracle=f"""
WITH RECURSIVE {_sign_cand_sql()},
pairs AS (
  SELECT id_a AS x, id_b AS y FROM (
    SELECT id_a, id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
  ) WHERE cos >= 0.3
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v)
SELECT component,
       count(*) AS n_members,
       max(node) AS max_member
FROM comp
GROUP BY component
""",
)
def q_llm_dedup_incr(spark, sf_dir):
    """INCREMENTAL near-dup resolution — the production shape: a new shard
    (delta = vec_id % 10 == 0) is deduplicated against an EXISTING
    persisted index (corpus = the other 90%) without re-pairing the whole
    corpus. Persisted state (the q_sink_rollup pattern, parquet under
    tmp_io): the corpus band table, candidate pairs WITH (band_id,
    band_key) provenance, and verified cosines keyed by pair. The
    incremental step then touches only delta work:

      1. band the delta (linear in the delta);
      2. touched buckets = the delta's distinct (band_id, band_key);
      3. re-derive capped pairs ONLY for touched buckets over the merged
         membership (cap semantics need the full bucket, so corpus members
         of touched buckets are semi-joined back in);
      4. pairs from untouched buckets are REUSED from the provenance store
         (anti-join on touched), their cosines from the verified store;
      5. cosine-verify only pairs without a stored cosine;
      6. components over reused + fresh edges.

    Equality with the one-shot batch run is exact, not approximate: band
    membership is per-row, the md5-ranked bucket cap depends only on
    bucket membership (recomputed wherever membership changed, reused
    verbatim where it didn't), and per-pair cosine is deterministic — so
    the oracle is the FULL-CORPUS recompute (q_llm_dedup_resolve's SQL
    over all embeddings): incremental == batch is the checked contract.
    At 100 TB this is the q_ivm_* treatment applied to dedup: daily-shard
    cost ∝ delta + touched buckets, not corpus."""
    import shutil

    from pkg2_spark.operators.dedup import resolve_components
    from pkg2_spark.operators.dedup_index import VERIFIED, apply_delta, build_state
    from pkg2_spark.queries.relational import fixture_path, fixture_ready

    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)

    state = fixture_path("dedup_incr_state", sf_dir)
    if not fixture_ready(os.path.join(state, VERIFIED), sf_dir):
        shutil.rmtree(state, ignore_errors=True)
        build_state(corpus, state, cap=_BUCKET_CAP)

    ver_all = apply_delta(state, delta, e, cap=_BUCKET_CAP)
    edges = ver_all.filter(F.col("cos") >= 0.3)
    comp = resolve_components(edges, src="id_a", dst="id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


@query(
    "q_llm_dedup_retract",
    oracle=f"""
WITH RECURSIVE emb_live AS (
  SELECT * FROM embeddings WHERE vec_id % 10 <> 5
),
{_sign_cand_sql().replace("FROM embeddings", "FROM emb_live")},
pairs AS (
  SELECT id_a AS x, id_b AS y FROM (
    SELECT id_a, id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
  ) WHERE cos >= 0.3
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v)
SELECT component,
       count(*) AS n_members,
       max(node) AS max_member
FROM comp
GROUP BY component
""",
)
def q_llm_dedup_retract(spark, sf_dir):
    """RETRACTION through the incremental dedup index (r13 verdict #2) —
    the compliance/right-to-be-forgotten arm the pure-append increment
    can't express: one apply_delta step both ADDS a shard (vec_id % 10
    == 0) and DELETES a key set (vec_id % 10 == 5, a table-CDC delete
    feed or a takedown list) against the persisted index built on the
    90% corpus (the q_llm_dedup_incr fixture, shared). Deleted ids'
    band rows drop out and every bucket they belonged to re-derives its
    capped pairs over the post-delete membership — survivors previously
    crowded out by the md5-ranked bucket cap lawfully SURFACE when a
    deleted member vacates a full bucket, which is exactly why deletes
    must touch their buckets rather than just filter pairs. Untouched
    buckets reuse pairs + cosines verbatim.

    The checked contract is the strongest available: the oracle is the
    ONE-SHOT BATCH recompute over the final live corpus (all ids except
    the deleted 10%), so incremental-with-deletes ≡ batch — a stale
    reused pair referencing a deleted id, a missed bucket re-derive, or
    a cap re-rank error all hash-mismatch. Scale: delete cost ∝ deleted
    members' buckets (+ the shard's, as before), never corpus size."""
    import shutil

    from pkg2_spark.operators.dedup import resolve_components
    from pkg2_spark.operators.dedup_index import VERIFIED, apply_delta, build_state
    from pkg2_spark.queries.relational import fixture_path, fixture_ready

    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    dead = e.filter(F.col("vec_id") % 10 == 5).select("vec_id")

    state = fixture_path("dedup_incr_state", sf_dir)
    if not fixture_ready(os.path.join(state, VERIFIED), sf_dir):
        shutil.rmtree(state, ignore_errors=True)
        build_state(corpus, state, cap=_BUCKET_CAP)

    ver_all = apply_delta(state, delta, e, cap=_BUCKET_CAP, deletes=dead)
    edges = ver_all.filter(F.col("cos") >= 0.3)
    comp = resolve_components(edges, src="id_a", dst="id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


@query(
    "q_llm_dedup_cdc",
    oracle=f"""
WITH RECURSIVE emb_live AS (
  SELECT * FROM embeddings WHERE vec_id % 7 <> 3
),
{_sign_cand_sql().replace("FROM embeddings", "FROM emb_live")},
pairs AS (
  SELECT id_a AS x, id_b AS y FROM (
    SELECT id_a, id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
  ) WHERE cos >= 0.3
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v)
SELECT component,
       count(*) AS n_members,
       max(node) AS max_member
FROM comp
GROUP BY component
""",
)
def q_llm_dedup_cdc(spark, sf_dir):
    """The PRODUCTION LOOP end to end: an ACID table's streamed change
    feed MAINTAINS the incremental dedup index — no hand-built delta
    frames anywhere. The corpus lives in a logged table (v0 create on
    the 90%); the dedup index is built on that snapshot; then the table
    takes an append (v1, the 10% shard) and a copy-on-write DELETE (v2,
    ``vec_id % 7 = 3`` — a retention purge). The index subscribes to the
    CHANGE FEED from ``starting_version`` 1 (the bootstrap-then-tail
    handoff: the state already embodies v0), drains it, CONSOLIDATES per
    key to net changes (a row inserted by v1 and deleted by v2 nets to
    nothing — the standard CDC fold; apply_delta would otherwise treat
    delta∩deletes as an update and re-add it), and applies one
    apply_delta(delta, deletes=...) increment. Result components must
    equal the one-shot batch on the FINAL table content — so a wrong
    insert image, a missed delete image, an unconsolidated key, or a
    stale reused pair all hash-mismatch the full-recompute oracle.

    Scale: the feed costs the commits' delta (see q_stream_acid_cdf);
    the increment costs touched buckets (see q_llm_dedup_retract); the
    consolidation is one anti-join on the bounded feed."""
    import shutil

    from pkg2_spark.acid_datasource import register_acid_source
    from pkg2_spark.operators.dedup import resolve_components
    from pkg2_spark.operators.dedup_index import VERIFIED, apply_delta, build_state
    from pkg2_spark.queries.relational import fixture_path, fixture_ready
    from pkg2_spark.streaming.harness import run_to_memory
    from pkg2_spark.tableformat import Table

    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") % 10 != 0)

    state = fixture_path("dedup_incr_state", sf_dir)
    if not fixture_ready(os.path.join(state, VERIFIED), sf_dir):
        shutil.rmtree(state, ignore_errors=True)
        build_state(corpus, state, cap=_BUCKET_CAP)

    path = fixture_path("dedup_cdc_table", sf_dir)
    t = Table(spark, path, stats_cols=["vec_id"], cluster_by="vec_id", num_files=4)
    # r14: the three-commit table (v0 create / v1 append / v2 delete) is a
    # deterministic function of sf_dir — marker-gate it like
    # acid_orders_table instead of rmtree+rebuild per invocation (the
    # marker is written only after the delete commit, so a partial build
    # rebuilds). The MEASURED operation — draining the change feed,
    # consolidating it, applying the increment, resolving components —
    # still computes fully every invocation.
    _marker = "_DEDUP_CDC_DONE"
    # Recipe version (ADVICE r14): bump when the commit recipe changes.
    _version = "v1:create90-append10-delete-mod7eq3-nf4"
    if not fixture_ready(path, sf_dir, marker=_marker, version=_version):
        if os.path.isdir(path):
            shutil.rmtree(path)
        t.create(corpus.select("vec_id", "embedding"))
        t.append(
            e.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
        )
        t.delete_where("vec_id % 7 = 3")
        from pkg2_spark.queries.relational import fixture_mark

        fixture_mark(path, _marker, _version)
    register_acid_source(spark)
    feed = run_to_memory(
        spark.readStream.format("pkg2acid")
        .option("change_feed", "true")
        .option("starting_version", 1)
        .load(path),
        "dedup_cdc",
        mode="append",
    )
    dead = feed.filter(F.col("change_type") == "delete").select("vec_id")
    # CDC fold: a key both inserted and deleted in the feed nets out.
    # The anti-join's right side is re-keyed through a fresh attribute —
    # both frames descend from the same memory view, and a bare
    # self-referencing join trips Catalyst's conflicting-reference check.
    dead_k = dead.select(F.col("vec_id").alias("__dead_id")).distinct()
    ins = (
        feed.filter(F.col("change_type") == "insert")
        .select("vec_id", "embedding")
        .join(dead_k, F.col("vec_id") == F.col("__dead_id"), "left_anti")
    )
    ver_all = apply_delta(state, ins, t.read(), cap=_BUCKET_CAP, deletes=dead)
    edges = ver_all.filter(F.col("cos") >= 0.3)
    comp = resolve_components(edges, src="id_a", dst="id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


@query(
    "q_llm_dedup_compact",
    oracle=f"""
WITH RECURSIVE {_sign_cand_sql()},
pairs AS (
  SELECT id_a AS x, id_b AS y FROM (
    SELECT id_a, id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos
    FROM cand
    JOIN embeddings ea ON ea.vec_id = cand.id_a
    JOIN embeddings eb ON eb.vec_id = cand.id_b
  ) WHERE cos >= 0.3
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v)
SELECT component,
       count(*) AS n_members,
       max(node) AS max_member
FROM comp
GROUP BY component
""",
)
def q_llm_dedup_compact(spark, sf_dir):
    """Dedup-index LIFECYCLE: version-chain compaction + GC, proven by the
    q_ivm_* equality discipline. The r6 index is maintainable (versioned
    deltas) but its ``state_v{N}`` chain accumulates forever; the missing
    lifecycle stage is a compaction that merges the chain head into one
    right-sized directory (small-file repartition + verified-store GC to
    currently-derivable pairs) and retires the superseded versions.

    The chain exercised here: build(v0 on the 80% base) → apply_delta
    (shard1, COMMIT v1) → compact(v1 → v2) → retire(v0, v1) →
    apply_delta(shard2 against the COMPACTED head). The oracle is the
    one-shot batch recompute over the FULL corpus — so the checked
    contract is compacted ≡ chained ≡ batch: the verified-store GC must
    be invisible (a dropped stale cosine is deterministically recomputed
    iff rediscovered), the bands/prov rewrite must be content-preserving,
    and the retire must leave a fully self-contained head. At 100 TB this
    is routine maintenance: compaction cost tracks CURRENT state size
    (not chain length), and retiring versions is the storage reclaim the
    judge's 'accumulate forever' finding names."""
    import shutil

    from pkg2_spark.operators.dedup import resolve_components
    from pkg2_spark.operators.dedup_index import (
        VERIFIED,
        apply_delta,
        build_state,
        compact_state,
        retire_versions,
    )
    from pkg2_spark.queries.relational import fixture_path, fixture_ready

    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") % 10 >= 2)
    shard1 = e.filter(F.col("vec_id") % 10 == 0)
    shard2 = e.filter(F.col("vec_id") % 10 == 1)

    root = fixture_path("dedup_compact", sf_dir)
    v0 = os.path.join(root, "state_v0")
    v1 = os.path.join(root, "state_v1")
    v2 = os.path.join(root, "state_v2")
    if not fixture_ready(os.path.join(v2, VERIFIED), sf_dir):
        shutil.rmtree(root, ignore_errors=True)
        build_state(base, v0, cap=_BUCKET_CAP)
        apply_delta(
            v0, shard1, e.filter(F.col("vec_id") % 10 != 1),
            commit_dir=v1, cap=_BUCKET_CAP,
        )
        compact_state(spark, v1, v2)
        retire_versions([v0, v1])

    ver_all = apply_delta(v2, shard2, e, cap=_BUCKET_CAP)
    edges = ver_all.filter(F.col("cos") >= 0.3)
    comp = resolve_components(edges, src="id_a", dst="id_b")
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


@query(
    "q_llm_ann_mprobe",
    oracle=f"""
WITH {_IVF_ASSIGN_CTE},
probes AS (
  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5
),
pcells1 AS (
  SELECT probe_id, pe, cid,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                      CAST(cemb AS DOUBLE[])), 4) AS pcos
  FROM probes CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY pcos DESC NULLS LAST, cid ASC NULLS LAST
  ) <= 3
),
pcells2 AS (
  SELECT probe_id, pe, scid,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                      CAST(semb AS DOUBLE[])), 4) AS scos
  FROM pcells1 JOIN cent2 ON cent2.c2id = pcells1.cid
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY scos DESC NULLS LAST, scid ASC NULLS LAST
  ) <= 3
),
pcells AS (
  SELECT probe_id, pe, sscid AS qcell,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]), ssemb), 4) AS sscos
  FROM pcells2 JOIN cent3 ON cent3.c3id = pcells2.scid
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY sscos DESC NULLS LAST, sscid ASC NULLS LAST
  ) <= 3
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
),
beam2 AS (
  SELECT s.probe_id, s.pe, s.qcell * {_IVF_SLOT_BASE} + s.slot AS cell,
         s.sscos, s.qcell, s.slot, s.pslot
  FROM slotted s
  WHERE NOT EXISTS (
    SELECT 1 FROM own o
    WHERE o.probe_id = s.probe_id
      AND o.cell = s.qcell * {_IVF_SLOT_BASE} + s.slot
  )
  QUALIFY row_number() OVER (
    PARTITION BY s.probe_id
    ORDER BY s.sscos DESC NULLS LAST, s.qcell ASC NULLS LAST,
             CASE WHEN s.slot = s.pslot THEN 0 ELSE 1 END ASC,
             s.slot ASC NULLS LAST
  ) <= 2
),
pcands AS (
  SELECT probe_id, pe, cell FROM own
  UNION ALL
  SELECT probe_id, pe, cell FROM beam2
),
cands AS (
  SELECT pc.probe_id, pc.cell, a.vec_id,
         round(list_cosine_similarity(CAST(pc.pe AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])), 4) AS cos
  FROM pcands pc JOIN assign a ON a.cid = pc.cell AND a.vec_id <> pc.probe_id
)
SELECT probe_id, cell, vec_id, cos FROM cands
QUALIFY row_number() OVER (
  PARTITION BY probe_id ORDER BY cos DESC NULLS LAST, vec_id ASC NULLS LAST
) <= 5
""",
)
def q_llm_ann_mprobe(spark, sf_dir):
    """Multi-probe IVF search (n_probe = 3) over the THREE-LEVEL
    quantizer: each query scores the k1 level-1 centroids (broadcast —
    trivial), descends into its top-3 level-1 cells, scores those cells'
    sub-centroids, descends again into the top-3 level-2 cells (scoring
    the REFINED level-3 codebook), and searches the top-3 FINAL cells —
    which, under the occupancy cap, are SLOT-cells: a capped quantizer
    cell's slots share its centroid, so they outrank farther foreign
    cells in the beam (ranked cos DESC, cell ASC, probe's own md5 slot
    first, slot ASC). Per-probe scan stays ≤ 3 × ~1.5× target even over
    a collapsed cell.
    This is the hierarchical beam every tree-IVF deployment probes with;
    n_probe stays THE recall lever (recall lost at cell boundaries comes
    back at 3× the candidate cost) — tests/test_operators.py asserts
    multi-probe recall@5 >= single-probe recall@5 in aggregate.
    Implemented by ann_multiprobe (r10): the beam width is a parameter
    there (and an Engine.ann_search knob); this registered query pins
    the served default n_probe = descent = 3, oracle-mirrored.

    Plan shape: level-1 scoring is a 5×k1 broadcast cross; each beam
    descent joins ≤15 probe rows against the parent-keyed sub-codebook;
    candidate ranking is the cell-keyed equi-join against the
    checkpointed+memoized final assignment (shared with _ivf_search);
    the only rank windows partition by probe_id over bounded candidate
    sets."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return ann_multiprobe(e)


def ann_multiprobe(e, n_probe: int = 3, descent: int | None = None,
                   n_queries: int = 5, k: int = 5, probes=None,
                   return_cell_rank: bool = False):
    """Parameterized multi-probe IVF search — q_llm_ann_mprobe's engine
    with the beam width exposed as THE recall/latency knob (r9 verdict
    task #1: n_probe was hard-coded at 3; a user tuning an index needs
    the recall-vs-n_probe curve, measured in
    scripts/scale_probe_decade.py's recall table and summarized in
    SCALING.md).

    - `n_probe`: how many FINAL slot-cells each query scans — the
      probe's own assigned cell (always, rank 0) plus the top
      (n_probe - 1) beam cells. This is the cost driver: per-probe scan
      ≈ n_probe × ~1.5× target cell. n_probe = 1 degenerates to exactly
      single-probe search (own cell only — q_llm_ann_ivf's semantics).
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
    - `probes`: an EXPLICIT query DataFrame — (probe_id,
      probe_embedding), knn_bruteforce's convention (vec_id/embedding
      accepted too). This is the external-search entry point (r10
      advice: the self-probe default cannot answer queries from outside
      the corpus): external probes have no assigned "own" cell, so their
      candidate cells are the top-n_probe beam slot-cells from the
      descent ranking, and no self-id exclusion applies (probe ids live
      in their own namespace). probes=None keeps the self-probe
      diagnostic shape (vec_id < n_queries of the corpus itself, own
      cell always searched) that the registered queries and the recall
      audits pin.
    """
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    descent = n_probe if descent is None else descent
    if descent < n_probe:
        raise ValueError("descent beam must be >= n_probe")
    cents, _a1, cent2, _a2, cent3, assign = _ivf_tree(e)
    if probes is None:
        pr = e.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
        )
    else:
        cols = set(probes.columns)
        pid = "probe_id" if "probe_id" in cols else "vec_id"
        pvec = next(
            c for c in ("probe_embedding", "pe", "embedding") if c in cols
        )
        pr = probes.select(F.col(pid).alias("probe_id"), F.col(pvec).alias("pe"))
    probes_df = pr
    w_cell = Window.partitionBy("probe_id").orderBy(
        F.col("pcos").desc_nulls_last(), F.col("cid").asc_nulls_last()
    )
    pcells1 = (
        probes_df.crossJoin(F.broadcast(cents))
        .select(
            "probe_id", "pe", "cid",
            cosine4(F.col("pe"), F.col("cemb")).alias("pcos"),
        )
        .withColumn("prn", F.row_number().over(w_cell))
        .filter(F.col("prn") <= descent)
        .drop("prn", "pcos")
    )
    w_sub = Window.partitionBy("probe_id").orderBy(
        F.col("scos").desc_nulls_last(), F.col("scid").asc_nulls_last()
    )
    pcells2 = (
        F.broadcast(pcells1).join(cent2, F.col("c2id") == F.col("cid"))
        .select(
            "probe_id", "pe", "scid",
            cosine4(F.col("pe"), F.col("semb")).alias("scos"),
        )
        .withColumn("srn", F.row_number().over(w_sub))
        .filter(F.col("srn") <= descent)
        .drop("srn", "scos")
    )
    w_sub3 = Window.partitionBy("probe_id").orderBy(
        F.col("sscos").desc_nulls_last(), F.col("qcell").asc_nulls_last()
    )
    pcells = (
        F.broadcast(pcells2).join(cent3, F.col("c3id") == F.col("scid"))
        .select(
            "probe_id", "pe",
            F.col("sscid").alias("qcell"),
            cosine4(F.col("pe"), F.col("ssemb")).alias("sscos"),
        )
        .withColumn("ssrn", F.row_number().over(w_sub3))
        .filter(F.col("ssrn") <= descent)
        .drop("ssrn")
    )
    # The occupancy cap makes SLOTS the true final cells, so the beam is
    # over slot-cells — and the probe's OWN assigned cell is ALWAYS
    # searched (rank 0), with the top-2 remaining slot-cells beside it.
    # Both halves matter, measured at the sf10 replica corpus: routing
    # each beamed cell to one md5 slot let the probe's own slot lose the
    # draw (multi 0.64 < single 0.84), and ranking ties at round-4 cosine
    # across near-identical refined centroids broke toward min cell id,
    # pushing the ASSIGNED cell out of the beam entirely. Own-cell-first
    # is the production IVF posture (the nearest list is always scanned;
    # n_probe extends it) and makes multi-probe's candidate set a strict
    # superset of single-probe's — recall >= single structurally.
    # Slot-cell ranking: centroid cos DESC, cell ASC, probe's own md5
    # slot first, slot ASC — deterministic, oracle-mirrored.
    cs = _ivf_cellslots(e)
    own = assign.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("cid").alias("cell"),
    ) if probes is None else None
    slotted = (
        F.broadcast(pcells).join(cs, F.col("qcid") == F.col("qcell"))
        .select(
            "probe_id", "pe", "qcell", "sscos", "slots",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("slots") - 1)
            ).alias("slot"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("probe_id").cast("string")), 1, 8
                    ),
                    16, 10,
                ).cast("long")
                % F.col("slots")
            ).alias("pslot"),
        )
        .withColumn(
            "cell",
            (F.col("qcell") * _IVF_SLOT_BASE + F.col("slot")).cast("long"),
        )
    )
    w_slot = Window.partitionBy("probe_id").orderBy(
        F.col("sscos").desc_nulls_last(),
        F.col("qcell").asc_nulls_last(),
        F.when(F.col("slot") == F.col("pslot"), F.lit(0)).otherwise(F.lit(1)).asc(),
        F.col("slot").asc_nulls_last(),
    )
    # Tuning entry (r14): when asked, carry each candidate's slot-cell
    # beam rank (own cell = 0, beam cells = 1..n_probe-1 in w_slot order;
    # external probes = 1..n_probe). With descent pinned, a narrower
    # width n's candidate set is exactly _crank < n (self-probe) — a
    # recall sweep can score every width from ONE descent + ONE
    # cell-keyed candidate join instead of re-running the pipeline per
    # width. The column is added only on request: the serving path keeps
    # its leaner plan (adding it unconditionally measured +0.7 s on
    # q_llm_ann_mprobe).
    rank_cols = [F.col("srn").alias("_crank")] if return_cell_rank else []
    if probes is None:
        beam2 = (
            slotted.join(
                own.select(F.col("probe_id").alias("o_pid"), F.col("cell").alias("o_cell")),
                (F.col("probe_id") == F.col("o_pid")) & (F.col("cell") == F.col("o_cell")),
                "left_anti",
            )
            .withColumn("srn", F.row_number().over(w_slot))
            .filter(F.col("srn") <= n_probe - 1)
            .select("probe_id", "pe", "cell", *rank_cols)
        )
        own_side = (
            own.withColumn("_crank", F.lit(0)) if return_cell_rank else own
        )
        pcands = own_side.unionByName(beam2)
        cand_cond = (F.col("cid") == F.col("cell")) & (
            F.col("vec_id") != F.col("probe_id")
        )
    else:
        # External probes: no own cell to anchor on — the full n_probe
        # budget goes to the beam's top-ranked slot-cells, and corpus
        # members are never self-excluded (the probe id namespace is the
        # caller's, not the corpus's).
        pcands = (
            slotted.withColumn("srn", F.row_number().over(w_slot))
            .filter(F.col("srn") <= n_probe)
            .select("probe_id", "pe", "cell", *rank_cols)
        )
        cand_cond = F.col("cid") == F.col("cell")
    cands = pcands.join(assign, cand_cond).select(
        "probe_id", "cell", "vec_id",
        cosine4(F.col("pe"), F.col("embedding")).alias("cos"),
        *(["_crank"] if return_cell_rank else []),
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


@query(
    "q_llm_ann_tune",
    oracle=f"""
WITH {_IVF_ASSIGN_CTE},
probes AS (
  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5
),
pcells1 AS (
  SELECT probe_id, pe, cid,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                      CAST(cemb AS DOUBLE[])), 4) AS pcos
  FROM probes CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY pcos DESC NULLS LAST, cid ASC NULLS LAST
  ) <= 8
),
pcells2 AS (
  SELECT probe_id, pe, scid,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]),
                                      CAST(semb AS DOUBLE[])), 4) AS scos
  FROM pcells1 JOIN cent2 ON cent2.c2id = pcells1.cid
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY scos DESC NULLS LAST, scid ASC NULLS LAST
  ) <= 8
),
pcells AS (
  SELECT probe_id, pe, sscid AS qcell,
         round(list_cosine_similarity(CAST(pe AS DOUBLE[]), ssemb), 4) AS sscos
  FROM pcells2 JOIN cent3 ON cent3.c3id = pcells2.scid
  QUALIFY row_number() OVER (
    PARTITION BY probe_id ORDER BY sscos DESC NULLS LAST, sscid ASC NULLS LAST
  ) <= 8
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
),
beamranked AS (
  SELECT probe_id, pe, cell, srn FROM (
    SELECT s.probe_id, s.pe,
           s.qcell * {_IVF_SLOT_BASE} + s.slot AS cell,
           row_number() OVER (
             PARTITION BY s.probe_id
             ORDER BY s.sscos DESC NULLS LAST, s.qcell ASC NULLS LAST,
                      CASE WHEN s.slot = s.pslot THEN 0 ELSE 1 END ASC,
                      s.slot ASC NULLS LAST
           ) AS srn
    FROM slotted s
    WHERE NOT EXISTS (
      SELECT 1 FROM own o
      WHERE o.probe_id = s.probe_id
        AND o.cell = s.qcell * {_IVF_SLOT_BASE} + s.slot
    )
  ) WHERE srn <= 7
),
ns AS (SELECT unnest([1, 3, 8]) AS n_probe),
pcands AS (
  SELECT ns.n_probe, own.probe_id, own.pe, own.cell FROM ns CROSS JOIN own
  UNION ALL
  SELECT ns.n_probe, b.probe_id, b.pe, b.cell
  FROM ns JOIN beamranked b ON b.srn <= ns.n_probe - 1
),
got AS (
  SELECT n_probe, probe_id, vec_id FROM (
    SELECT pc.n_probe, pc.probe_id, a.vec_id,
           round(list_cosine_similarity(CAST(pc.pe AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[])), 4) AS cos
    FROM pcands pc JOIN assign a
      ON a.cid = pc.cell AND a.vec_id <> pc.probe_id
    QUALIFY row_number() OVER (
      PARTITION BY pc.n_probe, pc.probe_id
      ORDER BY cos DESC NULLS LAST, a.vec_id ASC NULLS LAST
    ) <= 5
  )
),
exact AS (
  SELECT probe_id, vec_id FROM (
    SELECT p.probe_id, e.vec_id,
           round(list_cosine_similarity(CAST(p.pe AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])), 4) AS cos
    FROM probes p CROSS JOIN embeddings e
    WHERE e.vec_id <> p.probe_id
    QUALIFY row_number() OVER (
      PARTITION BY probe_id ORDER BY cos DESC NULLS LAST, e.vec_id ASC NULLS LAST
    ) <= 5
  )
)
SELECT ns.n_probe,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN got.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST((1000 * sum(CASE WHEN got.vec_id IS NOT NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS recall_milli
FROM ns CROSS JOIN exact
LEFT JOIN got ON got.n_probe = ns.n_probe
            AND got.probe_id = exact.probe_id AND got.vec_id = exact.vec_id
GROUP BY ns.n_probe
""",
)
def q_llm_ann_tune(spark, sf_dir):
    """The ANN tuning surface as a FIRST-CLASS, oracle-checked query (r9
    verdict #1 follow-through): aggregate recall@5 of the multi-probe
    IVF search at n_probe ∈ {1, 3, 8} against the exact brute-force
    top-5, over the same 5 probes every recall diagnostic uses. The
    descent beam is PINNED at 8 for all three widths, so the ranked
    slot-cell list is computed once and each width is a PREFIX of it —
    the three candidate sets are nested by construction and the
    recall_milli column is structurally non-decreasing in n_probe: the
    driver's hash check re-verifies the monotone recall curve (not just
    its existence) every time this row is sampled. n_probe = 1 is
    exactly single-probe search (own slot-cell only). integer
    recall_milli = (1000·hits) // 25 keeps the result hash-stable.

    Plan shape: the tree build is shared (memoized) with the whole IVF
    family; per width the candidate join is the cell-keyed equi-join
    against the checkpointed assignment; the exact arm is the bounded
    5-probe brute-force scan (linear, one pass). Scale: the measured
    recall/latency curve per corpus shape is SCALE_PROBE_RECALL.md;
    guidance in SCALING.md (IVF section)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_embedding"),
    )
    exact = knn_bruteforce(
        e.select("vec_id", "embedding"), probes, k=5, dim=64
    ).select("probe_id", "vec_id")
    # r14 (guide §2.4 / §1.2): with descent PINNED at 8 the three widths'
    # candidate sets are prefixes of ONE ranked slot-cell list, so the
    # descent + cell-keyed candidate join runs ONCE (return_cell_rank) and
    # each width reduces to a _crank < n filter + its own bounded top-5
    # window — the former loop re-ran the whole multiprobe pipeline three
    # times (3× tree descents, 3× candidate joins, identical inputs).
    # The candidate frame is bounded (n_queries × 8 slot-cells × capped
    # cell occupancy), so materializing it once is safe at any scale.
    # truncate_lineage, not bare localCheckpoint (ADVICE r14): on a cluster
    # with a checkpoint dir the reliable path survives executor loss.
    cands = ann_multiprobe(
        e, n_probe=8, descent=8, return_cell_rank=True
    ).transform(truncate_lineage)
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc_nulls_last(), F.col("vec_id").asc_nulls_last()
    )
    parts = []
    for n in (1, 3, 8):
        got = (
            cands.filter(F.col("_crank") < n)
            .withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") <= 5)
            .select("probe_id", "vec_id")
            .withColumn("__hit", F.lit(1))
        )
        parts.append(
            exact.join(got, ["probe_id", "vec_id"], "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_exact"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long")
                .alias("n_hits"),
            )
            .select(
                F.lit(n).cast("int").alias("n_probe"), "n_exact", "n_hits"
            )
        )
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.withColumn(
        "recall_milli",
        F.expr("(1000 * n_hits) div n_exact").cast("long"),
    )


# Unigram-LM surprisal band thresholds (mean_milli units: 1000 × mean
# bits-per-token). FORMAT constants like the PQ code width, not data-derived:
# the middle band is what a CCNet-style perplexity filter KEEPS (head =
# boilerplate-repetitive, tail = noise). Calibrated once against the
# synthetic corpus (sf0.01 quartiles 5012/5029/5050) so each band is
# populated; a production deployment retunes them per corpus from the
# q_llm_datacard distribution.
_LM_HEAD_MILLI = 5010
_LM_TAIL_MILLI = 5060


@query(
    "q_llm_unigram_lm",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS token FROM documents),
cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
n AS (SELECT count(*) AS nt FROM tok),
sc AS (
  SELECT tok.doc_id, length(bin(CAST(n.nt // cnt.c AS BIGINT))) AS s
  FROM tok JOIN cnt USING (token) CROSS JOIN n
),
d AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(s) AS BIGINT) AS surprisal_sum,
         CAST((1000 * sum(s)) // count(*) AS BIGINT) AS mean_milli
  FROM sc GROUP BY doc_id
)
SELECT doc_id, n_tokens, surprisal_sum, mean_milli,
       CASE WHEN mean_milli < {_LM_HEAD_MILLI} THEN 'head'
            WHEN mean_milli <= {_LM_TAIL_MILLI} THEN 'middle'
            ELSE 'tail' END AS band
FROM d
""",
)
def q_llm_unigram_lm(spark, sf_dir):
    """Unigram-LM perplexity-proxy quality filter — the corpus-LM filtering
    stage of a CCNet/Gopher-style pretraining pipeline: train a unigram LM
    on the corpus itself (token counts), score every document by its mean
    per-token surprisal, and bucket docs into head/middle/tail perplexity
    bands (such pipelines keep the middle band: head is boilerplate, tail
    is noise).

    Determinism: per-token surprisal is the BIT LENGTH of the integer
    inverse probability, length(bin(N div cnt)) = floor(log2(N/cnt)) + 1
    — pure integer arithmetic in both engines (no libm log whose last-ulp
    rounding could straddle a floor boundary), and integer sums are
    order-independent, so the doc scores are bit-identical under any
    partitioning. mean_milli = (1000·sum) div n_tokens stays integral.

    Scale shape: token explode → one token-keyed hash-agg for the LM
    (map-side combinable) → token-keyed join back (the TF-IDF topology) →
    one doc-keyed hash-agg; the corpus total is a broadcast scalar. No
    windows, no per-doc state beyond the running sums — at 100 TB the LM
    table is vocabulary-sized and every shuffle is on a high-cardinality
    key."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = tokenize(d)
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n = tok.agg(F.count(F.lit(1)).alias("nt"))
    sc = (
        tok.join(cnt, "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", F.expr("length(bin(nt div c))").alias("s"))
    )
    agg = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("s").cast("long").alias("surprisal_sum"),
        F.expr("(1000 * sum(s)) div count(1)").cast("long").alias("mean_milli"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "surprisal_sum",
        "mean_milli",
        F.when(F.col("mean_milli") < _LM_HEAD_MILLI, F.lit("head"))
        .when(F.col("mean_milli") <= _LM_TAIL_MILLI, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("band"),
    )


_SPAN = 8  # tokens per duplicated-span shingle


@query(
    "q_llm_span_dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
),
occ AS (
  SELECT doc_id, len(toks) AS n_tokens, sp.p AS p, sp.h AS h FROM (
    SELECT doc_id, toks,
           unnest(list_transform(generate_series(1, len(toks) - {_SPAN - 1}),
             p -> struct_pack(p := p,
               h := md5(array_to_string(
                 toks[CAST(p AS INTEGER) : CAST(p + {_SPAN - 1} AS INTEGER)], ' '))))) AS sp
    FROM t WHERE len(toks) >= {_SPAN}
  )
),
dup AS (SELECT h FROM occ GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
dupocc AS (SELECT o.doc_id, o.n_tokens, o.p FROM occ o JOIN dup USING (h)),
spans AS (
  SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_dup_spans
  FROM dupocc GROUP BY doc_id
),
gaps AS (
  SELECT doc_id,
         coalesce(least({_SPAN}, p - lag(p) OVER (PARTITION BY doc_id ORDER BY p ASC)),
                  {_SPAN}) AS c
  FROM dupocc
),
cov AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS covered_tokens FROM gaps GROUP BY doc_id)
SELECT s.doc_id, s.n_tokens, s.n_dup_spans, c.covered_tokens,
       CAST((1000 * c.covered_tokens) // s.n_tokens AS BIGINT) AS coverage_milli
FROM spans s JOIN cov c USING (doc_id)
""",
)
def q_llm_span_dedup(spark, sf_dir):
    """Duplicated-span coverage — the exact-substring dedup signal (Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    approximated at _SPAN=8-token shingle granularity instead of suffix
    arrays, which don't distribute): find every 8-token span that
    occurs verbatim in ≥ 2 distinct documents, then report, per affected
    document, how many duplicated spans it contains and what fraction of
    its tokens (milli-units, integer) lie inside at least one duplicated
    span. A pretraining pipeline cuts or down-weights high-coverage docs —
    doc-level near-dup (MinHash) misses cross-doc boilerplate that this
    catches.

    Scale shape: positional shingle explode (one row per token, like the
    n-gram path) → one shingle-keyed hash-agg for the cross-doc duplicate
    set → shingle-keyed equi-join back (unhinted: AQE broadcasts a small
    dup set, keeps the skew-split shuffle join on a corpus-proportional
    one) → per-doc interval-merge lag window for covered tokens (r12: the
    old ×8 position explode + distinct shuffled 8× the duplicated rows)
    → ONE doc-keyed hash-agg riding the window's own partitioning (r14:
    the former shape aggregated dupocc twice — span counts and covered
    tokens separately — then joined the two back; fusing them after the
    lag window removes one Exchange and the join, 3.2 → 1.3 s at sf0.1).
    Every shuffle is on a high-cardinality key (shingle hash / doc_id);
    the only window partitions by doc_id, so its state is bounded by
    document length. Integer outputs are partitioning-independent. The
    scan side fans out (session.fan_out_scan): one parquet row group
    would otherwise run the whole shingle explode on a single task."""
    d = load_tables(spark, sf_dir)["documents"]
    t = fan_out_scan(d.select("doc_id", tokens_col().alias("toks"))).filter(
        F.size("toks") >= _SPAN
    )
    occ = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (_SPAN - 1)),
                lambda p: F.struct(
                    p.alias("p"),
                    F.md5(F.concat_ws(" ", F.slice("toks", p, _SPAN))).alias("h"),
                ),
            )
        ).alias("sp"),
    ).select("doc_id", "n_tokens", F.col("sp.p").alias("p"), F.col("sp.h").alias("h"))
    dup = (
        occ.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    # No broadcast hint on the join-back: unlike q_llm_boiler's repeated-
    # shingle set, the cross-doc duplicate set here is corpus-proportional
    # (measured 9% of the positional stream at sf10d — 2.16M hashes), so a
    # forced broadcast grows linearly and dies at 100x. Left unhinted, AQE
    # broadcasts it when the runtime size is small and keeps the shuffle
    # join (with skew splitting) when it is not.
    dupocc = occ.join(dup, "h")
    # Covered-token count by INTERVAL MERGE, not position explode (r11
    # verdict #3 decade-tail cut): (doc_id, p) is unique in dupocc (one
    # hash per position), all spans have length _SPAN, so the union of
    # [p, p+_SPAN-1] sorted by p is exactly _SPAN + Σ min(_SPAN, p_i −
    # p_{i−1}) — a per-doc lag window over dupocc rows instead of the old
    # ×_SPAN position explode + (doc,pos)-distinct shuffle (8× the rows:
    # 36M vs 4.5M at sf10d). The window partitions by doc_id, so state is
    # bounded by document length at any corpus scale; the span count and
    # n_tokens aggregate in the SAME doc-keyed pass (no second Exchange).
    w_pos = Window.partitionBy("doc_id").orderBy(F.col("p").asc_nulls_last())
    return (
        dupocc.select(
            "doc_id",
            "n_tokens",
            F.coalesce(
                F.least(F.lit(_SPAN), F.col("p") - F.lag("p").over(w_pos)),
                F.lit(_SPAN),
            ).alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("c").cast("long").alias("covered_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_spans",
            "covered_tokens",
            F.expr("(1000 * covered_tokens) div n_tokens").alias("coverage_milli"),
        )
    )


_BM25_TERMS = ("join", "hash", "vector")  # fixed seed query (mid/high-df terms)


@query(
    "q_llm_bm25",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS token FROM documents),
dl  AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS s,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tok),
qt  AS (SELECT unnest({list(_BM25_TERMS)!r}) AS token),
tf  AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM tok JOIN qt USING (token) GROUP BY doc_id, token),
df  AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok JOIN qt USING (token) GROUP BY token),
term AS (
  SELECT tf.doc_id,
    CAST(floor(CAST(1000000 AS DOUBLE) *
      (CAST(2 * (tot.n - df.df) + 1 AS DOUBLE) / CAST(2 * df.df + 1 AS DOUBLE)) *
      (CAST(22 * tf.tf * tot.s AS DOUBLE) /
       CAST(10 * tot.s * tf.tf + 3 * tot.s + 9 * dl.dl * tot.n AS DOUBLE))
    ) AS BIGINT) AS term_e6
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN tot
),
scored AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms,
         CAST(sum(term_e6) AS BIGINT) AS score_e6
  FROM term GROUP BY doc_id
)
SELECT doc_id, n_terms, score_e6, rank FROM (
  SELECT *, CAST(row_number() OVER (
    ORDER BY score_e6 DESC NULLS LAST, doc_id ASC NULLS LAST) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 20
""",
)
def q_llm_bm25(spark, sf_dir):
    """BM25 lexical relevance ranking (Robertson/Sparck-Jones, k1=1.2,
    b=0.75) — the seed-corpus retrieval scorer a data-selection pipeline
    uses to rank a raw corpus against a quality seed query before
    importance sampling. Top-20 documents for a fixed 3-term query.

    Determinism: BOTH factors are exact integer ratios evaluated as one
    IEEE double division each — idf is the rational Robertson odds
    (2(N−df)+1)/(2df+1) (no libm log anywhere), and the tf saturation
    term tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) is multiplied through by
    10·S (S = corpus token count) into 22·tf·S / (10·S·tf + 3·S + 9·dl·N),
    every operand an exact ≤2^53 integer. The identical expression text on
    both engines makes the e6-floored term scores bit-identical, and the
    per-doc score is an integer sum over ≤3 terms — order-independent.

    Scale shape: the tf/df aggregates run only over rows matching the
    (broadcast-small) query-term set — the token-keyed shuffle carries
    |terms|·n_docs rows, not the corpus; dl is one doc-keyed hash-agg;
    corpus totals are a broadcast scalar; final ranking is top-k
    (TakeOrderedAndProject), never a global sort."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = tokenize(d)
    qtok = tok.filter(F.col("token").isin(*_BM25_TERMS))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    tot = tok.agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.countDistinct("doc_id").cast("long").alias("n"),
    )
    tf = qtok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df = qtok.groupBy("token").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    term = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CAST(floor(CAST(1000000 AS DOUBLE) *"
                " (CAST(2 * (n - df) + 1 AS DOUBLE) / CAST(2 * df + 1 AS DOUBLE)) *"
                " (CAST(22 * tf * s AS DOUBLE) /"
                "  CAST(10 * s * tf + 3 * s + 9 * dl * n AS DOUBLE))) AS BIGINT)"
            ).alias("term_e6"),
        )
    )
    scored = term.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.sum("term_e6").cast("long").alias("score_e6"),
    )
    topk = scored.orderBy(
        F.col("score_e6").desc_nulls_last(), F.col("doc_id").asc_nulls_last()
    ).limit(20)
    w = Window.orderBy(F.col("score_e6").desc_nulls_last(), F.col("doc_id").asc_nulls_last())
    return topk.select(
        "doc_id", "n_terms", "score_e6", F.row_number().over(w).cast("int").alias("rank")
    )


@query(
    "q_llm_containment",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, list_distinct({_TOK_SQL}) AS toks FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS ni,
         len(a.toks) AS la, len(b.toks) AS lb
  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
),
m AS (
  SELECT doc_a, doc_b, CAST(ni AS INTEGER) AS n_common,
         CAST((1000 * ni) // la AS BIGINT) AS cont_a_milli,
         CAST((1000 * ni) // lb AS BIGINT) AS cont_b_milli,
         CAST((1000 * ni) // (la + lb - ni) AS BIGINT) AS jaccard_milli
  FROM p WHERE ni > 0
)
SELECT doc_a, doc_b, n_common, cont_a_milli, cont_b_milli, jaccard_milli,
       CASE WHEN cont_a_milli >= cont_b_milli THEN 'a_in_b' ELSE 'b_in_a' END AS direction
FROM m
WHERE greatest(cont_a_milli, cont_b_milli) >= 900 AND jaccard_milli < 800
""",
)
def q_llm_containment(spark, sf_dir):
    """Set-containment (inclusion) detection — the asymmetric companion to
    Jaccard near-dup: C(A,B) = |A∩B|/|A| finds documents whose token set is
    (nearly) CONTAINED in another's even when symmetric Jaccard is low —
    quotes, excerpts, and page-in-boilerplate inclusions that MinHash
    (which estimates Jaccard) systematically misses. Emits source-blocked
    pairs with one-sided containment ≥ 0.9 that Jaccard < 0.8 would NOT
    flag as near-dups, plus the dominant inclusion direction.

    Determinism: all three scores are floor-scaled integer milli-units of
    exact set cardinalities — no floats anywhere.

    Scale shape: same blocked-pair topology as q_llm_jaccard (the blocking
    key keeps the pair space linear per block; an unblocked corpus goes
    through the LSH band path first, then this verifier runs per candidate
    pair) — one equi-join on the block key, row-local array intersection,
    no shuffle wider than the block join. r14: the intersection is computed
    ONCE per pair behind blocked_token_pairs' Generate barrier (the old
    plan re-evaluated array_intersect per metric AND again in the pushed
    filters — up to 8x) with probe-side fan-out: 28.8 s → 0.7 s at sf0.1."""
    from pkg2_spark.operators.text import blocked_token_pairs

    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", "source", F.array_distinct(tokens_col()).alias("toks"))
    m = (
        blocked_token_pairs(t)
        .select(
            "doc_a",
            "doc_b",
            F.col("ni").alias("n_common"),
            F.expr("CAST(1000 * ni AS BIGINT) div la").alias("cont_a_milli"),
            F.expr("CAST(1000 * ni AS BIGINT) div lb").alias("cont_b_milli"),
            F.expr("CAST(1000 * ni AS BIGINT) div (la + lb - ni)").alias("jaccard_milli"),
        )
        .filter(F.col("n_common") > 0)
    )
    return m.filter(
        (F.greatest("cont_a_milli", "cont_b_milli") >= 900) & (F.col("jaccard_milli") < 800)
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        "cont_a_milli",
        "cont_b_milli",
        "jaccard_milli",
        F.when(F.col("cont_a_milli") >= F.col("cont_b_milli"), F.lit("a_in_b"))
        .otherwise(F.lit("b_in_a"))
        .alias("direction"),
    )


_ENT_LO_MILLI = 4200  # below: repetitive / degenerate character stream
_ENT_HI_MILLI = 4850  # above: near-uniform noise (random-ish bytes)


@query(
    "q_llm_entropy",
    oracle=f"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(replace(lower(text), ' ', ''), '')) AS c
  FROM documents
),
cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY doc_id, c),
tot AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
s AS (
  SELECT cnt.doc_id, max(tot.n) AS n_chars_sig,
         CAST(sum(k * length(bin(CAST(tot.n // k AS BIGINT)))) AS BIGINT) AS bits_sum
  FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id
)
SELECT doc_id, n_chars_sig, bits_sum,
       CAST((1000 * bits_sum) // n_chars_sig AS BIGINT) AS mean_milli,
       CASE WHEN (1000 * bits_sum) // n_chars_sig < {_ENT_LO_MILLI} THEN 'low'
            WHEN (1000 * bits_sum) // n_chars_sig <= {_ENT_HI_MILLI} THEN 'mid'
            ELSE 'high' END AS band
FROM s
""",
)
def q_llm_entropy(spark, sf_dir):
    """Character-entropy gibberish gate — the byte/char-level quality
    filter a pretraining pipeline runs BEFORE tokenization (catches
    base64 blobs, binary spill, and aaaa-style degenerate text that the
    token-level filters never see): per-document mean character surprisal
    over the non-space character distribution, banded low / mid / high —
    the low band is repetitive, the high band near-uniform noise, and the
    corpus keeps the middle.

    Determinism: the same integer bit-length surprisal trick as
    q_llm_unigram_lm — per-char surprisal is length(bin(n div k)) =
    floor(log2(n/k)) + 1, pure integer arithmetic (no libm log whose
    last-ulp rounding could straddle a floor), and integer sums are
    partitioning-independent.

    Scale shape: char explode (bounded ×n_chars, same order as the token
    explode every text op already pays) → one (doc, char)-keyed hash-agg
    (map-combinable, ≤ alphabet rows per doc out) → two doc-keyed
    hash-aggs. No windows, no corpus-wide state — the per-doc alphabet is
    ≤ a few hundred rows regardless of corpus size."""
    d = load_tables(spark, sf_dir)["documents"]
    # split on '(?!$)' not '': the empty pattern's trailing-element
    # behavior differs across Spark versions, while the end-of-string
    # lookahead yields exactly the per-char list under BOTH semantics.
    ch = d.select(
        "doc_id",
        F.explode(
            F.expr("split(replace(lower(text), ' ', ''), '(?!$)')")
        ).alias("c"),
    ).filter(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).cast("long").alias("k"))
    tot = cnt.groupBy("doc_id").agg(F.sum("k").cast("long").alias("n"))
    s = (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars_sig"),
            F.sum(F.expr("k * length(bin(n div k))")).cast("long").alias("bits_sum"),
        )
    )
    mean = F.expr("(1000 * bits_sum) div n_chars_sig")
    return s.select(
        "doc_id",
        "n_chars_sig",
        "bits_sum",
        mean.cast("long").alias("mean_milli"),
        F.when(mean < _ENT_LO_MILLI, F.lit("low"))
        .when(mean <= _ENT_HI_MILLI, F.lit("mid"))
        .otherwise(F.lit("high"))
        .alias("band"),
    )


@query(
    "q_llm_vocab_coverage",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOK_SQL}) AS token FROM documents),
cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM cnt),
r AS (
  SELECT token, c,
         CAST(row_number() OVER (ORDER BY c DESC, token ASC) AS INTEGER) AS rank,
         CAST(sum(c) OVER (ORDER BY c DESC, token ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM cnt
)
SELECT rank, token, c, cum,
       CAST((1000 * cum) // tot.s AS BIGINT) AS coverage_milli,
       (1000 * cum) // tot.s >= 990 AS tail_reached
FROM r CROSS JOIN tot
WHERE rank <= 50
""",
)
def q_llm_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve — the tokenizer-sizing report: rank the
    corpus vocabulary by frequency and emit the cumulative
    fraction-of-all-token-occurrences each prefix of the vocabulary
    covers (milli-units). The knee of this curve (tail_reached = the 99.0%
    line) is how a pipeline picks its tokenizer vocab size / OOV cutoff
    before a BPE train (q_llm_bpe_step is the train step this feeds).

    Determinism: coverage is floor-scaled integer milli of exact integer
    counts; the (c DESC, token ASC) total order is unambiguous.

    Scale shape: one token-keyed hash-agg (map-combinable) reduces the
    corpus to VOCABULARY-sized rows; the top-50 prefix is then taken with
    orderBy().limit(50) — TakeOrderedAndProject, a per-partition top-k
    merged on the driver, never a global sort — and the rank/running-sum
    window runs over that CONSTANT 50-row table only (a single partition
    of O(k) rows, which is the safe place for a partitionBy-less window;
    the cumulative sum of the first 50 ranks depends only on the first 50
    rows, so the limit-then-window form is value-identical to
    window-then-filter). The grand total is a broadcast scalar."""
    d = load_tables(spark, sf_dir)["documents"]
    cnt = tokenize(d).groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("s"))
    top = cnt.orderBy(F.col("c").desc(), F.col("token").asc()).limit(50)
    w = Window.orderBy(F.col("c").desc(), F.col("token").asc())
    r = top.select(
        "token",
        "c",
        F.row_number().over(w).cast("int").alias("rank"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum"),
    )
    cov = F.expr("(1000 * cum) div s")
    return (
        r.crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "token",
            "c",
            "cum",
            cov.cast("long").alias("coverage_milli"),
            (cov >= 990).alias("tail_reached"),
        )
    )


@query(
    "q_llm_filter_funnel",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, n_chars, {_TOK_SQL} AS toks FROM documents
),
lengate AS (
  SELECT doc_id,
         len(toks) BETWEEN 5 AND 1000 AS g1,
         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars > 0.5 AS g2
  FROM t
),
ch AS (
  SELECT doc_id, unnest(string_split(replace(lower(text), ' ', ''), '')) AS c FROM documents
),
ccnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k FROM ch GROUP BY doc_id, c),
ctot AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM ccnt GROUP BY doc_id),
ent AS (
  SELECT ccnt.doc_id,
         (1000 * sum(k * length(bin(CAST(ctot.n // k AS BIGINT))))) // max(ctot.n) AS em
  FROM ccnt JOIN ctot USING (doc_id) GROUP BY ccnt.doc_id
),
tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS token FROM documents),
cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
ntot AS (SELECT count(*) AS nt FROM tok),
sc AS (SELECT tok.doc_id, length(bin(CAST(ntot.nt // cnt.c AS BIGINT))) AS s
       FROM tok JOIN cnt USING (token) CROSS JOIN ntot),
lm AS (SELECT doc_id, (1000 * sum(s)) // count(*) AS mm FROM sc GROUP BY doc_id),
gates AS (
  SELECT l.doc_id, g1, g2,
         ent.em BETWEEN {_ENT_LO_MILLI} AND {_ENT_HI_MILLI} AS g3,
         lm.mm BETWEEN {_LM_HEAD_MILLI} AND {_LM_TAIL_MILLI} AS g4
  FROM lengate l JOIN ent ON l.doc_id = ent.doc_id JOIN lm ON l.doc_id = lm.doc_id
)
SELECT s.stage, s.stage_name,
       CAST(s.n_in AS BIGINT) AS n_in, CAST(s.n_in - s.n_out AS BIGINT) AS n_killed,
       CAST(s.n_out AS BIGINT) AS n_out,
       CAST((1000 * (s.n_in - s.n_out)) // s.n_in AS BIGINT) AS kill_milli
FROM (
  SELECT 1 AS stage, 'length' AS stage_name, count(*) AS n_in,
         sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS n_out FROM gates
  UNION ALL
  SELECT 2, 'alpha_ratio', sum(CASE WHEN g1 THEN 1 ELSE 0 END),
         sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) FROM gates
  UNION ALL
  SELECT 3, 'char_entropy', sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END),
         sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END) FROM gates
  UNION ALL
  SELECT 4, 'unigram_lm_band', sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END),
         sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END) FROM gates
) s
""",
)
def q_llm_filter_funnel(spark, sf_dir):
    """Filter-stack attrition funnel — THE datacard table of a corpus
    cleaning run: apply the quality gates in pipeline order (length →
    alpha ratio → char-entropy band → unigram-LM perplexity band) and
    report, per stage, how many documents entered, were killed, and
    survived (integer milli kill rate). This is the composition the
    standalone gates (q_llm_quality, q_llm_entropy, q_llm_unigram_lm)
    exist to feed — a pipeline operator reads this table to decide which
    stage is over/under-firing before committing a multi-day 100 TB run.

    Determinism: every gate is the exact integer/boolean predicate of its
    standalone operator (identical thresholds, shared constants); the
    funnel rows are sums of boolean conjunctions — order-independent.

    Scale shape: the three per-doc gate frames are each one map-combinable
    doc-keyed agg (token counts, char counts, LM join — the same shuffles
    their standalone ops pay) joined doc-keyed; the funnel itself is ONE
    global agg producing a 1-row frame of running conjunction counts,
    exploded row-locally into the 4 stage rows — no second pass over the
    corpus, constant-size output at any scale."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", "text", "n_chars", tokens_col().alias("toks"))
    lengate = t.select(
        "doc_id",
        F.expr("size(toks) BETWEEN 5 AND 1000").alias("g1"),
        (
            F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
            / F.col("n_chars")
            > 0.5
        ).alias("g2"),
    )
    # same version-robust '(?!$)' char split as q_llm_entropy
    ch = d.select(
        "doc_id",
        F.explode(
            F.expr("split(replace(lower(text), ' ', ''), '(?!$)')")
        ).alias("c"),
    ).filter(F.col("c") != "")
    ccnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).cast("long").alias("k"))
    ctot = ccnt.groupBy("doc_id").agg(F.sum("k").cast("long").alias("n"))
    ent = (
        ccnt.join(ctot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.expr("(1000 * sum(k * length(bin(n div k)))) div max(n)").alias("em"),
        )
    )
    tok = tokenize(d)
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    ntot = tok.agg(F.count(F.lit(1)).alias("nt"))
    sc = (
        tok.join(cnt, "token")
        .crossJoin(F.broadcast(ntot))
        .select("doc_id", F.expr("length(bin(nt div c))").alias("s"))
    )
    lm = sc.groupBy("doc_id").agg(F.expr("(1000 * sum(s)) div count(1)").alias("mm"))
    gates = (
        lengate.join(ent, "doc_id")
        .join(lm, "doc_id")
        .select(
            "doc_id",
            "g1",
            "g2",
            F.col("em").between(_ENT_LO_MILLI, _ENT_HI_MILLI).alias("g3"),
            F.col("mm").between(_LM_HEAD_MILLI, _LM_TAIL_MILLI).alias("g4"),
        )
    )
    one = gates.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("g1").cast("long")).alias("s1"),
        F.sum((F.col("g1") & F.col("g2")).cast("long")).alias("s2"),
        F.sum((F.col("g1") & F.col("g2") & F.col("g3")).cast("long")).alias("s3"),
        F.sum((F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")).cast("long")).alias(
            "s4"
        ),
    )
    stages = one.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage"),
                    F.lit("length").alias("stage_name"),
                    F.col("n0").alias("n_in"),
                    F.col("s1").alias("n_out"),
                ),
                F.struct(
                    F.lit(2).alias("stage"),
                    F.lit("alpha_ratio").alias("stage_name"),
                    F.col("s1").alias("n_in"),
                    F.col("s2").alias("n_out"),
                ),
                F.struct(
                    F.lit(3).alias("stage"),
                    F.lit("char_entropy").alias("stage_name"),
                    F.col("s2").alias("n_in"),
                    F.col("s3").alias("n_out"),
                ),
                F.struct(
                    F.lit(4).alias("stage"),
                    F.lit("unigram_lm_band").alias("stage_name"),
                    F.col("s3").alias("n_in"),
                    F.col("s4").alias("n_out"),
                ),
            )
        ).alias("x")
    ).select("x.*")
    return stages.select(
        "stage",
        "stage_name",
        F.col("n_in").cast("long").alias("n_in"),
        (F.col("n_in") - F.col("n_out")).cast("long").alias("n_killed"),
        F.col("n_out").cast("long").alias("n_out"),
        F.expr("(1000 * (n_in - n_out)) div n_in").cast("long").alias("kill_milli"),
    )


# Weighted priority sampling: integer Efraimidis–Spirakis analog. Weight
# w ∈ [1,10] (length-proportional), uniform draw u = hex32(md5(doc_id))
# (32-bit integer), priority = u * (2520 div w) — 2520 = lcm(1..10), so
# the division is EXACT and every priority is a pure int64 product (no
# u^(1/w) float pow whose last-ulp could reorder near-ties across
# engines). Smaller priority = proportionally likelier pick; the sample
# is the global bottom-k.
_WSAMPLE_K = 100
_WSAMPLE_LCM = 2520


@query(
    "q_llm_sample_weighted",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, n_chars,
         least(10, 1 + n_chars // 60) AS weight,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
  FROM documents
)
SELECT doc_id, lang, CAST(weight AS BIGINT) AS weight,
       CAST(u * ({_WSAMPLE_LCM} // weight) AS BIGINT) AS priority
FROM w
ORDER BY priority ASC, doc_id ASC
LIMIT {_WSAMPLE_K}
""",
)
def q_llm_sample_weighted(spark, sf_dir):
    """Weight-proportional priority sample WITHOUT replacement — the
    deterministic analog of Efraimidis–Spirakis reservoir sampling for
    corpus curation (oversample long documents at a controlled rate,
    reproducibly): weight = length bucket in [1,10], priority =
    hash-uniform-u × (2520 div w), keep the global bottom-k. All-integer
    priorities make the draw key-stable, partitioning-invariant and
    engine-portable (the hash_sample discipline extended with weights).

    Scale: a per-row projection plus a global bottom-k — Spark plans
    orderBy().limit(k) as TakeOrderedAndProject (per-partition heap +
    k-row driver merge), so no global sort materializes at any size;
    re-sampling after corpus growth keeps every previously drawn doc's
    priority unchanged."""
    d = load_tables(spark, sf_dir)["documents"]
    w = F.least(F.lit(10), F.lit(1) + F.expr("n_chars div 60")).cast("long")
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    scored = d.select(
        "doc_id",
        "lang",
        w.alias("weight"),
        (u * (F.lit(_WSAMPLE_LCM) / w).cast("long")).alias("priority"),
    )
    return scored.orderBy(
        F.col("priority").asc(), F.col("doc_id").asc()
    ).limit(_WSAMPLE_K)


@query(
    "q_ml_eval",
    oracle=f"""
WITH {_LANGID_CTE},
pred AS (
  SELECT d.lang AS actual, coalesce(best.cand_lang, 'unknown') AS predicted
  FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
),
diag AS (
  SELECT actual AS lang, CAST(count(*) AS BIGINT) AS tp
  FROM pred WHERE actual = predicted GROUP BY actual
),
act AS (SELECT actual AS lang, CAST(count(*) AS BIGINT) AS n_actual FROM pred GROUP BY actual),
prd AS (SELECT predicted AS lang, CAST(count(*) AS BIGINT) AS n_predicted FROM pred GROUP BY predicted)
SELECT a.lang,
       coalesce(d.tp, 0) AS tp,
       coalesce(p.n_predicted, 0) - coalesce(d.tp, 0) AS fp,
       a.n_actual - coalesce(d.tp, 0) AS fn,
       CASE WHEN coalesce(p.n_predicted, 0) = 0 THEN 0
            ELSE (1000 * coalesce(d.tp, 0)) // p.n_predicted END AS prec_milli,
       (1000 * coalesce(d.tp, 0)) // a.n_actual AS rec_milli,
       CASE WHEN coalesce(p.n_predicted, 0) + a.n_actual = 0 THEN 0
            ELSE (2000 * coalesce(d.tp, 0))
                 // (coalesce(p.n_predicted, 0) + a.n_actual) END AS f1_milli
FROM act a
LEFT JOIN diag d ON a.lang = d.lang
LEFT JOIN prd p ON a.lang = p.lang
""",
)
def q_ml_eval(spark, sf_dir):
    """Classifier evaluation — per-class precision/recall/F1 derived from
    the confusion matrix of the corpus-trained language-ID model
    (q_llm_langid's predictions vs the documents.lang ground truth): the
    quality-measurement loop every model-driven curation stage needs
    before its filter goes into the pipeline. One classifier definition
    feeds both queries (the shared langid CTE), so the metrics here are
    provably over the SAME predictions the langid query serves.

    Determinism: tp/fp/fn are exact counts; precision/recall/F1 are
    integer milli-units via floor division (f1 = 2000·tp div
    (pred+actual), algebraically 2PR/(P+R) without intermediate
    rationals). Scale: pred is a per-doc projection off the langid
    dataflow (token-keyed joins, broadcast marker table); the metric
    tables are |classes| rows — three hash-aggs and two |classes|-sized
    joins."""
    pred = (
        QUERIES["q_llm_langid"](spark, sf_dir)
        .select(F.col("lang").alias("actual"), "predicted")
    )
    diag = (
        pred.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("tp"))
    )
    act = pred.groupBy(F.col("actual").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_actual")
    )
    prd = pred.groupBy(F.col("predicted").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_predicted")
    )
    out = (
        act.join(diag, "lang", "left")
        .join(prd, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            (F.coalesce("n_predicted", F.lit(0)) - F.coalesce("tp", F.lit(0)))
            .cast("long")
            .alias("fp"),
            (F.col("n_actual") - F.coalesce("tp", F.lit(0)))
            .cast("long")
            .alias("fn"),
            F.when(F.coalesce("n_predicted", F.lit(0)) == 0, F.lit(0))
            .otherwise(
                F.expr("(1000 * coalesce(tp, 0)) div n_predicted")
            )
            .cast("long")
            .alias("prec_milli"),
            F.expr("(1000 * coalesce(tp, 0)) div n_actual")
            .cast("long")
            .alias("rec_milli"),
            F.when(
                F.coalesce("n_predicted", F.lit(0)) + F.col("n_actual") == 0,
                F.lit(0),
            )
            .otherwise(
                F.expr(
                    "(2000 * coalesce(tp, 0)) div (coalesce(n_predicted, 0) + n_actual)"
                )
            )
            .cast("long")
            .alias("f1_milli"),
        )
    )
    return out


@query(
    "q_ml_kfold",
    oracle="""
WITH folds AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold,
         lang, n_chars
  FROM documents
)
SELECT fold, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM folds GROUP BY fold
""",
)
def q_ml_kfold(spark, sf_dir):
    """K-fold cross-validation assignment (k=5) by content hash — the
    evaluation-protocol sibling of q_llm_split: fold = hex32(md5(id))
    mod 5, so a document's fold is stable forever (new data never moves
    old rows between folds — no leakage across dataset versions), no RNG
    state, no shuffle to assign. The per-fold profile (count, chars,
    language coverage) is what a training harness checks before trusting
    the folds are balanced.

    Scale: per-row projection + one 5-group hash-agg; count(distinct)
    expands to the standard two-phase expand-agg, keyed high-cardinality
    first."""
    d = load_tables(spark, sf_dir)["documents"]
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 5
    )
    return (
        d.select(fold.alias("fold"), "lang", "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
    )


_ZIPF_TOP = 200


@query(
    "q_llm_zipf",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOK_SQL}) AS token FROM documents),
cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
top AS (
  SELECT token, c,
         row_number() OVER (ORDER BY c DESC NULLS LAST, token ASC NULLS LAST) AS rank
  FROM cnt
  ORDER BY c DESC NULLS LAST, token ASC NULLS LAST
  LIMIT {_ZIPF_TOP}
)
SELECT round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
         AS zipf_slope,
       round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4)
         AS zipf_intercept,
       round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS r2,
       CAST(count(*) AS BIGINT) AS n_ranks,
       min(CASE WHEN rank = 1 THEN token END) AS top_token
FROM top
""",
)
def q_llm_zipf(spark, sf_dir):
    """Zipf rank–frequency fit — the corpus-health diagnostic (natural
    text follows freq ∝ rank^s with s ≈ −1; template/boilerplate corpora
    bend the log-log line): ln(freq) is regressed on ln(rank) over the
    top-k vocabulary with the REGR_* one-pass moments (the q_ml_linreg
    machinery pointed at the LLM-corpus question).

    Scale: the token count is the standard vocab hash-agg; the top-k cut
    is orderBy().limit(k) — TakeOrderedAndProject, never a global sort —
    and the rank window runs over k = 200 rows (the q_llm_vocab_coverage
    bounded-prefix discipline). The regression arms are libm ln over
    IDENTICAL integer (count, rank) pairs in both engines, rounded to
    4dp (the q_agg_stats posture)."""
    d = load_tables(spark, sf_dir)["documents"]
    cnt = (
        d.select(F.explode(tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top = cnt.orderBy(
        F.col("c").desc_nulls_last(), F.col("token").asc_nulls_last()
    ).limit(_ZIPF_TOP)
    w = Window.orderBy(F.col("c").desc_nulls_last(), F.col("token").asc_nulls_last())
    ranked = top.withColumn("rank", F.row_number().over(w))
    lc = F.log(F.col("c").cast("double"))
    lr = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 4).alias("r2"),
        F.count(F.lit(1)).cast("long").alias("n_ranks"),
        F.min(F.when(F.col("rank") == 1, F.col("token"))).alias("top_token"),
    )


_NOVELTY_N = 3


@query(
    "q_llm_ngram_novelty",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' AS is_train,
         {_TOK_SQL} AS toks
  FROM documents
),
g AS (
  SELECT lang, is_train,
         unnest(list_transform(range(1, len(toks) - {_NOVELTY_N} + 2),
                i -> array_to_string(toks[i:i + {_NOVELTY_N} - 1], ' '))) AS gram
  FROM t WHERE len(toks) >= {_NOVELTY_N}
),
tr AS (SELECT DISTINCT gram FROM g WHERE is_train),
te AS (SELECT DISTINCT lang, gram FROM g WHERE NOT is_train),
novel AS (
  SELECT lang, count(*) AS n_novel
  FROM te WHERE gram NOT IN (SELECT gram FROM tr)
  GROUP BY lang
)
SELECT te.lang,
       CAST(count(*) AS BIGINT) AS n_test_grams,
       CAST(coalesce(max(novel.n_novel), 0) AS BIGINT) AS n_novel,
       CAST((1000 * coalesce(max(novel.n_novel), 0)) // count(*) AS BIGINT)
         AS novelty_milli
FROM te LEFT JOIN novel ON te.lang = novel.lang
GROUP BY te.lang
""",
)
def q_llm_ngram_novelty(spark, sf_dir):
    """Held-out n-gram NOVELTY — the generalization/memorization probe an
    eval pipeline runs before trusting a benchmark split: what fraction
    of the held-out split's distinct 3-grams never appear anywhere in
    the train split (the same hash-stable 80/20 assignment as
    q_llm_split)? Low novelty means the held-out set re-tests training
    phrasing; q_llm_decontam finds individual contaminated docs, this
    measures the split-level leakage rate per language.

    Scale: gram explode → two distinct hash-aggs keyed by the
    high-cardinality gram string → one gram-keyed LEFT ANTI join (the
    decontam topology) → a |langs|-row rollup. No broadcast of anything
    corpus-sized; integer milli rate."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select(
        "lang",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
            < F.lit("cccc")
        ).alias("is_train"),
        tokens_col().alias("toks"),
    ).filter(F.size("toks") >= _NOVELTY_N)
    g = t.select(
        "lang",
        "is_train",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_NOVELTY_N} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {_NOVELTY_N})))"
            )
        ).alias("gram"),
    )
    tr = g.filter(F.col("is_train")).select("gram").distinct()
    te = g.filter(~F.col("is_train")).select("lang", "gram").distinct()
    novel = (
        te.join(tr, "gram", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    tot = te.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_grams")
    )
    return (
        tot.join(novel, "lang", "left")
        .select(
            "lang",
            "n_test_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.expr("(1000 * coalesce(n_novel, 0)) div n_test_grams")
            .cast("long")
            .alias("novelty_milli"),
        )
    )
