"""Training-data preparation operators: chunking, sequence packing,
boilerplate detection, embedding quantization, and a k-means step.

These extend the LLM-pipeline family (SURVEY.md §2.9/§2.12b) with the
dataset-shaping stages a pretraining pipeline runs between dedup and shard
export: split documents into token-budget chunks, pack chunks into
fixed-capacity training sequences, flag boilerplate n-grams shared across
documents, compress embeddings to int8 codes or product-quantization (PQ)
codes, and run the per-iteration assign+recenter step of k-means (the
step that makes IVF centroid tables — q_llm_ann_ivf consumes exactly
such a table).

Scale posture, per operator:
- chunk: per-row generator expression (sequence → slice), no shuffle.
- pack: running token total per (source) shard — packing is inherently
  sequential, so the shard key IS the parallelism unit; each shard's
  window sorts locally after one hash partition. No global ordering.
- boiler: explode distinct shingles → one hash-agg for doc-frequency →
  shuffle-on-shingle join back; identical topology to the TF-IDF path.
- quant: pure per-row projection (array_min/max + transform), no shuffle.
- pq / adc / ivfpq: one PQ codec, operators/pq.py (codebook sample,
  encode, lookup table, ADC sum, exact distance, and their DuckDB
  mirror); each query keeps only its own output shape — code checksums,
  the salted two-stage top-3, the IVF residuals and in-cell probe join.
- kmeans step: O(n·k) distance evaluation against a CONSTANT-k broadcast
  centroid table, one shuffle on vec_id for the argmin, one hash-agg for
  the recenter — the canonical Lloyd-iteration dataflow.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pkg2_spark.catalog import load_tables
from pkg2_spark.operators import pq
from pkg2_spark.operators.hashing import v32_spark, v32_sql
from pkg2_spark.operators.ivf import ASSIGN_CTE, SLOT_BASE, descend, descend_cte, tree
from pkg2_spark.operators.text import tokens_col
from pkg2_spark.registry import query
from pkg2_spark.session import local_rows_df, truncate_lineage_lazy

_CHUNK = 30  # tokens per chunk
_STRIDE = 25  # chunk start stride (5-token overlap)
_CAPACITY = 512  # packing bin capacity in tokens


@query(
    "q_llm_chunk",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
k AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(ceil(len(toks) / {_STRIDE}.0) AS INT) - 1)) AS chunk_id
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}]) AS INT)
         AS n_chunk_tokens,
       md5(array_to_string(toks[chunk_id * {_STRIDE} + 1 : chunk_id * {_STRIDE} + {_CHUNK}], ' '))
         AS chunk_hash
FROM k
""",
)
def q_llm_chunk(spark, sf_dir):
    # Overlapping token-budget chunking (30-token windows, 25-token stride):
    # documents → training-sized pieces with 5 tokens of context overlap.
    # One generator expression per row — sequence(0, n_chunks-1) exploded,
    # slice() per chunk — so the operator is shuffle-free and streams
    # through whole-stage codegen at any corpus size.
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select("doc_id", tokens_col("text").alias("toks")).filter(F.size("toks") > 0)
    n_chunks = F.ceil(F.size("toks") / F.lit(float(_STRIDE))).cast("int")
    chunked = toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.slice("toks", F.col("chunk_id") * _STRIDE + 1, _CHUNK)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


@query(
    "q_llm_pack",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id,
         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tok
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ASC NULLS LAST
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source, CAST(floor((cum - n_tok) / {_CAPACITY}) AS INT) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens, min(doc_id) AS first_doc,
       round(sum(n_tok) / {_CAPACITY}.0, 4) AS fill_ratio
FROM c GROUP BY 1, 2
""",
)
def q_llm_pack(spark, sf_dir):
    # Sequence packing: assign whole documents to fixed-capacity training
    # bins (512 tokens) by running token total. Packing is order-dependent,
    # so the scale design makes the SHARD the unit of parallelism: the
    # running sum windows over (source) — each shard packs independently
    # after one hash partition, and no global sort ever exists. The emitted
    # fill_ratio per bin is the packing-efficiency audit a pipeline tracks.
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("source", "doc_id", F.size(tokens_col("text")).alias("n_tok"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("doc_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.groupBy(
            "source",
            F.floor((F.col("cum") - F.col("n_tok")) / _CAPACITY).cast("int").alias("bin_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.round(F.sum("n_tok") / float(_CAPACITY), 4).alias("fill_ratio"),
        )
    )


@query(
    "q_llm_boiler",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - 4),
           i -> array_to_string(toks[i : i + 4], ' ')))) AS shingle
  FROM t WHERE len(toks) >= 5
),
df AS (
  SELECT shingle, count(DISTINCT doc_id) AS doc_freq FROM s GROUP BY shingle
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN df.doc_freq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       round(sum(CASE WHEN df.doc_freq >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS boiler_ratio
FROM s JOIN df USING (shingle)
GROUP BY s.doc_id
""",
)
def q_llm_boiler(spark, sf_dir):
    # Cross-document boilerplate detection (the line-dedup analog for a
    # corpus without line structure): 5-gram shingles shared by >= 2
    # documents are boilerplate; each document reports its boilerplate
    # ratio — the filter signal for template/nav-chrome removal at
    # pretraining scale. Topology: explode distinct shingles, ONE hash-agg
    # for global doc-frequency, then BROADCAST the >= 2-doc shingle set
    # back against the explode (left join, map-side): the exploded
    # doc×shingle stream — the big side by construction — never shuffles
    # for the flagging join, which previously rode a hot-shingle
    # shuffle-on-shingle join measured at 4.80× wall per 10× data
    # (SCALE_PROBE r4; VERDICT r4 "Next round" #5). The repeated-shingle
    # set is the distinct cross-doc templates — orders of magnitude
    # smaller than the stream; if a real corpus ever outgrows the
    # broadcast threshold, drop the broadcast hint and AQE reverts this
    # to the shuffle join with skew splitting.
    from pkg2_spark.session import fan_out_scan

    d = load_tables(spark, sf_dir)["documents"]
    # r14 (guide §2.5 input skew): the shingle pipeline (tokenize + 5-gram
    # transform + array_join explode) is evaluated TWICE (doc-frequency agg
    # + the flagging join's probe side) and ran single-threaded off the
    # one-row-group scan; fan the scan out so both evaluations parallelize
    # (no-op on any multi-split input).
    toks = (
        fan_out_scan(d.select("doc_id", "text"))
        .select("doc_id", tokens_col("text").alias("toks"))
        .filter(F.size("toks") >= 5)
    )
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.array_join(F.slice("toks", i, 5), " "),
                )
            )
        ).alias("shingle"),
    )
    repeated = (
        shingles.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
        .filter(F.col("doc_freq") >= 2)
        .select("shingle", F.lit(1).alias("is_rep"))
    )
    flagged = shingles.join(F.broadcast(repeated), "shingle", "left")
    is_boiler = F.coalesce(F.col("is_rep"), F.lit(0)).cast("long")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(is_boiler).alias("n_boiler"),
        F.round(F.sum(is_boiler) / F.count(F.lit(1)), 4).alias("boiler_ratio"),
    )


@query(
    "q_vec_quant",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
q AS (
  SELECT vec_id,
         list_aggregate(emb, 'min') AS mn,
         list_aggregate(emb, 'max') AS mx,
         emb
  FROM e
),
c AS (
  SELECT vec_id, mn, mx,
         CASE WHEN mx = mn THEN list_transform(emb, x -> 0.0)
              ELSE list_transform(emb, x -> round((x - mn) / ((mx - mn) / 255.0)))
         END AS codes
  FROM q
)
SELECT vec_id, round(mn, 6) AS qmin, round(mx, 6) AS qmax,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_dot_product(codes,
              list_transform(generate_series(1, len(codes)), i -> CAST(i AS DOUBLE)))
            AS BIGINT) AS code_wsum
FROM c
""",
)
def q_vec_quant(spark, sf_dir):
    # Int8-range scalar quantization of the embedding column: per-vector
    # [min, max] → 0..255 codes — the 4x memory compression applied before
    # ANN serving or shipping embeddings to a training job. Pure per-row
    # projection (array_min/max + transform lambdas), shuffle-free; the
    # position-weighted checksum pins both code VALUES and ORDER without
    # emitting an array column (driver canonicalizer is scalar-only).
    e = load_tables(spark, sf_dir)["embeddings"]
    emb = F.col("embedding").cast("array<double>")
    q = e.select(
        "vec_id",
        emb.alias("emb"),
        F.array_min(emb).alias("mn"),
        F.array_max(emb).alias("mx"),
    )
    scale = (F.col("mx") - F.col("mn")) / 255.0
    codes = F.when(
        F.col("mx") == F.col("mn"),
        F.transform(F.col("emb"), lambda x: F.lit(0.0)),
    ).otherwise(F.transform(F.col("emb"), lambda x: F.round((x - F.col("mn")) / scale, 0)))
    c = q.select("vec_id", "mn", "mx", codes.alias("codes"))
    positions = F.transform(
        F.sequence(F.lit(1), F.size("codes")), lambda i: i.cast("double")
    )
    wsum = F.aggregate(
        F.zip_with("codes", positions, lambda c_, p: c_ * p),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return c.select(
        "vec_id",
        F.round("mn", 6).alias("qmin"),
        F.round("mx", 6).alias("qmax"),
        F.aggregate("codes", F.lit(0.0), lambda acc, v: acc + v).cast("long").alias("code_sum"),
        wsum.cast("long").alias("code_wsum"),
    )


@query(
    "q_vec_pq",
    oracle=f"""
WITH {pq.sample_cte("cb", "embeddings", "vec_id", "embedding")},
{pq.code_cte("embeddings", "embedding", tie="cbid")}
SELECT vec_id,
       CAST(sum(cbid) AS BIGINT) AS code_sum,
       CAST(sum((s + 1) * cbid) AS BIGINT) AS code_wsum,
       CAST(sum(CAST(floor(d2 * 10000) AS BIGINT)) AS BIGINT) AS err_e4
FROM code GROUP BY vec_id
""",
)
def q_vec_pq(spark, sf_dir):
    """Product quantization (PQ) encode: code every embedding with the
    operators/pq.py codec (M subspaces, each assigned to its nearest entry
    of the constant-16 md5-sampled codebook) and emit the code as
    positional checksums of the chosen codebook ids plus the total
    quantization error (floor-e4).

    PQ is the memory arm of large-scale ANN: IVF prunes candidates, PQ
    compresses vectors to M code bytes searched through a lookup table
    (q_vec_adc). The codebook array is sorted by cid, so an exact d2 tie
    keeps the lowest cid, as the oracle's `cbid ASC` does. Plan: scan →
    broadcast-append of the one-row codebook → project; no exchange on
    the corpus side, so the encode runs at scan speed."""
    e = load_tables(spark, sf_dir)["embeddings"]
    cb = pq.sample(e, "vec_id").agg(
        F.sort_array(
            F.collect_list(F.struct("vec_id", F.col("embedding").alias("v")))
        ).alias("cb")
    )
    codes = F.transform(
        pq.encode(F.col("embedding"), F.col("cb")),
        lambda c: F.struct(
            F.element_at("cb", c["pos"])["vec_id"].alias("cid"), c["d2"].alias("d2")
        ),
    )
    zero = F.lit(0).cast("long")
    return (
        e.crossJoin(F.broadcast(cb))
        .select("vec_id", codes.alias("codes"))
        .select(
            "vec_id",
            F.aggregate("codes", zero, lambda a, c: a + c["cid"]).alias("code_sum"),
            F.aggregate(
                F.transform("codes", lambda c, s: (s + 1).cast("long") * c["cid"]),
                zero,
                lambda a, t: a + t,
            ).alias("code_wsum"),
            F.aggregate(
                "codes", zero, lambda a, c: a + F.floor(c["d2"] * 10000)
            ).alias("err_e4"),
        )
    )


@query(
    "q_vec_adc",
    oracle=f"""
WITH {pq.sample_cte("cb", "embeddings", "vec_id", "embedding")},
{pq.code_cte("embeddings", "embedding", tie="pos")},
{pq.sample_cte("q", "embeddings", "vec_id", "embedding", n=5)},
{pq.lut_cte("q", "id", "v")},
adc AS (
  SELECT lut.qid, code.vec_id, {pq.ADC_E4_SQL} AS adc_e4
  FROM code JOIN lut ON code.s = lut.s AND code.pos = lut.pos
  WHERE code.vec_id <> lut.qid
  GROUP BY lut.qid, code.vec_id
),
top3 AS (
  SELECT qid, vec_id, adc_e4,
         row_number() OVER (
           PARTITION BY qid ORDER BY adc_e4 ASC NULLS LAST, vec_id ASC NULLS LAST
         ) AS rnk
  FROM adc
  QUALIFY rnk <= 3
)
SELECT t.qid, CAST(t.rnk AS INTEGER) AS rank, t.vec_id, t.adc_e4,
       {pq.exact_e4_sql("a.embedding", "b.embedding")} AS exact_e4
FROM top3 t
JOIN embeddings a ON a.vec_id = t.qid
JOIN embeddings b ON b.vec_id = t.vec_id
""",
)
def q_vec_adc(spark, sf_dir):
    """Asymmetric distance computation (ADC) — the QUERY arm of the PQ
    index (IVF coarse-prunes: q_llm_ann_ivf; PQ compresses: q_vec_pq; ADC
    searches the compressed corpus): each of 5 md5-sampled query vectors
    builds its operators/pq.py lookup table once, and every corpus
    vector's approximate distance is then M table lookups over its code.
    Emits each query's top-3 ADC neighbors with the exact distance
    alongside (both floor-e4), the quantization-quality row an ANN
    deployment monitors.

    The codebook array is in md5-sample order (mkey leads the struct),
    so an exact d2 tie picks the same entry as the oracle's `pos ASC`.
    Codes and LUTs are row-local against the broadcast codebook; scoring
    broadcasts the 5 LUT rows across the code scan; top-3 is the salted
    two-stage partial merge (the q_sketch_kmv shape) instead of a
    per-query rank window, so the only shuffle is the ≤ 32-salt merge."""
    e = load_tables(spark, sf_dir)["embeddings"]
    cb = pq.sample(e, "vec_id").agg(
        F.sort_array(
            F.collect_list(F.struct("mkey", "vec_id", F.col("embedding").alias("v")))
        ).alias("cb")
    )
    corpus = e.crossJoin(F.broadcast(cb)).select(
        "vec_id", pq.encode(F.col("embedding"), F.col("cb")).alias("codes")
    )
    qlut = (
        pq.sample(e, "vec_id", n=5)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("qid"),
            pq.lut(F.col("embedding"), F.col("cb")).alias("lut"),
        )
    )
    scored = (
        corpus.crossJoin(F.broadcast(qlut))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", pq.adc_e4(F.col("codes"), F.col("lut")).alias("adc_e4"))
    )
    part = scored.groupBy(
        "qid", F.pmod(F.xxhash64("vec_id"), F.lit(32)).alias("salt")
    ).agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("adc_e4", "vec_id"))), 1, 3
        ).alias("ks")
    )
    ranked = (
        part.groupBy("qid")
        .agg(
            F.slice(F.sort_array(F.flatten(F.collect_list("ks"))), 1, 3).alias("ks")
        )
        .selectExpr("qid", "posexplode(ks) AS (rank0, t)")
        .select(
            "qid",
            (F.col("rank0") + 1).cast("int").alias("rank"),
            F.col("t.vec_id").alias("vec_id"),
            F.col("t.adc_e4").alias("adc_e4"),
        )
    )
    qv = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    nv = e.select("vec_id", F.col("embedding").alias("nv"))
    return (
        F.broadcast(ranked)
        .join(qv, "qid")
        .join(nv, "vec_id")
        .select(
            "qid", "rank", "vec_id", "adc_e4",
            pq.exact_e4(F.col("qv"), F.col("nv")).alias("exact_e4"),
        )
    )


def _ivfpq_oracle() -> str:
    return f"""
WITH {ASSIGN_CTE},
withres AS (
  SELECT a.vec_id, a.cid,
         list_transform(generate_series(1, len(a.embedding)),
           i -> CAST(a.embedding[CAST(i AS INTEGER)] AS DOUBLE)
              - c3.ssemb[CAST(i AS INTEGER)]) AS res
  FROM assign a JOIN cent3 c3 ON c3.sscid = a.cid // {SLOT_BASE}
),
{pq.sample_cte("cb", "withres", "vec_id", "res")},
{pq.code_cte("withres", "res", tie="pos", carry=("vec_id", "cid"))},
probes AS (SELECT vec_id AS probe_id, cid AS pcid, res AS pres FROM withres WHERE vec_id < 5),
{pq.lut_cte("probes", "probe_id", "pres")},
adc AS (
  SELECT p.probe_id, code.cid AS cell, code.vec_id, {pq.ADC_E4_SQL} AS adc_e4
  FROM code
  JOIN probes p ON p.pcid = code.cid AND p.probe_id <> code.vec_id
  JOIN lut ON lut.qid = p.probe_id AND lut.s = code.s AND lut.pos = code.pos
  GROUP BY p.probe_id, code.cid, code.vec_id
),
top3 AS (
  SELECT probe_id, cell, vec_id, adc_e4,
         row_number() OVER (
           PARTITION BY probe_id ORDER BY adc_e4 ASC NULLS LAST, vec_id ASC NULLS LAST
         ) AS rnk
  FROM adc
  QUALIFY rnk <= 3
)
SELECT t.probe_id, t.cell, CAST(t.rnk AS INTEGER) AS rank, t.vec_id, t.adc_e4,
       {pq.exact_e4_sql("a.embedding", "b.embedding")} AS exact_e4
FROM top3 t
JOIN embeddings a ON a.vec_id = t.probe_id
JOIN embeddings b ON b.vec_id = t.vec_id
"""


@query("q_vec_ivfpq", oracle=_ivfpq_oracle())
def q_vec_ivfpq(spark, sf_dir):
    """IVFADC — the FAISS-style composite index, assembling the three
    standalone arms: the three-level IVF coarse quantizer (q_llm_ann_ivf)
    prunes candidates to the probe's final cell, the operators/pq.py codec
    encodes RESIDUALS (embedding − assigned centroid, the formulation
    FAISS deploys: on clustered corpora residuals live at cell-radius
    magnitude, so the same 16-entry codebook quantizes them far more
    finely than raw vectors — on THIS near-uniform synthetic corpus cells
    are loose and residual norms measure ~1.3× the unit raw norms, so the
    win doesn't show at test scale; the architecture, not a
    data-dependent error delta, is the contract), and the per-probe ADC
    lookup-table scan (q_vec_adc) ranks the cell's members from their
    codes alone. Emits each probe's top-3 in-cell ADC neighbors with the
    exact distance alongside (both floor-e4) — the recall-quality row an
    IVFADC deployment monitors.

    Scale shape: the cell assignment is the memoized, checkpointed
    three-level tree (shared with the whole IVF family); residuals come
    from one centroid-keyed equi-join (n/256 join keys — never
    broadcast); the encode is row-local against the one-row broadcast
    residual codebook (md5-sample order, the q_vec_adc tie-break); the
    ADC scan joins the 5-row broadcast LUT frame against the probed cells
    only, so scored rows ≈ probes × 256 at every n. The only rank window
    partitions by probe over ≤ cell-sized candidate sets. Residuals are
    exact double subtractions (float→double is value-preserving)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    t = tree(e)
    # Residuals vs the REFINED quantizer centroid (cent3.ssemb, already
    # double) — slots of one quantizer cell share its centroid, so the
    # lookup keys on cid div slot-base. The shuffle_hash hint fixes the
    # join's plan: unhinted, adaptive execution turned it into a broadcast
    # join built from whichever side's shuffle stage finished first, and
    # when that was the vector side the sample branch could not reuse the
    # codebook broadcast (13 or 14 collect jobs from call to call).
    ce = t.cent3.select(F.col("sscid").alias("qcid"), F.col("ssemb").alias("cemb"))
    withres = (
        t.assign.withColumn("qcid", F.expr(f"cid div {SLOT_BASE}"))
        .join(ce.hint("shuffle_hash"), "qcid")
        .select(
            "vec_id",
            "cid",
            F.zip_with(
                "embedding", "cemb", lambda x, y: x.cast("double") - y
            ).alias("res"),
        )
    )
    cb = pq.sample(withres, "vec_id").agg(
        F.sort_array(
            F.collect_list(F.struct("mkey", "vec_id", F.col("res").alias("v")))
        ).alias("cb")
    )
    corpus = withres.crossJoin(F.broadcast(cb)).select(
        "vec_id", "cid", pq.encode(F.col("res"), F.col("cb")).alias("codes")
    )
    qlut = (
        withres.filter(F.col("vec_id") < 5)
        .crossJoin(F.broadcast(cb))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("cid").alias("pcid"),
            pq.lut(F.col("res"), F.col("cb")).alias("lut"),
        )
    )
    scored = corpus.join(
        F.broadcast(qlut),
        (F.col("cid") == F.col("pcid")) & (F.col("vec_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        F.col("cid").alias("cell"),
        "vec_id",
        pq.adc_e4(F.col("codes"), F.col("lut")).alias("adc_e4"),
    )
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("adc_e4").asc_nulls_last(), F.col("vec_id").asc_nulls_last()
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("probe_id", "cell", F.col("rank").cast("int").alias("rank"), "vec_id", "adc_e4")
    )
    qv = e.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("qv"))
    nv = e.select("vec_id", F.col("embedding").alias("nv"))
    return (
        F.broadcast(ranked)
        .join(qv, "probe_id")
        .join(nv, "vec_id")
        .select(
            "probe_id", "cell", "rank", "vec_id", "adc_e4",
            pq.exact_e4(F.col("qv"), F.col("nv")).alias("exact_e4"),
        )
    )


@query(
    "q_kmeans_step",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000000) AS BIGINT)) AS qe
  FROM embeddings
),
c AS (SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id < 8),
d AS (
  SELECT q.vec_id, q.qe, c.cid,
         CAST(list_sum(list_transform(generate_series(1, len(q.qe)),
                i -> (q.qe[i] - c.ce[i]) * (q.qe[i] - c.ce[i]))) AS BIGINT)
           AS dist_sq
  FROM q CROSS JOIN c
),
a AS (
  SELECT vec_id, qe, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist_sq ASC, cid ASC) AS rn
  FROM d
)
SELECT cid, count(*) AS n_assigned,
       CAST(floor(CAST(sum(qe[1]) AS DOUBLE) / count(*)) AS BIGINT) AS new_c0_micro,
       CAST(floor(CAST(sum(qe[2]) AS DOUBLE) / count(*)) AS BIGINT) AS new_c1_micro
FROM a WHERE rn = 1
GROUP BY cid
""",
)
def q_kmeans_step(spark, sf_dir):
    # One Lloyd iteration (assign + recenter) with a deterministic seed set
    # (centroids = vec_id < 8): the builder of the constant-k centroid
    # tables q_llm_ann_ivf searches against. Scale shape: the k=8 codebook
    # is collected into ONE broadcast array row and the argmin folds over
    # it ROW-LOCALLY (the q_vec_pq/IVF-assign idiom — strict < keeps the
    # lowest cid on ties, identical to the oracle's dist ASC, cid ASC
    # rank), so assignment runs at scan speed with no n·k row explosion
    # and no per-vector rank-window shuffle; recenter is one hash-agg —
    # every round of a full k-means run is exactly this dataflow.
    #
    # Determinism (r03 fix): elements are quantized to micro-unit BIGINTs
    # BEFORE any aggregation, so the distance argmin and the recenter sums
    # are exact integer arithmetic — immune to partition-summation order and
    # to cross-engine rounding-mode drift (the floor-not-round discipline of
    # q_llm_colloc/q_llm_split_drift). Max |dist_sq| ≈ 64·(2e6)² ≈ 2.6e14,
    # comfortably inside int64. Centroids are emitted in micro units; the
    # float divide-back happens at the consumer boundary, not in the query.
    e = load_tables(spark, sf_dir)["embeddings"]
    qe = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(1000000.0)).cast("long"),
    )
    q = e.select("vec_id", qe.alias("qe"))
    cents = (
        q.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("qe").alias("ce"))
        .agg(F.sort_array(F.collect_list(F.struct("cid", "ce"))).alias("cents"))
    )

    def dist_sq(ce):
        return F.aggregate(
            F.zip_with(F.col("qe"), ce, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    best = F.aggregate(
        F.transform(
            "cents",
            lambda c: F.struct(dist_sq(c["ce"]).alias("d"), c["cid"].alias("cid")),
        ),
        F.struct(
            F.lit(1 << 62).cast("long").alias("d"),
            F.lit(-1).cast("long").alias("cid"),
        ),
        lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
    )
    a = q.crossJoin(F.broadcast(cents)).select(
        "vec_id", "qe", best["cid"].alias("cid")
    )
    n = F.count(F.lit(1))
    return a.groupBy("cid").agg(
        n.alias("n_assigned"),
        F.floor(F.sum(F.element_at("qe", 1)).cast("double") / n)
        .cast("long")
        .alias("new_c0_micro"),
        F.floor(F.sum(F.element_at("qe", 2)).cast("double") / n)
        .cast("long")
        .alias("new_c1_micro"),
    )


# ---------------------------------------------------------------------------
# Pipeline-completion operators: percentile quality gating, split-drift
# audit, and keep-best dedup resolution (composing the quality + LSH +
# component machinery into the final corpus-construction steps).
# ---------------------------------------------------------------------------

_ALPHA_SQL = (
    "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars"
)


@query(
    "q_llm_quality_gate",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang, {_ALPHA_SQL} AS score FROM documents
),
thr AS (SELECT quantile_cont(score, 0.1) AS t FROM scored)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN score >= t THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(min(CASE WHEN score >= t THEN score END), 4) AS min_kept_score
FROM scored, thr
GROUP BY lang
""",
)
def q_llm_quality_gate(spark, sf_dir):
    # Percentile-gated quality filter: drop the bottom decile by score.
    # The scale-correct shape is threshold-then-filter — ONE exact-percentile
    # aggregate (interpolated, IEEE-deterministic, so both engines derive the
    # bit-identical threshold) broadcast back into the scan — never a global
    # percent_rank window, which would impose a full sort at 100 TB. The
    # gate compares RAW doubles (rounding only at the output boundary).
    d = load_tables(spark, sf_dir)["documents"]
    score = (
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
        / F.col("n_chars")
    ).alias("score")
    scored = d.select("doc_id", "lang", score)
    thr = scored.agg(F.percentile("score", 0.1).alias("t"))
    kept = F.when(F.col("score") >= F.col("t"), 1).otherwise(0).cast("long")
    return (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
            F.round(
                F.min(F.when(F.col("score") >= F.col("t"), F.col("score"))), 4
            ).alias("min_kept_score"),
        )
    )


@query(
    "q_llm_split_drift",
    oracle="""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
tok AS (
  SELECT split, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
  FROM s WHERE split IN ('train', 'val')
),
counts AS (
  SELECT token,
         CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val
  FROM tok GROUP BY token
),
tot AS (SELECT sum(n_train) AS t_train, sum(n_val) AS t_val FROM counts)
SELECT token, n_train, n_val,
       CAST(floor(n_train * 10000.0 / t_train) AS BIGINT) AS rate_train_bp,
       CAST(floor(n_val * 10000.0 / t_val) AS BIGINT) AS rate_val_bp,
       abs(CAST(floor(n_train * 10000.0 / t_train) AS BIGINT)
           - CAST(floor(n_val * 10000.0 / t_val) AS BIGINT)) AS drift_bp
FROM counts, tot
""",
)
def q_llm_split_drift(spark, sf_dir):
    # Split-neutrality audit: per-token occurrence rates in the train vs val
    # split, as basis points — a hash split must not skew the token
    # distribution. Rates are floor-scaled INTEGERS: IEEE division of the
    # same operands yields the bit-identical double in both engines, and
    # floor() reads the binary value directly — unlike round(), which
    # diverges between decimal-string (Spark) and binary (DuckDB) rounding
    # at half boundaries. Topology: explode → one token hash-agg → tiny
    # totals broadcast back.
    from pkg2_spark.operators.sampling import hash_split
    from pkg2_spark.operators.text import tokens_col

    d = load_tables(spark, sf_dir)["documents"]
    s = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    tok = (
        s.filter(F.col("split").isin("train", "val"))
        .select("split", F.explode(tokens_col("text")).alias("token"))
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("n_val"),
    )
    tot = counts.agg(
        F.sum("n_train").alias("t_train"), F.sum("n_val").alias("t_val")
    )
    rt = F.floor(F.col("n_train") * 10000.0 / F.col("t_train")).cast("long")
    rv = F.floor(F.col("n_val") * 10000.0 / F.col("t_val")).cast("long")
    return counts.crossJoin(F.broadcast(tot)).select(
        "token",
        "n_train",
        "n_val",
        rt.alias("rate_train_bp"),
        rv.alias("rate_val_bp"),
        F.abs(rt - rv).alias("drift_bp"),
    )


from pkg2_spark.operators.lsh import banded_pairs_sql as _banded_pairs_sql  # noqa: E402
from pkg2_spark.operators.lsh import capped_bands_sql as _capped_bands_sql  # noqa: E402
from pkg2_spark.queries.llm import _BUCKET_CAP as _LLM_BUCKET_CAP  # noqa: E402
from pkg2_spark.queries.llm import _bands_cte as _llm_bands_cte  # noqa: E402


@query(
    "q_llm_keep_best",
    # The pair-discovery stage reuses llm's MinHash/LSH construction, so the
    # oracle reuses the exact same CTE (signature = min(md5(token || ':i')),
    # band_key = md5(mh.. || '|' || ..)) rather than re-deriving it.
    oracle=f"""
WITH RECURSIVE {_llm_bands_cte().strip()},
{_capped_bands_sql("doc_id", _LLM_BUCKET_CAP)},
{_banded_pairs_sql("doc_id", "x", "y")},
edges AS (SELECT x, y FROM cand UNION SELECT y, x FROM cand),
reach(v, u) AS (
  SELECT x AS v, x AS u FROM edges
  UNION
  SELECT r.v, e.y FROM reach r JOIN edges e ON r.u = e.x
),
comp AS (SELECT v AS node, min(u) AS component FROM reach GROUP BY v),
full_comp AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
         CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE) / d.n_chars AS score
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
ranked AS (
  SELECT component, doc_id, score,
         row_number() OVER (PARTITION BY component
                            ORDER BY score DESC NULLS LAST, doc_id ASC NULLS LAST) AS rn
  FROM full_comp
)
SELECT f.component,
       count(*) AS n_members,
       min(r.doc_id) AS keeper_doc,
       round(min(r.score), 4) AS keeper_score
FROM full_comp f
JOIN (SELECT component, doc_id, score FROM ranked WHERE rn = 1) r
  ON f.component = r.component
GROUP BY f.component
""",
)
def q_llm_keep_best(spark, sf_dir):
    # The FINAL dedup step: within every near-dup cluster (LSH candidate
    # pairs → connected components; singletons are their own cluster), elect
    # the highest-quality member as the keeper — corpora keep the best
    # version of duplicated content, not an arbitrary one. Composition of
    # three scale-shaped stages: banded pair discovery (equi-join on band
    # keys), min-label component propagation (diameter-bounded rounds), and
    # a per-component argmax window whose key count grows with the data.
    #
    # The tiny-vocab synthetic corpus saturates the b=2/r=4 bands (sf0.1:
    # 4.8M uncapped candidate pairs over 5000 docs, measured 4.98× wall per
    # 10× data in SCALE_PROBE r4) — exactly the hot-bucket failure mode
    # boilerplate-heavy real corpora hit at 100 TB. The _LLM_BUCKET_CAP
    # md5-ranked per-bucket cap (operators/lsh.py) bounds every bucket to
    # O(cap²) pairs; capped members of a saturated bucket still form a
    # clique, so near-identical docs keep resolving into one component.
    from pkg2_spark.operators.dedup import resolve_components
    from pkg2_spark.operators.lsh import banded_pairs
    from pkg2_spark.operators.text import lsh_bands, minhash_signatures, tokenize_distinct

    d = load_tables(spark, sf_dir)["documents"]
    bands = lsh_bands(minhash_signatures(tokenize_distinct(d), 8), 8, 4)
    pairs = banded_pairs(bands, "doc_id", "x", "y", cap=_LLM_BUCKET_CAP)
    comp = resolve_components(pairs, src="x", dst="y")
    score = (
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
        / F.col("n_chars")
    )
    full = (
        d.select("doc_id", score.alias("score"))
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
            "score",
        )
    )
    # Keeper election as ONE hash aggregate (r14, guide §2.4): the former
    # row_number window + member-count groupBy + re-join consumed the
    # `full` subtree twice (two doc scans, two component shuffles, a sort,
    # and a join). max(struct(score, -doc_id)) is the same total order the
    # window used — score DESC then doc_id ASC (struct comparison is
    # lexicographic; Spark orders a null score before any non-null, so a
    # non-null score always wins the max, matching desc_nulls_last) — and
    # rides the same shuffle as the count, with map-side partial
    # aggregation the window could never do. Identical output (oracle
    # re-checked), one Exchange instead of three.
    return (
        full.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("negid"))).alias(
                "_k"
            ),
        )
        .select(
            "component",
            "n_members",
            (-F.col("_k.negid")).alias("keeper_doc"),
            F.round("_k.score", 4).alias("keeper_score"),
        )
    )


@query(
    "q_llm_colloc",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
),
uni AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT unnest(toks) AS token FROM t
  ) GROUP BY token
),
big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM bg GROUP BY w1, w2
),
tot AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS t_tok,
         (SELECT CAST(sum(c_xy) AS BIGINT) FROM big) AS t_big
)
SELECT b.w1, b.w2, b.c_xy,
       CAST(floor(((b.c_xy * 10000.0) / t.t_big)
                  / ((CAST(u1.c AS DOUBLE) / t.t_tok) * (CAST(u2.c AS DOUBLE) / t.t_tok)))
            AS BIGINT) AS lift_bp
FROM big b
JOIN uni u1 ON b.w1 = u1.token
JOIN uni u2 ON b.w2 = u2.token
CROSS JOIN tot t
WHERE b.c_xy >= 20
""",
)
def q_llm_colloc(spark, sf_dir):
    # Collocation mining: bigram lift (observed/expected co-occurrence, the
    # exp(PMI) statistic) for frequent adjacent pairs — the phrase-detection
    # pass a tokenizer-training pipeline runs. Lift is emitted as
    # floor-scaled basis points with an identical operation ORDER in both
    # engines: each IEEE division/multiplication is correctly rounded, so
    # identical operand order means bit-identical doubles and a safe floor
    # (same discipline as q_llm_split_drift; log-PMI would instead inherit
    # libm rounding differences). Topology: one bigram hash-agg, one unigram
    # hash-agg, two token-keyed joins, 1-row totals broadcast.
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", tokens_col("text").alias("toks"))
    bg = t.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        t.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    tot = uni.agg(F.sum("c").alias("t_tok")).crossJoin(
        big.agg(F.sum("c_xy").alias("t_big"))
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    lift = F.floor(
        ((F.col("c_xy") * 10000.0) / F.col("t_big"))
        / (
            (F.col("c1").cast("double") / F.col("t_tok"))
            * (F.col("c2").cast("double") / F.col("t_tok"))
        )
    ).cast("long")
    return (
        big.filter(F.col("c_xy") >= 20)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_xy", lift.alias("lift_bp"))
    )


# ---------------------------------------------------------------------------
# Corpus quality filters (round 4): intra-document repetition, Gopher-style
# rule gates, and corpus composition — the standard pre-training text-quality
# passes that run between language-ID and the percentile quality gate.
# ---------------------------------------------------------------------------

_TOKS_CTE = """
t AS (
  SELECT doc_id, lang, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
)
"""


@query(
    "q_llm_repetition",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
tc AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(toks) AS token FROM t)
  GROUP BY doc_id, token
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_freq
  FROM tc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       CAST(floor(((n_tokens - n_distinct) * 10000.0) / n_tokens) AS BIGINT) AS dup_bp,
       CAST(floor((top_freq * 10000.0) / n_tokens) AS BIGINT) AS top_tok_bp,
       floor(((n_tokens - n_distinct) * 10000.0) / n_tokens) > 6000 AS is_repetitive
FROM per_doc
""",
)
def q_llm_repetition(spark, sf_dir):
    # Intra-document repetition filter (the C4/Gopher "repetitive content"
    # rule): duplicate-token ratio and top-token concentration per document,
    # in floor-scaled integer basis points (exact-integer operands → IEEE
    # division + floor is bit-identical cross-engine). One explode and two
    # hash-aggs, both keyed by doc_id — fully shuffle-partitionable; no
    # driver-side state at any corpus size.
    d = load_tables(spark, sf_dir)["documents"]
    tc = (
        d.select("doc_id", F.explode(tokens_col("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_freq"),
    )
    dup_bp = F.floor(
        ((F.col("n_tokens") - F.col("n_distinct")) * 10000.0) / F.col("n_tokens")
    )
    top_bp = F.floor((F.col("top_freq") * 10000.0) / F.col("n_tokens"))
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        dup_bp.cast("long").alias("dup_bp"),
        top_bp.cast("long").alias("top_tok_bp"),
        (dup_bp > 6000).alias("is_repetitive"),
    )


@query(
    "q_llm_gopher_rules",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
scored AS (
  SELECT lang,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS n_word_chars,
         list_has_any(toks, ['the', 'a']) AS has_stop
  FROM t
),
flags AS (
  SELECT lang,
         n_words BETWEEN 40 AND 100000 AS p_count,
         n_word_chars BETWEEN 3 * n_words AND 10 * n_words AS p_meanlen,
         has_stop AS p_stop
  FROM scored
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN p_count THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_count,
       CAST(sum(CASE WHEN p_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_meanlen,
       CAST(sum(CASE WHEN p_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stop,
       CAST(sum(CASE WHEN p_count AND p_meanlen AND p_stop THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_all
FROM flags GROUP BY lang
""",
)
def q_llm_gopher_rules(spark, sf_dir):
    # Gopher-style rule gate: word-count bounds, mean-word-length bounds and
    # stopword presence, aggregated per language. The mean-length rule is
    # evaluated as the INTEGER comparison 3n <= sum_chars <= 10n rather than
    # a float mean — no division anywhere, so no cross-engine drift. Pure
    # per-row projections plus one hash-agg; every rule is a Catalyst
    # expression that survives whole-stage codegen.
    d = load_tables(spark, sf_dir)["documents"]
    toks = tokens_col("text")
    scored = d.select(
        "lang",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("long").alias("n_word_chars"),
        F.arrays_overlap(toks, F.array(F.lit("the"), F.lit("a"))).alias("has_stop"),
    )
    flags = scored.select(
        "lang",
        F.col("n_words").between(40, 100000).alias("p_count"),
        (
            (F.col("n_word_chars") >= 3 * F.col("n_words"))
            & (F.col("n_word_chars") <= 10 * F.col("n_words"))
        ).alias("p_meanlen"),
        F.col("has_stop").alias("p_stop"),
    )
    as_n = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_n(F.col("p_count")).alias("n_pass_count"),
        as_n(F.col("p_meanlen")).alias("n_pass_meanlen"),
        as_n(F.col("p_stop")).alias("n_pass_stop"),
        as_n(F.col("p_count") & F.col("p_meanlen") & F.col("p_stop")).alias("n_pass_all"),
    )


@query(
    "q_llm_domain_mix",
    oracle=f"""
WITH {_TOKS_CTE.strip()},
per_src AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS n_tokens
  FROM t GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tok FROM per_src)
SELECT source, n_docs, n_tokens,
       CAST(floor((n_tokens * 10000.0) / t_tok) AS BIGINT) AS share_bp
FROM per_src, tot
""",
)
def q_llm_domain_mix(spark, sf_dir):
    # Corpus composition audit: per-source document and token counts with
    # token share in floor-scaled basis points — the mixture report a
    # pretraining run is tuned against. One hash-agg plus a 1-row broadcast
    # total; the share division has exact-integer operands so floor is safe.
    d = load_tables(spark, sf_dir)["documents"]
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).alias("n_tokens"),
    )
    tot = per_src.agg(F.sum("n_tokens").alias("t_tok"))
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor((F.col("n_tokens") * 10000.0) / F.col("t_tok"))
        .cast("long")
        .alias("share_bp"),
    )


# Winnowing fingerprint selection (t → 3-token kgram hashes → window-min
# set) — shared by q_llm_winnow and the cross-document overlap join
# q_llm_winnow_dup.
_WINNOW_CTE = """t AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
k AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 2),
                        i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS h
  FROM t WHERE len(toks) >= 6
),
s AS (
  SELECT doc_id, h,
         list_sort(list_distinct(
           list_transform(generate_series(1, len(h) - 3), j -> list_min(h[j : j + 3]))
         )) AS sel
  FROM k
)"""


@query(
    "q_llm_winnow",
    oracle=f"""
WITH {_WINNOW_CTE}
SELECT doc_id,
       CAST(len(h) AS INTEGER) AS n_kgrams,
       CAST(len(sel) AS INTEGER) AS n_selected,
       md5(array_to_string(sel, '|')) AS winnow_fp
FROM s
""",
)
def q_llm_winnow(spark, sf_dir):
    # Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    # algorithm): hash every 3-token shingle, slide a 4-hash window, keep
    # each window's minimum — the guaranteed-coverage fingerprint selection
    # used for partial-overlap/plagiarism detection, complementing
    # q_llm_fingerprint's whole-document hash. md5 STRINGS are the hash
    # domain (lexicographic min — bit-identical cross-engine, the
    # operators/text.py discipline); the selected set is emitted as a count
    # plus one md5 digest of its sorted join, so the output stays
    # scalar-only. Entirely per-row array expressions: no explode, no
    # shuffle — embarrassingly parallel at any corpus size.
    d = load_tables(spark, sf_dir)["documents"]
    toks = tokens_col("text")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 6)
    kgram = lambda i: F.md5(  # noqa: E731
        F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        )
    )
    k = t.select(
        "doc_id",
        F.transform(F.sequence(F.lit(1), F.size("toks") - 2), kgram).alias("h"),
    )
    sel = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - 3),
                lambda j: F.array_min(F.slice("h", j, 4)),
            )
        )
    )
    return k.select(
        "doc_id",
        F.size("h").alias("n_kgrams"),
        F.size(sel).alias("n_selected"),
        F.md5(F.array_join(sel, "|")).alias("winnow_fp"),
    )


def _winnow_selected(d):
    """(doc_id, n_selected, fp) — one row per selected winnow fingerprint
    per doc (the exploded form of q_llm_winnow's selection)."""
    toks = tokens_col("text")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 6)
    kgram = lambda i: F.md5(  # noqa: E731
        F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        )
    )
    k = t.select(
        "doc_id",
        F.transform(F.sequence(F.lit(1), F.size("toks") - 2), kgram).alias("h"),
    )
    sel = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - 3),
                lambda j: F.array_min(F.slice("h", j, 4)),
            )
        )
    )
    return k.select("doc_id", F.size(sel).alias("n_selected"), F.explode(sel).alias("fp"))


@query(
    "q_llm_winnow_dup",
    oracle=f"""
WITH {_WINNOW_CTE},
f AS (
  SELECT doc_id, len(sel) AS n_selected, unnest(sel) AS fp FROM s
),
cf AS (
  SELECT doc_id, n_selected, fp FROM f
  QUALIFY row_number() OVER (
    PARTITION BY fp
    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC NULLS LAST, doc_id ASC NULLS LAST
  ) <= {_LLM_BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_shared,
         min(a.n_selected) AS na, min(b.n_selected) AS nb
  FROM cf a JOIN cf b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared * 10000 // least(na, nb) AS BIGINT) AS overlap_bp
FROM pairs
WHERE n_shared >= 3
""",
)
def q_llm_winnow_dup(spark, sf_dir):
    """Cross-document partial-overlap detection over winnowing fingerprints
    (the MOSS use case): docs sharing >= 3 selected fingerprints are
    overlap candidates, scored by shared-fingerprint count and the overlap
    ratio against the smaller selection (basis points, exact integers).

    Winnowing guarantees every shared substring of >= window+kgram tokens
    contributes at least one COMMON selected fingerprint, so the
    fingerprint equi-join finds partial plagiarism/quotation that
    whole-document hashing (q_llm_fingerprint) and token-set Jaccard both
    miss. The fingerprint is the blocking key — same skew reality as LSH
    bands (a boilerplate fingerprint is a hot key), so the pairs come from
    operators/lsh.py::banded_pairs with the same deterministic
    per-fingerprint member cap. The fingerprint table is single-block
    (no band_id), so the kernel emits a pair once per shared fingerprint —
    exactly what the n_shared count, this query's verify step, counts.

    Decade-tail cut (r11 verdict #3): on diverse corpora most selected
    fingerprints are UNIQUE to one document and can never pair. The capped
    kernel enumerates pairs per fingerprint bucket on the cap window's own
    partitioning, so a single-member bucket emits nothing and rides no
    pair shuffle; na/nb are per-doc constants carried on every pair.

    r14: the scan fans out (session.fan_out_scan) before the kgram-md5 +
    window-min selection pipeline — a one-row-group input ran that whole
    per-doc compute on a single task (7.1 → 2.2 s at sf0.1; no-op on any
    multi-split input)."""
    from pkg2_spark.operators.lsh import banded_pairs
    from pkg2_spark.session import fan_out_scan

    d = load_tables(spark, sf_dir)["documents"]
    f = _winnow_selected(fan_out_scan(d.select("doc_id", "text")))
    blocks = f.select("doc_id", F.col("fp").alias("band_key"), "n_selected")
    pairs = (
        banded_pairs(
            blocks, "doc_id", "doc_a", "doc_b", cap=_LLM_BUCKET_CAP, carry=("n_selected",)
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("n_selected_a").alias("na"),
            F.min("n_selected_b").alias("nb"),
        )
        .filter(F.col("n_shared") >= 3)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.expr("n_shared * 10000 DIV least(na, nb)").cast("long").alias("overlap_bp"),
    )


@query(
    "q_llm_mix_temperature",
    oracle="""
WITH s AS (
  SELECT source,
         count(*) AS n_docs,
         sum(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))) AS n_tokens
  FROM documents GROUP BY source
),
k AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS sqrt_e6
  FROM s
),
t AS (SELECT sum(sqrt_e6) AS total_e6 FROM k)
SELECT k.source,
       CAST(k.n_docs AS BIGINT) AS n_docs,
       CAST(k.n_tokens AS BIGINT) AS n_tokens,
       CAST(k.sqrt_e6 * 10000 // t.total_e6 AS BIGINT) AS weight_bp
FROM k CROSS JOIN t
""",
)
def q_llm_mix_temperature(spark, sf_dir):
    """Temperature-scaled data-mixing weights (the sampling schedule of
    multi-domain pretraining): per-source sampling weight proportional to
    n_tokens^(1/2) — temperature T=2 flattens the natural distribution so
    small domains are upsampled, the standard alternative to proportional
    mixing. Emitted in basis points.

    Determinism: sqrt is IEEE-correctly-rounded (bit-identical on both
    engines for the same BIGINT input), and everything after the per-row
    sqrt is exact integer math — per-source floor(sqrt·1e6) BIGINTs, an
    exact integer total, integer DIV for the weights. Summing the raw
    DOUBLE sqrts would reintroduce summation-order nondeterminism (the
    test_determinism_discipline class); the e6 floor-scaling removes it.
    Topology: one source-keyed hash-agg + a 1-row broadcast total — the
    q_llm_domain_mix shape with the temperature transform on top."""
    d = load_tables(spark, sf_dir)["documents"]
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).alias("n_tokens"),
    )
    k = s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000)
        .cast("long")
        .alias("sqrt_e6"),
    )
    t = k.agg(F.sum("sqrt_e6").alias("total_e6"))
    return k.crossJoin(F.broadcast(t)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.expr("sqrt_e6 * 10000 DIV total_e6").cast("long").alias("weight_bp"),
    )


_DSIR_B = 256  # hashed feature buckets

_DSIR_TOK = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


@query(
    "q_llm_dsir",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest({_DSIR_TOK}) AS token
  FROM documents
),
b AS (
  SELECT doc_id, lang,
         ({v32_sql('md5(token)')}) % {_DSIR_B} AS bucket
  FROM tok
),
tc AS (SELECT bucket, count(*) AS t_cnt FROM b WHERE lang = 'en' GROUP BY bucket),
rc AS (SELECT bucket, count(*) AS r_cnt FROM b WHERE lang <> 'en' GROUP BY bucket),
buckets AS (SELECT DISTINCT bucket FROM b),
w AS (
  SELECT bk.bucket,
         (coalesce(tc.t_cnt, 0) + 1) AS t1,
         (coalesce(rc.r_cnt, 0) + 1) AS r1
  FROM buckets bk
  LEFT JOIN tc ON bk.bucket = tc.bucket
  LEFT JOIN rc ON bk.bucket = rc.bucket
),
tot AS (SELECT CAST(sum(t1) AS BIGINT) AS t_tot, CAST(sum(r1) AS BIGINT) AS r_tot FROM w),
wr AS (
  SELECT w.bucket,
         CAST((w.t1 * tot.r_tot * 10000) // (w.r1 * tot.t_tot) AS BIGINT) AS ratio_e4
  FROM w CROSS JOIN tot
),
scored AS (
  SELECT b.doc_id, count(*) AS n_tokens,
         CAST(sum(wr.ratio_e4) AS BIGINT) AS score_e4
  FROM b JOIN wr ON b.bucket = wr.bucket
  WHERE b.lang <> 'en'
  GROUP BY b.doc_id
)
SELECT doc_id, n_tokens,
       CAST(score_e4 // n_tokens AS BIGINT) AS avg_ratio_e4
FROM scored
ORDER BY avg_ratio_e4 DESC, doc_id ASC
LIMIT 25
""",
)
def q_llm_dsir(spark, sf_dir):
    """DSIR-style data selection via importance resampling (Xie et al.
    2023): score every RAW (non-target) document by how much its hashed
    unigram distribution resembles the TARGET domain (lang='en'), then
    surface the top candidates for target-domain training. Features are
    md5-hashed token buckets (B=256); each bucket carries the
    add-one-smoothed target/raw probability ratio, and a document's score
    is its mean per-token ratio.

    Adaptation for cross-engine exactness: DSIR's log-likelihood-ratio sum
    is replaced by the (monotone-per-bucket) probability-ratio MEAN in
    floor-e4 fixed point — libm log() is not guaranteed bit-identical
    across JVM and DuckDB, while this form is all BIGINT arithmetic
    (products bounded < 2^60 at bench scales; at real corpus scale the
    ratio table is computed once on sampled counts and broadcast, so the
    fixed-point width is a non-issue). Scale shape: two token hash-aggs +
    a 256-row broadcast weight table joined back to token occurrences —
    one shuffle per agg, no pairwise anything."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select("doc_id", "lang", F.explode(tokens_col("text")).alias("token"))
    b = tok.select(
        "doc_id",
        "lang",
        (F.expr(v32_spark("md5(token)")) % _DSIR_B).alias("bucket"),
    )
    # One explode+md5 pass: compact to per-(doc, lang, bucket) counts first.
    # Both downstream aggregates (the 256-bucket weight table and the
    # per-doc scores) derive from this frame, so Catalyst reuses one
    # exchange instead of re-running the token explode 4x (tc/rc/buckets/
    # scored in the naive formulation), and the second-stage inputs shrink
    # from token occurrences to <= docs x 256 rows.
    db = b.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = db.groupBy("bucket").agg(
        (F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)) + 1)
        .cast("long")
        .alias("t1"),
        (F.sum(F.when(F.col("lang") != "en", F.col("c")).otherwise(0)) + 1)
        .cast("long")
        .alias("r1"),
    )
    # Smoothing totals via a global window over the <=256-row weight table:
    # a separate .agg() branch would re-derive the whole token-explode
    # subtree (exchange reuse does not fire across the differing
    # projections), so the window keeps the plan at one full explode pass.
    every = Window.partitionBy()
    wr = w.select(
        "bucket",
        F.sum("t1").over(every).cast("long").alias("t_tot"),
        F.sum("r1").over(every).cast("long").alias("r_tot"),
        "t1",
        "r1",
    ).select(
        "bucket",
        F.expr("CAST((t1 * r_tot * 10000) DIV (r1 * t_tot) AS BIGINT)").alias(
            "ratio_e4"
        ),
    )
    scored = (
        db.filter(F.col("lang") != "en")
        .join(F.broadcast(wr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("ratio_e4")).cast("long").alias("score_e4"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            F.expr("CAST(score_e4 DIV n_tokens AS BIGINT)").alias("avg_ratio_e4"),
        )
        .orderBy(F.col("avg_ratio_e4").desc(), F.col("doc_id").asc())
        .limit(25)
    )


@query(
    "q_llm_simpson",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_DSIR_TOK}) AS token FROM documents
),
tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
d AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * c) AS BIGINT) AS sum_c2
  FROM tc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       CAST(sum_c2 * 10000 // (n_tokens * n_tokens) AS BIGINT) AS simpson_e4
FROM d
WHERE n_tokens > 0
ORDER BY simpson_e4 DESC, doc_id ASC
LIMIT 25
""",
)
def q_llm_simpson(spark, sf_dir):
    """Simpson concentration index per document — the vocabulary-collapse
    signal (sum of squared token probabilities: 1/n_distinct for uniform
    text, approaching 1 for a document that repeats one token). The
    entropy-free repetitiveness measure: where Shannon entropy needs
    log() (libm, not bit-identical across engines), Simpson is the exact
    rational sum(c_i^2)/n^2, computed here entirely in BIGINTs with an e4
    fixed-point emit. Surfaces the 25 most-degenerate documents — the
    quality-filter companion to q_llm_repetition's windowed n-gram rate.

    Scale shape: two map-side-combinable hash-aggs (doc×token counts,
    then per-doc moments) — one shuffle each, no windows, no pairs."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select("doc_id", F.explode(tokens_col("text")).alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    return (
        agg.filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.expr("CAST(sum_c2 * 10000 DIV (n_tokens * n_tokens) AS BIGINT)").alias(
                "simpson_e4"
            ),
        )
        .orderBy(F.col("simpson_e4").desc(), F.col("doc_id").asc())
        .limit(25)
    )


_BPE_ORACLE = """
WITH words AS (
  SELECT token AS w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
        FROM documents)
  GROUP BY token
),
seg AS (SELECT w, freq, string_split(w, '') AS syms, len(string_split(w, '')) AS n FROM words),
pairs AS (
  SELECT sym_pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(list_transform(generate_series(1, n - 1),
      i -> syms[CAST(i AS INTEGER)] || '+' || syms[CAST(i + 1 AS INTEGER)])) AS sym_pair
    FROM seg WHERE n >= 2
  ) GROUP BY sym_pair
),
merge AS (
  SELECT string_split(sym_pair, '+')[1] AS ma, string_split(sym_pair, '+')[2] AS mb,
         sym_pair, cnt
  FROM pairs ORDER BY cnt DESC, sym_pair ASC LIMIT 1
),
applied AS (
  SELECT s.w, s.freq,
         CASE WHEN m.ma <> m.mb THEN
           len(list_filter(generate_series(1, s.n - 1),
             i -> s.syms[CAST(i AS INTEGER)] = m.ma AND s.syms[CAST(i + 1 AS INTEGER)] = m.mb))
         ELSE
           len(list_filter(generate_series(1, s.n),
             i -> s.syms[CAST(i AS INTEGER)] = m.ma
              AND (CAST(i AS INTEGER) - coalesce(list_max(list_filter(generate_series(1, i),
                    j -> s.syms[CAST(j AS INTEGER)] <> m.ma)), 0)) % 2 = 0))
         END AS merges
  FROM seg s CROSS JOIN merge m
  WHERE s.n >= 2
),
before20 AS (
  SELECT 'pair_before' AS phase,
         CAST(row_number() OVER (ORDER BY cnt DESC, sym_pair ASC) AS INTEGER) AS rank,
         sym_pair AS item, cnt
  FROM pairs
  QUALIFY row_number() OVER (ORDER BY cnt DESC, sym_pair ASC) <= 20
),
mrow AS (SELECT 'merge' AS phase, CAST(1 AS INTEGER) AS rank, sym_pair AS item, cnt FROM merge),
after20 AS (
  SELECT 'word_after' AS phase,
         CAST(row_number() OVER (ORDER BY merges DESC, w ASC) AS INTEGER) AS rank,
         w AS item, merges AS cnt
  FROM applied WHERE merges > 0
  QUALIFY row_number() OVER (ORDER BY merges DESC, w ASC) <= 20
),
stats AS (
  SELECT 'stats' AS phase, CAST(1 AS INTEGER) AS rank, 'weighted_merges' AS item,
         CAST(sum(freq * merges) AS BIGINT) AS cnt
  FROM applied
)
SELECT * FROM before20 UNION ALL SELECT * FROM mrow
UNION ALL SELECT * FROM after20 UNION ALL SELECT * FROM stats
"""


@query("q_llm_bpe_step", oracle=_BPE_ORACLE)
def q_llm_bpe_step(spark, sf_dir):
    """One BPE merge step — tokenizer TRAINING as a distributed counting
    workload (the q_kmeans_step / q_llm_ivf_refine pattern: the iteration
    builder as a first-class differential-checked operator; real BPE
    training loops this step vocab-size times): count corpus word
    frequencies, count adjacent symbol-pair frequencies weighted by word
    freq, select the argmax pair (count DESC, pair ASC — the
    deterministic tie-break every BPE implementation needs), and APPLY
    the merge greedily left-to-right to the vocabulary. Emits the top-20
    pairs before the merge, the selected merge, the top-20 words by
    merges applied, and the weighted merge total.

    Greedy non-overlapping apply without a sequential fold: occurrences
    of pair (a,b) can only overlap when a = b (occurrence positions p and
    p+1 require syms[p+1] = b = a), so merges-per-word is exact counting
    — a ≠ b: every occurrence merges; a = b: within each maximal run of
    a's, greedy takes floor(run/2) = the positions whose backward run
    length is even. Both are row-local higher-order filters (words are
    ≤ ~20 symbols; the nested scan is bounded by construction).

    Scale shape: the corpus-sized work is ONE token explode + hash-agg
    (map-combinable) into the word-frequency table; everything after is
    VOCABULARY-sized (word types, not occurrences — bounded at any corpus
    scale). Pair counting is explode → hash-agg; the argmax and top-20s
    are TakeOrderedAndProject (per-partition partial top-k, no global
    sort); the 1-row merge frame broadcasts onto the vocab scan. Integer
    counts everywhere — partitioning-independent."""
    d = load_tables(spark, sf_dir)["documents"]
    words = (
        d.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # split(w, '(?!$)') — the empty pattern's trailing-element behavior
    # differs across Spark versions; the end-of-string lookahead yields
    # exactly the per-char symbol list under both semantics.
    seg = words.select(
        "w", "freq", F.expr("split(w, '(?!$)')").alias("syms")
    ).withColumn("n", F.size("syms"))
    pairs = (
        seg.filter(F.col("n") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, n - 1),"
                    " i -> element_at(syms, i) || '+' || element_at(syms, i + 1))"
                )
            ).alias("sym_pair"),
        )
        .groupBy("sym_pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    merge = (
        pairs.orderBy(F.col("cnt").desc(), F.col("sym_pair").asc())
        .limit(1)
        .select(
            F.expr("split_part(sym_pair, '+', 1)").alias("ma"),
            F.expr("split_part(sym_pair, '+', 2)").alias("mb"),
            "sym_pair",
            "cnt",
        )
    )
    applied = (
        seg.filter(F.col("n") >= 2)
        .crossJoin(F.broadcast(merge))
        .select(
            "w",
            "freq",
            F.expr(
                "CASE WHEN ma <> mb THEN"
                " size(filter(sequence(1, n - 1),"
                "  i -> element_at(syms, i) = ma AND element_at(syms, i + 1) = mb))"
                " ELSE"
                " size(filter(sequence(1, n),"
                "  i -> element_at(syms, i) = ma"
                "   AND (i - coalesce(array_max(filter(sequence(1, i),"
                "         j -> element_at(syms, j) != ma)), 0)) % 2 = 0))"
                " END"
            ).cast("long").alias("merges"),
        )
    )
    w20p = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    before20 = (
        pairs.orderBy(F.col("cnt").desc(), F.col("sym_pair").asc())
        .limit(20)
        .select(F.col("sym_pair").alias("item"), "cnt")
        .select(
            F.lit("pair_before").alias("phase"),
            F.row_number().over(w20p).cast("int").alias("rank"),
            "item",
            "cnt",
        )
    )
    mrow = merge.select(
        F.lit("merge").alias("phase"),
        F.lit(1).cast("int").alias("rank"),
        F.col("sym_pair").alias("item"),
        "cnt",
    )
    w20w = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    after20 = (
        applied.filter(F.col("merges") > 0)
        .orderBy(F.col("merges").desc(), F.col("w").asc())
        .limit(20)
        .select(F.col("w").alias("item"), F.col("merges").alias("cnt"))
        .select(
            F.lit("word_after").alias("phase"),
            F.row_number().over(w20w).cast("int").alias("rank"),
            "item",
            "cnt",
        )
    )
    stats = applied.agg(
        F.sum(F.col("freq") * F.col("merges")).cast("long").alias("cnt")
    ).select(
        F.lit("stats").alias("phase"),
        F.lit(1).cast("int").alias("rank"),
        F.lit("weighted_merges").alias("item"),
        "cnt",
    )
    return before20.unionAll(mrow).unionAll(after20).unionAll(stats)


_BPE_TRAIN_K = 8

# Greedy left-to-right merge of the adjacent pair (ma, mb) REWRITING the
# symbol array — the positional dual of q_llm_bpe_step's merge COUNTING
# (same docstring proof): a != b occurrences never overlap, so position i
# starts a merge iff (syms[i], syms[i+1]) = (ma, mb) and is consumed iff
# position i-1 started one; a = b occurrences overlap within runs, so a
# position starts a merge iff its 1-based offset inside its maximal a-run
# is ODD (greedy takes run positions 1-2, 3-4, ...) and is consumed iff
# the offset is EVEN. Each position emits a 1-element array (merged
# symbol / kept symbol) or an empty one (consumed); flatten stitches the
# new word. Row-local higher-order functions only — words are ~20 symbols
# and shrink every round, so the nested run-scan is bounded.
_BPE_APPLY_EXPR = """
flatten(transform(sequence(1, n), i ->
  CASE
    WHEN i < n AND element_at(syms, i) = ma AND element_at(syms, i + 1) = mb
         AND (ma != mb OR (i - coalesce(array_max(filter(sequence(1, i),
              j -> element_at(syms, j) != ma)), 0)) % 2 = 1)
      THEN array(ma || mb)
    WHEN (ma != mb AND i > 1 AND element_at(syms, i - 1) = ma
          AND element_at(syms, i) = mb)
      OR (ma = mb AND element_at(syms, i) = ma
          AND (i - coalesce(array_max(filter(sequence(1, i),
               j -> element_at(syms, j) != ma)), 0)) % 2 = 0)
      THEN array()
    ELSE array(element_at(syms, i))
  END))
"""

# The same rewrite in DuckDB's lambda dialect, parameterized on the
# round's seg CTE and 1-row merge CTE names (the unrolled oracle below).
_BPE_APPLY_SQL = """
flatten(list_transform(generate_series(1, s.n), i ->
  CASE
    WHEN i < s.n AND s.syms[CAST(i AS INTEGER)] = m.ma
         AND s.syms[CAST(i + 1 AS INTEGER)] = m.mb
         AND (m.ma <> m.mb OR (i - coalesce(list_max(list_filter(
              generate_series(1, i),
              j -> s.syms[CAST(j AS INTEGER)] <> m.ma)), 0)) % 2 = 1)
      THEN [m.ma || m.mb]
    WHEN (m.ma <> m.mb AND i > 1 AND s.syms[CAST(i - 1 AS INTEGER)] = m.ma
          AND s.syms[CAST(i AS INTEGER)] = m.mb)
      OR (m.ma = m.mb AND s.syms[CAST(i AS INTEGER)] = m.ma
          AND (i - coalesce(list_max(list_filter(generate_series(1, i),
               j -> s.syms[CAST(j AS INTEGER)] <> m.ma)), 0)) % 2 = 0)
      THEN []
    ELSE [s.syms[CAST(i AS INTEGER)]]
  END))
"""


def bpe_seg0(docs):
    """Word-frequency table segmented to per-character symbols — BPE
    training round 0 state: (w, freq, syms array<string>, n)."""
    words = (
        docs.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.select(
        "w", "freq", F.expr("split(w, '(?!$)')").alias("syms")
    ).withColumn("n", F.size("syms"))


def bpe_pair_counts(seg):
    """Freq-weighted adjacent symbol-pair counts over a seg state —
    (ma, mb, cnt). Pair fields stay SEPARATE columns (not a '+'-joined
    string) so symbols that themselves contain the join character can
    never corrupt the argmax parse; the display form is built at emit."""
    return (
        seg.filter(F.col("n") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, n - 1),"
                    " i -> struct(element_at(syms, i) AS ma,"
                    "             element_at(syms, i + 1) AS mb))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.ma").alias("ma"), F.col("p.mb").alias("mb"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def bpe_apply(seg, ma: str, mb: str):
    """Apply one merge to a seg state, returning the next state. The
    merged pair enters as literal COLUMNS (F.lit — no SQL-string
    interpolation, so any symbol characters are safe) feeding the shared
    rewrite expression."""
    return (
        seg.withColumn("ma", F.lit(ma))
        .withColumn("mb", F.lit(mb))
        .select("w", "freq", F.expr(_BPE_APPLY_EXPR).alias("syms"))
        .withColumn("n", F.size("syms"))
    )


def bpe_train_merges(docs, k: int = _BPE_TRAIN_K):
    """Run k BPE merge rounds over a documents frame; returns the ordered
    merge table ([(round, ma, mb, cnt), ...]) and the final seg state.
    The pair is returned as SEPARATE (ma, mb) fields — whitespace
    tokenization keeps punctuation, so a consumer that re-split a joined
    'ma+mb' display string on '+' would mis-parse any symbol containing
    '+' (the exact ambiguity bpe_pair_counts' separate-column design
    exists to prevent; r13 advice). Callers that want the display form
    concat it themselves. The per-round argmax is a 1-row driver collect
    (it IS the loop-carried scalar, the q_kmeans_step shape) and the
    rewritten state is lineage-truncated every round, so the logical
    plan stays constant-size at any k.

    r15 (guide §1.5 / §2 job count): the per-round checkpoint is LAZY
    (truncate_lineage_lazy) — the round's own argmax is an ordered limit
    whose TakeOrderedAndProject scans every partition of the state, so
    the checkpoint blocks are populated by the same job. One driver
    action per round instead of two (eager checkpoint + collect); the
    final state's blocks ride the caller's first consuming action the
    same way. Identical merge table (golden-merges tests)."""
    seg = bpe_seg0(docs).transform(truncate_lineage_lazy)
    merges = []
    for r in range(1, k + 1):
        top = (
            bpe_pair_counts(seg)
            .orderBy(
                F.col("cnt").desc(),
                F.concat(F.col("ma"), F.lit("+"), F.col("mb")).asc(),
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        ma, mb, cnt = top[0]["ma"], top[0]["mb"], top[0]["cnt"]
        merges.append((r, ma, mb, cnt))
        seg = bpe_apply(seg, ma, mb).transform(truncate_lineage_lazy)
    return merges, seg


def _bpe_chain_cte(k: int = _BPE_TRAIN_K) -> str:
    """The k-round training loop unrolled as MATERIALIZED CTEs (the
    q_graph_kcore lesson: without MATERIALIZED, DuckDB re-derives every
    earlier round once per reference and the oracle goes combinatorial).
    Shared WITH-prefix of the q_llm_bpe_train and q_llm_bpe_encode
    oracles — ends after seg{k}/m{k}, callers append their own CTEs and
    final SELECT."""
    parts = [
        f"""WITH words AS (
  SELECT token AS w, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
               x -> x <> '')) AS token FROM documents)
  GROUP BY token
),
seg0 AS MATERIALIZED (
  SELECT w, freq, string_split(w, '') AS syms,
         len(string_split(w, '')) AS n
  FROM words
)"""
    ]
    for r in range(1, k + 1):
        parts.append(f""",
m{r} AS MATERIALIZED (
  SELECT ma, mb, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT syms[CAST(i AS INTEGER)] AS ma,
           syms[CAST(i + 1 AS INTEGER)] AS mb, freq
    FROM (SELECT freq, syms, unnest(generate_series(1, n - 1)) AS i
          FROM seg{r - 1} WHERE n >= 2)
  ) GROUP BY ma, mb
  ORDER BY cnt DESC, ma || '+' || mb ASC LIMIT 1
),
seg{r} AS MATERIALIZED (
  SELECT w, freq, syms, len(syms) AS n FROM (
    SELECT s.w, s.freq, {_BPE_APPLY_SQL.strip()} AS syms
    FROM seg{r - 1} s CROSS JOIN m{r} m
  )
)""")
    return "".join(parts)


def _bpe_train_oracle(k: int = _BPE_TRAIN_K) -> str:
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS rnd, ma, mb, cnt FROM m{r}"
        for r in range(1, k + 1)
    )
    return _bpe_chain_cte(k) + f""",
merges AS ({merge_rows})
SELECT phase, rnd, item, cnt FROM (
  SELECT 'merge' AS phase, rnd, ma || '+' || mb AS item, cnt FROM merges
  UNION ALL
  SELECT 'stats', CAST({k + 1} AS INTEGER), 'corpus_symbols',
         CAST(sum(freq * n) AS BIGINT) FROM seg{k}
  UNION ALL
  SELECT 'stats', CAST({k + 1} AS INTEGER), 'vocab_symbols',
         CAST(count(DISTINCT sym) AS BIGINT)
  FROM (SELECT unnest(syms) AS sym FROM seg{k})
  UNION ALL
  SELECT 'stats', CAST({k + 1} AS INTEGER), 'word_types_merged',
         CAST(count(*) AS BIGINT) FROM seg{k} WHERE n < len(w)
)
ORDER BY phase, rnd, item"""


@query("q_llm_bpe_train", oracle=_bpe_train_oracle())
def q_llm_bpe_train(spark, sf_dir):
    """BPE tokenizer TRAINING — q_llm_bpe_step's merge selection looped
    for k = 8 rounds (r12 verdict #3), emitting the ORDERED merge table
    (the artifact a BPE tokenizer ships: round, merged pair, selection
    count) plus final-vocabulary stats (total corpus symbols after
    merging, distinct symbol types, word types changed). Each round
    counts freq-weighted adjacent symbol pairs over the current
    vocabulary state, selects the argmax pair (cnt DESC, pair ASC — the
    deterministic tie-break), and greedily rewrites every word's symbol
    array (bpe_apply; proof of the non-overlap/run decomposition in
    q_llm_bpe_step's docstring). Merge counts are structurally
    NON-INCREASING across rounds — a new pair touching the merged symbol
    is bounded by the merge's own occurrence count, and old pairs only
    lose occurrences (pinned by tests/test_training.py).

    Iteration discipline: the per-round argmax is a 1-row driver
    collect (bounded — it IS the loop-carried scalar, the q_kmeans_step
    shape) and the rewritten state is lineage-truncated every round
    (session.truncate_lineage), so round N never replays rounds 1..N-1
    and the logical plan stays constant-size at any k.

    Scale shape: corpus-sized work is ONE token explode + hash-agg into
    the word-frequency table, independent of k; every round after is
    VOCABULARY-sized (word types) — a pair explode + map-combinable
    hash-agg + TakeOrderedAndProject(1) argmax, then a row-local array
    rewrite. Oracle: the same k rounds unrolled as MATERIALIZED CTEs."""
    d = load_tables(spark, sf_dir)["documents"]
    merges, seg = bpe_train_merges(d, _BPE_TRAIN_K)
    merge_df = local_rows_df(
        spark, merges, "rnd int, ma string, mb string, cnt long"
    ).select(
        F.lit("merge").alias("phase"),
        "rnd",
        F.concat("ma", F.lit("+"), "mb").alias("item"),
        "cnt",
    )
    k1 = F.lit(_BPE_TRAIN_K + 1).cast("int")
    corpus_symbols = seg.agg(
        F.sum(F.col("freq") * F.col("n")).cast("long").alias("cnt")
    ).select(
        F.lit("stats").alias("phase"), k1.alias("rnd"),
        F.lit("corpus_symbols").alias("item"), "cnt",
    )
    vocab_symbols = (
        seg.select(F.explode("syms").alias("sym"))
        .agg(F.countDistinct("sym").cast("long").alias("cnt"))
        .select(
            F.lit("stats").alias("phase"), k1.alias("rnd"),
            F.lit("vocab_symbols").alias("item"), "cnt",
        )
    )
    word_types_merged = (
        seg.filter(F.col("n") < F.length("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.lit("stats").alias("phase"), k1.alias("rnd"),
            F.lit("word_types_merged").alias("item"), "cnt",
        )
    )
    return (
        merge_df.unionAll(corpus_symbols)
        .unionAll(vocab_symbols)
        .unionAll(word_types_merged)
        .orderBy("phase", "rnd", "item")
    )


def _bpe_encode_oracle(k: int = _BPE_TRAIN_K) -> str:
    return _bpe_chain_cte(k) + f""",
tok AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
         x -> x <> '')) AS w
  FROM documents
),
enc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(s.n) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(len(t.w)) AS BIGINT) AS n_word_chars
  FROM tok t JOIN seg{k} s ON t.w = s.w
  GROUP BY doc_id
)
SELECT doc_id, n_words, n_bpe_tokens, n_word_chars,
       CAST(n_word_chars * 1000 // n_bpe_tokens AS BIGINT) AS compress_e3
FROM enc
ORDER BY compress_e3 DESC, doc_id ASC LIMIT 25"""


@query("q_llm_bpe_encode", oracle=_bpe_encode_oracle())
def q_llm_bpe_encode(spark, sf_dir):
    """BPE ENCODING — the apply half of the tokenizer q_llm_bpe_train
    produces: train the k = 8 merge table, then tokenize the corpus with
    it and report per-document compression (chars per BPE token, e3
    fixed point) for the 25 most-compressible documents. This is the
    number a tokenizer evaluation actually reads — how many tokens a
    model will pay for each document under the trained vocab.

    Encoding never re-segments text row-by-row: the trained seg state
    IS the word -> token-count mapping (every corpus word type is in the
    vocab by construction), so encoding is a token explode joined to the
    vocabulary-sized seg table. At 100 TB the join strategy is AQE's
    call: a natural-language vocab (~1e6 word types) broadcasts; an
    adversarial unique-token corpus degrades to a sort-merge join on the
    word key — never a per-row Python tokenizer in either case.

    Scale shape: the training rounds are vocabulary-sized (see
    q_llm_bpe_train); encode adds ONE corpus-sized explode + word-keyed
    join + doc-keyed map-combinable hash-agg, then a
    TakeOrderedAndProject(25) panel."""
    d = load_tables(spark, sf_dir)["documents"]
    _, seg = bpe_train_merges(d, _BPE_TRAIN_K)
    vocab = seg.select("w", F.col("n").alias("n_bpe"))
    tok = d.select("doc_id", F.explode(tokens_col("text")).alias("w"))
    enc = (
        tok.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("w")).cast("long").alias("n_word_chars"),
        )
    )
    return (
        enc.select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            "n_word_chars",
            F.expr("CAST(n_word_chars * 1000 DIV n_bpe_tokens AS BIGINT)")
            .alias("compress_e3"),
        )
        .orderBy(F.col("compress_e3").desc(), F.col("doc_id").asc())
        .limit(25)
    )


_DRIFT_ORACLE = """
WITH spine AS (
  SELECT d.dim, b.bucket
  FROM (SELECT unnest(generate_series(1, 8)) AS dim) d
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bucket) b
),
vals AS (
  SELECT vec_id % 2 AS half, g.dim,
         CAST(least(greatest(floor((CAST(embedding[CAST(g.dim AS INTEGER)] AS DOUBLE)
           + 1.0) * 4), 0), 7) AS BIGINT) AS bucket
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS dim) g
),
cnt AS (
  SELECT dim, bucket,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM vals GROUP BY dim, bucket
),
tot AS (
  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM embeddings
),
j AS (
  SELECT s.dim, s.bucket,
         coalesce(c.n_base, 0) AS n_base, coalesce(c.n_cur, 0) AS n_cur,
         CAST(coalesce(c.n_base, 0) * 1000000 // t.a AS BIGINT) AS pa_e6,
         CAST(coalesce(c.n_cur, 0) * 1000000 // t.b AS BIGINT) AS pb_e6
  FROM spine s LEFT JOIN cnt c ON c.dim = s.dim AND c.bucket = s.bucket
  CROSS JOIN tot t
)
SELECT CAST(dim AS INTEGER) AS dim, CAST(bucket AS INTEGER) AS bucket,
       n_base, n_cur, pa_e6, pb_e6,
       CAST((pa_e6 - pb_e6) * (pa_e6 - pb_e6) // (pa_e6 + pb_e6 + 1) AS BIGINT) AS contrib
FROM j
"""


@query("q_dq_embdrift", oracle=_DRIFT_ORACLE)
def q_dq_embdrift(spark, sf_dir):
    """Embedding-distribution drift monitor — the snapshot-over-snapshot
    data-quality gate a production embedding pipeline runs before trusting
    a refreshed corpus (model re-embeds, upstream data shifts, a bad batch
    lands): bucket each monitored dimension (first 8) into 8 fixed value
    buckets over [-1, 1], count per (dim, bucket) for the base and current
    snapshot halves (vec_id parity stands in for two snapshot tags), and
    emit per-cell proportions plus an integer chi-square-style drift
    contribution ((pa-pb)^2 / (pa+pb+1) in e6 proportion units — the
    PSI-shaped signal without PSI's ln, which would put a libm rounding
    boundary inside a floored output). The 8x8 spine left-join keeps
    empty cells as explicit zero rows so the monitoring surface is
    schema-stable.

    Scale shape: one bounded x8 dimension explode -> (dim, bucket) hash
    agg (map-combinable, 64 groups) -> broadcast 2-scalar totals -> the
    constant 64-row spine join. At 100 TB this is a single scan + one
    64-group aggregate; bucket boundaries are FIXED (floor((v+1)*4)) so
    no quantile pass is needed and both engines bucket bit-identically
    (float->double exact, one IEEE multiply)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    spine = (
        spark.range(1, 9)
        .select(F.col("id").cast("long").alias("dim"))
        .crossJoin(spark.range(0, 8).select(F.col("id").cast("long").alias("bucket")))
    )
    vals = e.select(
        (F.col("vec_id") % 2).alias("half"),
        F.explode(
            F.expr(
                "transform(sequence(1, 8), d -> named_struct('dim', CAST(d AS BIGINT),"
                " 'bucket', CAST(least(greatest(floor((CAST(element_at(embedding, d)"
                " AS DOUBLE) + 1.0) * 4), 0), 7) AS BIGINT)))"
            )
        ).alias("db"),
    ).select("half", F.col("db.dim").alias("dim"), F.col("db.bucket").alias("bucket"))
    cnt = vals.groupBy("dim", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_cur"),
    )
    tot = e.agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).cast("long").alias("b"),
    )
    j = (
        spine.join(cnt, ["dim", "bucket"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "dim",
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            F.expr("coalesce(n_base, 0) * 1000000 div a").alias("pa_e6"),
            F.expr("coalesce(n_cur, 0) * 1000000 div b").alias("pb_e6"),
        )
    )
    return j.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("bucket").cast("int").alias("bucket"),
        "n_base",
        "n_cur",
        "pa_e6",
        "pb_e6",
        F.expr("(pa_e6 - pb_e6) * (pa_e6 - pb_e6) div (pa_e6 + pb_e6 + 1)").alias("contrib"),
    )


_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

_BG_PEN = 2  # stupid-backoff penalty in surprisal bits (integer stand-in
# for -log2(alpha) with alpha = 0.25; KenLM-style pipelines use 0.4)

_BIGRAM_LM_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
trn AS (SELECT doc_id, toks FROM t WHERE doc_id % 50 = 0),
scr AS (SELECT doc_id, toks FROM t WHERE doc_id % 50 <> 0),
tok1 AS (SELECT unnest(toks) AS w FROM trn),
cnt1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tok1 GROUP BY w),
n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM tok1),
bg AS (
  SELECT u.w1 || ' ' || u.w2 AS bg2, CAST(count(*) AS BIGINT) AS c2 FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
      i -> struct_pack(w1 := toks[CAST(i AS INTEGER)],
                       w2 := toks[CAST(i + 1 AS INTEGER)]))) AS u
    FROM trn WHERE len(toks) >= 2
  ) GROUP BY bg2
),
sp AS (
  SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
      i -> struct_pack(w1 := toks[CAST(i AS INTEGER)],
                       w2 := toks[CAST(i + 1 AS INTEGER)]))) AS u
    FROM scr WHERE len(toks) >= 2
  )
),
sc AS (
  SELECT sp.doc_id,
         CASE WHEN b.c2 IS NOT NULL THEN length(bin(CAST(ca.c1 // b.c2 AS BIGINT)))
              WHEN cb.c1 IS NOT NULL THEN length(bin(CAST(n.nt // cb.c1 AS BIGINT))) + {_BG_PEN}
              ELSE length(bin(n.nt)) + {_BG_PEN} END AS s,
         CASE WHEN b.c2 IS NOT NULL THEN 2
              WHEN cb.c1 IS NOT NULL THEN 1 ELSE 0 END AS kind
  FROM sp
  LEFT JOIN bg b ON sp.w1 || ' ' || sp.w2 = b.bg2
  LEFT JOIN cnt1 ca ON sp.w1 = ca.w
  LEFT JOIN cnt1 cb ON sp.w2 = cb.w
  CROSS JOIN n
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN kind = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN kind = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
       CAST(sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(s) AS BIGINT) AS surprisal_sum,
       CAST((1000 * sum(s)) // count(*) AS BIGINT) AS mean_milli
FROM sc GROUP BY doc_id
"""


@query("q_llm_bigram_lm", oracle=_BIGRAM_LM_ORACLE)
def q_llm_bigram_lm(spark, sf_dir):
    """Bigram LM with stupid backoff over a held-out split — the KenLM-style
    corpus-LM quality filter one rung up from q_llm_unigram_lm, with the
    train/score separation that makes backoff REAL: train token + adjacent-
    pair counts on a 2% doc sample (doc_id % 50 == 0 — production LM
    filters train on a corpus sample, not the corpus), score the rest;
    the sparse LM leaves genuinely unseen bigrams and tokens. A scored
    bigram seen in training costs bitlen(c1(w1) div c2(w1,w2)) bits
    (~-log2 P(w2|w1)); unseen context backs off to the unigram
    bitlen(N div c1(w2)) plus a flat integer penalty; an unseen w2 pays the
    full bitlen(N) plus penalty. Per scored doc: pair counts by kind
    (hit/backoff/oov — the coverage triple a filtering run monitors) and
    the mean-milli surprisal score. All bit-length integer arithmetic
    (no libm log near a floor boundary, the q_llm_unigram_lm rule).

    Scale shape: train side is two explode → hash-agg passes (token LM is
    vocabulary-sized, bigram LM is pair-vocabulary-sized); score side is
    one row-local pair explode joined back on three high-cardinality keys
    (bigram, w1, w2 — the TF-IDF topology three times) plus a broadcast
    1-row corpus total, then one doc-keyed hash-agg. No windows, no
    driver-side state; every shuffle key grows with vocabulary, not
    corpus size."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", tokens_col("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    trn = t.filter(F.col("doc_id") % 50 == 0)
    scr = t.filter((F.col("doc_id") % 50 != 0) & (F.col("n") >= 2))
    tok1 = trn.select(F.explode("toks").alias("w"))
    cnt1 = tok1.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    n = tok1.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    pair_expr = (
        "transform(sequence(1, n - 1), i -> named_struct("
        "'w1', element_at(toks, i), 'w2', element_at(toks, i + 1)))"
    )
    bgc = (
        trn.filter(F.col("n") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("u"))
        .select(F.concat_ws(" ", F.col("u.w1"), F.col("u.w2")).alias("bg2"))
        .groupBy("bg2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    sp = scr.select("doc_id", F.explode(F.expr(pair_expr)).alias("u")).select(
        "doc_id", F.col("u.w1").alias("w1"), F.col("u.w2").alias("w2")
    )
    ca = cnt1.select(F.col("w").alias("wa"), F.col("c1").alias("ca1"))
    cb = cnt1.select(F.col("w").alias("wb"), F.col("c1").alias("cb1"))
    sc = (
        sp.join(bgc, F.concat_ws(" ", "w1", "w2") == F.col("bg2"), "left")
        .join(ca, F.col("w1") == F.col("wa"), "left")
        .join(cb, F.col("w2") == F.col("wb"), "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN c2 IS NOT NULL THEN length(bin(ca1 div c2))"
                f" WHEN cb1 IS NOT NULL THEN length(bin(nt div cb1)) + {_BG_PEN}"
                f" ELSE length(bin(nt)) + {_BG_PEN} END"
            ).alias("s"),
            F.expr(
                "CASE WHEN c2 IS NOT NULL THEN 2"
                " WHEN cb1 IS NOT NULL THEN 1 ELSE 0 END"
            ).alias("kind"),
        )
    )
    return sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("kind") == 2, 1).otherwise(0)).cast("long").alias("n_hits"),
        F.sum(F.when(F.col("kind") == 1, 1).otherwise(0)).cast("long").alias("n_backoff"),
        F.sum(F.when(F.col("kind") == 0, 1).otherwise(0)).cast("long").alias("n_oov"),
        F.sum("s").cast("long").alias("surprisal_sum"),
        F.expr("(1000 * sum(s)) div count(1)").cast("long").alias("mean_milli"),
    )


_LSH_CALIB_ORACLE = f"""
WITH {{bands}},
t AS (
  SELECT doc_id, source, list_distinct({_TOKS}) AS toks FROM documents
),
truth AS (
  SELECT doc_a, doc_b, CAST((1000 * ni) // (la + lb - ni) AS BIGINT) AS j_milli FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS ni,
           len(a.toks) AS la, len(b.toks) AS lb
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
  ) WHERE la + lb - ni > 0
),
{_banded_pairs_sql("doc_id", "doc_a", "doc_b", source="bands")},
flagged AS (
  SELECT tr.j_milli, CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS caught
  FROM truth tr LEFT JOIN cand l ON tr.doc_a = l.doc_a AND tr.doc_b = l.doc_b
)
SELECT CAST(least(j_milli // 100, 9) AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(caught) AS BIGINT) AS n_caught,
       CAST((1000 * sum(caught)) // count(*) AS BIGINT) AS catch_milli,
       CAST(min(j_milli) AS BIGINT) AS min_j_milli,
       CAST(max(j_milli) AS BIGINT) AS max_j_milli
FROM flagged GROUP BY bucket
"""


@query(
    "q_llm_lsh_calib",
    oracle=_LSH_CALIB_ORACLE.format(bands=_llm_bands_cte().strip()),
)
def q_llm_lsh_calib(spark, sf_dir):
    """MinHash-LSH S-curve calibration — the measured collision table that
    tells a production dedup whether its (K, r, b) banding actually catches
    the Jaccard range it was tuned for: for every ground-truth pair (the
    source-blocked exact token-set Jaccard of q_llm_jaccard, the attainable
    evaluation set; a 100 TB deployment runs this on a sampled block),
    bucket the exact Jaccard into deciles and report, per bucket, how many
    pairs the UNCAPPED band equi-join (the q_llm_neardup_pairs candidate
    set) discovered. Low buckets measure the false-positive mass the
    verify stage must absorb; high buckets measure recall — the two
    numbers that decide whether to move r/b before a full-corpus run.

    Scale shape: ground truth is the source-blocked pair join (linear per
    block, sampled in production); the LSH side is the standard
    (band_id, band_key) equi-join; the flag join is pair-keyed; the final
    aggregate has ≤ 10 groups. Integer milli-Jaccard (1000·|∩| div |∪|)
    and integer catch rates — partitioning-independent."""
    from pkg2_spark.operators.text import (
        band_key_expr,
        blocked_token_pairs,
        minhash_signatures,
        tokenize_distinct,
    )

    d = load_tables(spark, sf_dir)["documents"]
    # Ground truth via blocked_token_pairs (r14): probe-side fan-out + one
    # array_intersect per pair — the q_llm_jaccard kernel fix.
    truth = (
        blocked_token_pairs(d)
        .select("doc_a", "doc_b", "ni", (F.col("la") + F.col("lb") - F.col("ni")).alias("denom"))
        .filter(F.col("denom") > 0)
        .select("doc_a", "doc_b", F.expr("CAST(1000 * ni AS BIGINT) div denom").alias("j_milli"))
    )
    # r14 (guide §8 "decide with small rows"): the flag only asks "do the
    # two docs share any (band_id, band_key) bucket" — a per-pair predicate
    # over each doc's b-entry band set, so the UNCAPPED LSH pair set never
    # needs materializing. The former band self-join emitted ~6M pairs from
    # two ~2.4k-member hot buckets on ONE AQE-coalesced task (5.2 s of the
    # 8.4 s total), then distinct'd them only to left-join against truth.
    # Now: two id-keyed joins attach each side's band array (b strings,
    # "band_id|band_key") to the truth pairs and arrays_overlap answers
    # membership — identical caught bit (pair ∈ band equi-join ⟺ band sets
    # intersect), zero quadratic work, skew-proof at any corpus size.
    sig = minhash_signatures(tokenize_distinct(d), 8)
    band_entries = [
        F.concat(F.lit(f"{b}|"), band_key_expr(b, 4)) for b in range(2)
    ]
    docbands = sig.select("doc_id", F.array(*band_entries).alias("_bset"))
    ba = docbands.select(F.col("doc_id").alias("doc_a"), F.col("_bset").alias("_bsa"))
    bb = docbands.select(F.col("doc_id").alias("doc_b"), F.col("_bset").alias("_bsb"))
    # LEFT joins (ADVICE r14, medium): a zero-token doc has no signature row,
    # so an inner join would DROP its truth pairs where the oracle's LEFT
    # JOIN counts them as caught=0. coalesce(overlap, 0) preserves the old
    # null→0 semantics for any corpus containing an empty/whitespace doc.
    flagged = (
        truth.join(ba, "doc_a", "left")
        .join(bb, "doc_b", "left")
        .select(
            "j_milli",
            F.coalesce(
                F.arrays_overlap("_bsa", "_bsb").cast("int"), F.lit(0)
            ).alias("caught"),
        )
    )
    return flagged.groupBy(
        F.expr("CAST(least(j_milli div 100, 9) AS INT)").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("caught").cast("long").alias("n_caught"),
        F.expr("(1000 * sum(caught)) div count(1)").cast("long").alias("catch_milli"),
        F.min("j_milli").cast("long").alias("min_j_milli"),
        F.max("j_milli").cast("long").alias("max_j_milli"),
    )


_NB_PEN = 2  # unseen-token smoothing penalty in surprisal bits

_NB_LANGID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
trn AS (SELECT doc_id, lang, toks FROM t WHERE doc_id % 10 = 0),
scr AS (SELECT doc_id, lang, toks FROM t WHERE doc_id % 10 <> 0),
classes AS (
  SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_docs_c FROM trn GROUP BY lang
),
ndocs AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM trn),
tokc AS (
  SELECT lang AS cls, u AS token, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest(toks) AS u FROM trn) GROUP BY cls, token
),
totc AS (SELECT cls, CAST(sum(c) AS BIGINT) AS nc FROM tokc GROUP BY cls),
sp AS (SELECT doc_id, unnest(toks) AS token FROM scr WHERE len(toks) > 0),
scored AS (
  SELECT sp.doc_id, cl.cls,
         CAST(sum(CASE WHEN tc.c IS NOT NULL THEN length(bin(CAST(tt.nc // tc.c AS BIGINT)))
                       ELSE length(bin(tt.nc)) + {_NB_PEN} END) AS BIGINT) AS tok_s
  FROM sp
  CROSS JOIN classes cl
  JOIN totc tt ON tt.cls = cl.cls
  LEFT JOIN tokc tc ON tc.cls = cl.cls AND tc.token = sp.token
  GROUP BY sp.doc_id, cl.cls
),
withprior AS (
  SELECT s.doc_id, s.cls,
         s.tok_s + length(bin(CAST(n.nd // c.n_docs_c AS BIGINT))) AS s
  FROM scored s JOIN classes c ON s.cls = c.cls CROSS JOIN ndocs n
),
best AS (
  SELECT doc_id, cls AS pred FROM (
    SELECT doc_id, cls,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY s ASC NULLS LAST, cls ASC NULLS LAST) AS rn
    FROM withprior
  ) WHERE rn = 1
),
conf AS (
  SELECT d.lang AS true_lang, b.pred AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM scr d JOIN best b ON d.doc_id = b.doc_id
  GROUP BY true_lang, pred_lang
)
SELECT true_lang, pred_lang, n_docs,
       CAST((1000 * n_docs) // sum(n_docs) OVER (PARTITION BY true_lang) AS BIGINT)
         AS row_milli
FROM conf
"""


@query("q_llm_nb_langid", oracle=_NB_LANGID_ORACLE)
def q_llm_nb_langid(spark, sf_dir):
    """Naive-Bayes language classifier with held-out evaluation — the
    trained-classifier stand-in for the fasttext lang-ID/quality step of a
    CCNet/RedPajama pipeline (q_llm_langid is the 5-marker heuristic; this
    is the full-vocabulary model): train per-class token likelihoods and
    class priors on a 10% doc sample, score every held-out doc by total
    integer surprisal (bit-length arithmetic, the q_llm_unigram_lm rule:
    seen token costs bitlen(Nc div cnt), unseen costs bitlen(Nc) + flat
    penalty, plus the bitlen class-prior term), predict argmin with a
    deterministic tie-break, and emit the confusion matrix with per-true-
    class row percentages — the evaluation surface a classifier gate
    reports before it filters a corpus.

    Scale shape: training is one explode → (class, token) hash-agg
    (vocabulary × #classes sized); scoring explodes held-out tokens once,
    crosses with the CONSTANT class list (bounded ×|classes|, broadcast),
    left-joins the (class, token) likelihood table on a high-cardinality
    key, and hash-aggs per (doc, class); the argmin is a per-doc window
    over ≤|classes| rows; the confusion output is |classes|² rows at any
    corpus size. Integer surprisal sums — partitioning-independent."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", "lang", tokens_col("text").alias("toks"))
    trn = t.filter(F.col("doc_id") % 10 == 0)
    scr = t.filter((F.col("doc_id") % 10 != 0) & (F.size("toks") > 0))
    classes = trn.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_c")
    )
    ndocs = trn.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    tokc = (
        trn.select(F.col("lang").alias("cls"), F.explode("toks").alias("token"))
        .groupBy("cls", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    totc = tokc.groupBy("cls").agg(F.sum("c").cast("long").alias("nc"))
    sp = scr.select("doc_id", F.explode("toks").alias("token"))
    cl = F.broadcast(classes.join(totc, "cls").select("cls", "n_docs_c", "nc"))
    scored = (
        sp.crossJoin(cl)
        .join(
            tokc.select(F.col("cls").alias("tcls"), F.col("token").alias("ttok"), "c"),
            (F.col("cls") == F.col("tcls")) & (F.col("token") == F.col("ttok")),
            "left",
        )
        .groupBy("doc_id", "cls", "nc", "n_docs_c")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN c IS NOT NULL THEN length(bin(nc div c))"
                    f" ELSE length(bin(nc)) + {_NB_PEN} END"
                )
            ).cast("long").alias("tok_s")
        )
    )
    withprior = scored.crossJoin(F.broadcast(ndocs)).select(
        "doc_id",
        "cls",
        (F.col("tok_s") + F.expr("length(bin(nd div n_docs_c))")).alias("s"),
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("s").asc_nulls_last(), F.col("cls").asc_nulls_last()
    )
    best = (
        withprior.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cls").alias("pred"))
    )
    conf = (
        scr.select("doc_id", "lang")
        .join(best, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), F.col("pred").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w_row = Window.partitionBy("true_lang")
    return conf.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.expr("CAST(1000 * n_docs AS BIGINT)")
        .alias("_num")
        .cast("long"),
        F.sum("n_docs").over(w_row).alias("_den"),
    ).select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.expr("_num div _den").cast("long").alias("row_milli"),
    )


def _ivf_incr_oracle() -> str:
    base_cte = ASSIGN_CTE.replace("embeddings", "base")
    return f"""
WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 0),
delta AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
{base_cte},
{descend_cte('delta')},
bc AS (SELECT cid // {SLOT_BASE} AS cid, CAST(count(*) AS BIGINT) AS n_base
       FROM assign GROUP BY 1),
dc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_delta FROM d3 GROUP BY cid),
cells AS (
  SELECT 'cell' AS phase,
         CAST(row_number() OVER (ORDER BY dc.n_delta DESC, dc.cid ASC) AS INTEGER) AS rank,
         CAST(dc.cid AS BIGINT) AS cid,
         coalesce(bc.n_base, 0) AS n_base, dc.n_delta,
         CAST((1000 * dc.n_delta) // greatest(coalesce(bc.n_base, 0), 1) AS BIGINT)
           AS growth_milli
  FROM dc LEFT JOIN bc ON bc.cid = dc.cid
  QUALIFY row_number() OVER (ORDER BY dc.n_delta DESC, dc.cid ASC) <= 20
),
summary AS (
  SELECT 'summary' AS phase, CAST(1 AS INTEGER) AS rank, CAST(-1 AS BIGINT) AS cid,
         (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_base,
         (SELECT CAST(count(*) AS BIGINT) FROM delta) AS n_delta,
         CAST((1000 * (SELECT count(*) FROM delta)) //
              (SELECT count(*) FROM base) AS BIGINT) AS growth_milli
)
SELECT * FROM cells UNION ALL SELECT * FROM summary
"""


@query("q_vec_ivf_incr", oracle=_ivf_incr_oracle())
def q_vec_ivf_incr(spark, sf_dir):
    """Incremental IVF index maintenance — the SERVING-path operation the
    batch-rebuild family doesn't cover: a delta batch of new vectors
    (vec_id % 10 == 0 stands in for today's ingest) is routed down the
    EXISTING three-level centroid tree built on the base corpus — no
    rebuild, no re-assignment of base vectors — and the operator emits the
    occupancy report an index maintainer watches: top-20 cells by delta
    arrivals (base size, delta size, integer growth-milli) plus a summary
    row. The q_llm_dedup_incr pattern applied to the ANN index: deltas
    touch only the cells they land in; rebuild (q_llm_ivf_refine /
    q_kmeans_step) is a separate, scheduled operation triggered when this
    report shows cells drifting past their target size.

    Scale shape: the base tree is the memoized checkpointed construction
    shared with the IVF family (built once per corpus per session); the
    delta descent costs |delta|·(k1+k2+k3) via the same wide-codegen
    broadcast/cell-keyed argmax levels as construction — independent of
    base size; occupancy is two hash-aggs on cid; the report is
    TakeOrderedAndProject top-20 + a broadcast 2-scalar summary.
    Integer counts — partitioning-independent."""
    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    t = tree(base)
    d3 = descend(t, delta).withColumnRenamed("qcid", "cid")
    # Occupancy at QUANTIZER-cell granularity (slots of one cell share a
    # centroid; a maintainer watches the cell, not its cap slots).
    bc = (
        t.assign.groupBy(F.expr(f"cid div {SLOT_BASE}").alias("cid"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    )
    dc = d3.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_delta"))
    w20 = Window.orderBy(F.col("n_delta").desc(), F.col("cid").asc())
    cells = (
        dc.join(bc, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            "n_delta",
        )
        .orderBy(F.col("n_delta").desc(), F.col("cid").asc())
        .limit(20)
        .select(
            F.lit("cell").alias("phase"),
            F.row_number().over(w20).cast("int").alias("rank"),
            "cid",
            "n_base",
            "n_delta",
            F.expr("(1000 * n_delta) div greatest(n_base, 1)").cast("long")
            .alias("growth_milli"),
        )
    )
    nb = base.agg(F.count(F.lit(1)).cast("long").alias("tb"))
    nd = delta.agg(F.count(F.lit(1)).cast("long").alias("td"))
    summary = (
        nb.crossJoin(F.broadcast(nd))
        .select(
            F.lit("summary").alias("phase"),
            F.lit(1).cast("int").alias("rank"),
            F.lit(-1).cast("long").alias("cid"),
            F.col("tb").alias("n_base"),
            F.col("td").alias("n_delta"),
            F.expr("(1000 * td) div tb").cast("long").alias("growth_milli"),
        )
    )
    return cells.unionAll(summary)


def _ivf_retract_oracle() -> str:
    base_cte = ASSIGN_CTE.replace("embeddings", "base")
    return f"""
WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 0),
delta AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
{base_cte},
{descend_cte('delta')},
bc AS (SELECT cid // {SLOT_BASE} AS cid, CAST(count(*) AS BIGINT) AS n_live
       FROM assign WHERE vec_id % 10 <> 5 GROUP BY 1),
rc AS (SELECT cid // {SLOT_BASE} AS cid, CAST(count(*) AS BIGINT) AS n_removed
       FROM assign WHERE vec_id % 10 = 5 GROUP BY 1),
dc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_delta FROM d3 GROUP BY cid),
churn AS (
  SELECT coalesce(dc.cid, rc.cid) AS cid,
         coalesce(dc.n_delta, 0) AS n_delta,
         coalesce(rc.n_removed, 0) AS n_removed
  FROM dc FULL OUTER JOIN rc ON rc.cid = dc.cid
),
cells AS (
  SELECT 'cell' AS phase,
         CAST(row_number() OVER (
           ORDER BY ch.n_delta + ch.n_removed DESC, ch.cid ASC
         ) AS INTEGER) AS rank,
         CAST(ch.cid AS BIGINT) AS cid,
         coalesce(bc.n_live, 0) AS n_live, ch.n_delta, ch.n_removed,
         CAST((1000 * ch.n_delta)
                // greatest(coalesce(bc.n_live, 0) + ch.n_removed, 1)
              - (1000 * ch.n_removed)
                // greatest(coalesce(bc.n_live, 0) + ch.n_removed, 1)
              AS BIGINT) AS net_milli
  FROM churn ch LEFT JOIN bc ON bc.cid = ch.cid
  QUALIFY row_number() OVER (
    ORDER BY ch.n_delta + ch.n_removed DESC, ch.cid ASC
  ) <= 20
),
summary AS (
  SELECT 'summary' AS phase, CAST(1 AS INTEGER) AS rank, CAST(-1 AS BIGINT) AS cid,
         (SELECT CAST(count(*) AS BIGINT) FROM base)
           - (SELECT CAST(count(*) AS BIGINT) FROM base WHERE vec_id % 10 = 5)
           AS n_live,
         (SELECT CAST(count(*) AS BIGINT) FROM delta) AS n_delta,
         (SELECT CAST(count(*) AS BIGINT) FROM base WHERE vec_id % 10 = 5)
           AS n_removed,
         CAST((1000 * (SELECT count(*) FROM delta))
                // (SELECT count(*) FROM base)
              - (1000 * (SELECT count(*) FROM base WHERE vec_id % 10 = 5))
                // (SELECT count(*) FROM base) AS BIGINT) AS net_milli
)
SELECT * FROM cells UNION ALL SELECT * FROM summary
"""


@query("q_vec_ivf_retract", oracle=_ivf_retract_oracle())
def q_vec_ivf_retract(spark, sf_dir):
    """IVF index maintenance with RETRACTIONS (r13 verdict #2) — the
    delete arm of q_vec_ivf_incr: alongside the delta batch descending
    the existing centroid tree, a delete set (vec_id % 10 == 5 of the
    base, standing in for a table-CDC delete feed or takedown list) is
    anti-joined out of the cell membership — no rebuild, no descent for
    deletes (a member's cell is already known; removal is an anti-join
    on the posting lists, the Faiss remove_ids shape). The report is the
    maintainer's churn view: top-20 cells by (arrivals + removals), each
    with post-delete live occupancy, arrivals, removals, and the NET
    growth-milli against the pre-delete size — negative for shrinking
    cells, the signal that schedules cell merges rather than splits.

    Incremental-with-deletes ≡ batch on the post-delete corpus holds
    trivially per vector (descent is row-local; removal never moves
    survivors), and the oracle pins it the strong way: a full SQL
    recompute of the tree descent with the deleted members filtered at
    count time. Scale: the anti-join touches only cells holding deleted
    members (posting-list locality); delta cost as q_vec_ivf_incr;
    occupancy is three hash-aggs on cid."""
    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    dead = base.filter(F.col("vec_id") % 10 == 5).select("vec_id")
    t = tree(base)
    assign = t.assign
    d3 = descend(t, delta).withColumnRenamed("qcid", "cid")
    cell = F.expr(f"cid div {SLOT_BASE}").alias("cid")
    live = (
        assign.join(dead, "vec_id", "left_anti")
        .groupBy(cell)
        .agg(F.count(F.lit(1)).cast("long").alias("n_live"))
    )
    removed = (
        assign.join(dead, "vec_id", "leftsemi")
        .groupBy(cell)
        .agg(F.count(F.lit(1)).cast("long").alias("n_removed"))
    )
    dc = d3.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_delta"))
    churn = (
        dc.join(removed, "cid", "full_outer")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )
    w20 = Window.orderBy(
        (F.col("n_delta") + F.col("n_removed")).desc(), F.col("cid").asc()
    )
    cells = (
        churn.join(live, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_live", F.lit(0)).cast("long").alias("n_live"),
            "n_delta",
            "n_removed",
        )
        .orderBy((F.col("n_delta") + F.col("n_removed")).desc(), F.col("cid").asc())
        .limit(20)
        .select(
            F.lit("cell").alias("phase"),
            F.row_number().over(w20).cast("int").alias("rank"),
            "cid",
            "n_live",
            "n_delta",
            "n_removed",
            # two NONNEGATIVE divisions, not one signed one: integer
            # division truncates in Spark but floors in DuckDB — they
            # only agree on nonnegative operands (house rule).
            F.expr(
                "(1000 * n_delta) div greatest(n_live + n_removed, 1) "
                "- (1000 * n_removed) div greatest(n_live + n_removed, 1)"
            ).cast("long").alias("net_milli"),
        )
    )
    nb = base.agg(F.count(F.lit(1)).cast("long").alias("tb"))
    nr = dead.agg(F.count(F.lit(1)).cast("long").alias("tr"))
    nd = delta.agg(F.count(F.lit(1)).cast("long").alias("td"))
    summary = (
        nb.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nd))
        .select(
            F.lit("summary").alias("phase"),
            F.lit(1).cast("int").alias("rank"),
            F.lit(-1).cast("long").alias("cid"),
            (F.col("tb") - F.col("tr")).cast("long").alias("n_live"),
            F.col("td").alias("n_delta"),
            F.col("tr").alias("n_removed"),
            F.expr("(1000 * td) div tb - (1000 * tr) div tb")
            .cast("long").alias("net_milli"),
        )
    )
    return cells.unionAll(summary)


@query(
    "q_vec_norm_stats",
    oracle="""
WITH n AS (
  SELECT label,
         CAST(floor(sqrt(list_reduce(
           list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
           (a, b) -> a + b)) * 1000000) AS BIGINT) AS norm_e6
  FROM embeddings
)
SELECT label, count(*) AS n_vecs,
       CAST(min(norm_e6) AS BIGINT) AS min_norm_e6,
       CAST(max(norm_e6) AS BIGINT) AS max_norm_e6,
       CAST(sum(norm_e6) // count(*) AS BIGINT) AS avg_norm_e6
FROM n GROUP BY label
""",
)
def q_vec_norm_stats(spark, sf_dir):
    """Embedding NORM audit per label — the vector-hygiene check run
    before any cosine pipeline (un-normalized or near-zero vectors
    silently corrupt cosine ranking; this is the profile that catches
    them). The L2 norm is a row-local LEFT FOLD over the vector array —
    elements cast to double FIRST, then x² accumulated in array order —
    so both engines execute the identical IEEE add/mul sequence, and
    sqrt is IEEE-exact (a correctly-rounded required operation), making
    floor(sqrt·1e6) bit-stable cross-engine with no rational gymnastics.

    Scale: pure row-local expression work inside codegen + one
    |labels|-row hash-agg; no UDF, no shuffle beyond the final
    aggregate."""
    e = load_tables(spark, sf_dir)["embeddings"]
    ss = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x * x,
    )
    norm = F.floor(F.sqrt(ss) * 1000000).cast("long")
    return (
        e.select("label", norm.alias("norm_e6"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm_e6").alias("min_norm_e6"),
            F.max("norm_e6").alias("max_norm_e6"),
            F.expr("sum(norm_e6) div count(*)").cast("long").alias("avg_norm_e6"),
        )
    )
