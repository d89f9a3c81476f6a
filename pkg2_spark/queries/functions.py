"""SURVEY.md §2.8 — scalar function surface, one query per family.

Each query projects a family of functions over a bounded deterministic slice.
Dialect divergences are compensated in the ORACLE side (the Spark side stays
idiomatic) and documented inline:
- DuckDB lacks initcap/width_bucket/crc32/overlay → emulated or omitted.
- DuckDB regexp_replace replaces FIRST match unless flag 'g'; Spark replaces all.
- DuckDB ceil/mod return DECIMAL → cast to BIGINT/DOUBLE.
- DuckDB date_trunc('month') returns DATE (Spark: TIMESTAMP) → cast.
- dayofweek numbering: Spark 1=Sunday, DuckDB 0=Sunday → +1.
- Timestamps emitted as unix_micros/epoch_us, never strings (§2.13.2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pkg2_spark.catalog import load_tables
from pkg2_spark.registry import query
from pkg2_spark.session import local_rows_df


@query(
    "q_fn_string",
    oracle="""
SELECT doc_id,
       substring(text, 1, 5) AS sub5,
       upper(substring(text, 1, 10)) AS up10,
       upper(substring(split_part(text, ' ', 1), 1, 1)) || substring(split_part(text, ' ', 1), 2) AS cap_first,
       CAST(length(text) AS INTEGER) AS tlen,
       lpad(lang, 5, '_') AS lang_pad,
       rpad(source, 8, '.') AS src_pad,
       replace(substring(text, 1, 20), ' ', '_') AS repl,
       CAST(levenshtein(lang, source) AS INTEGER) AS lev,
       regexp_extract(text, '^([a-z]+)', 1) AS first_word,
       regexp_replace(substring(text, 1, 30), '[aeiou]', '*', 'g') AS devoweled,
       reverse(lang) AS lang_rev,
       CAST(instr(text, 'a') AS BIGINT) AS first_a,
       split_part(text, ' ', 2) AS second_word,
       translate(lang, 'aeiou', 'AEIOU') AS lang_tr,
       concat_ws('-', lang, source) AS lang_src,
       CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS first_ord,
       trim(concat(' ', lang, ' ')) AS trimmed
FROM documents
WHERE doc_id < 100
""",
)
def q_fn_string(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    first_tok = F.split_part(F.col("text"), F.lit(" "), F.lit(1))
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.substring("text", 1, 5).alias("sub5"),
        F.upper(F.substring("text", 1, 10)).alias("up10"),
        # initcap equivalent on one token (DuckDB has no initcap)
        F.concat(F.upper(F.substring(first_tok, 1, 1)), F.expr("substring(split_part(text, ' ', 1), 2)")).alias("cap_first"),
        F.length("text").alias("tlen"),
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.rpad("source", 8, ".").alias("src_pad"),
        F.replace(F.substring("text", 1, 20), F.lit(" "), F.lit("_")).alias("repl"),
        F.levenshtein("lang", "source").alias("lev"),
        F.regexp_extract("text", "^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.substring("text", 1, 30), "[aeiou]", "*").alias("devoweled"),
        F.reverse("lang").alias("lang_rev"),
        F.instr("text", "a").cast("long").alias("first_a"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.translate("lang", "aeiou", "AEIOU").alias("lang_tr"),
        F.concat_ws("-", "lang", "source").alias("lang_src"),
        F.ascii(F.substring("text", 1, 1)).alias("first_ord"),
        F.trim(F.concat(F.lit(" "), F.col("lang"), F.lit(" "))).alias("trimmed"),
    )


@query(
    "q_fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       CAST(day(o_orderdate) AS INTEGER) AS d,
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       epoch_us(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)) AS month_start_us,
       epoch_us(o_orderdate + INTERVAL 30 DAY) AS plus30_us,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95,
       epoch_us(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)) AS month_end_us,
       CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
       CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS doy
FROM orders
WHERE o_orderkey < 500
""",
)
def q_fn_date(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    return o.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.unix_micros(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start_us"),
        # ts + interval yields TIMESTAMP_NTZ in Spark 4 — cast back before unix_micros
        F.unix_micros((F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).cast("timestamp")).alias("plus30_us"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("days_since_95"),
        F.unix_micros(F.last_day("o_orderdate").cast("timestamp")).alias("month_end_us"),
        # Spark dayofweek: 1=Sunday; DuckDB: 0=Sunday (oracle compensates +1)
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
    )


@query(
    "q_fn_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(abs(l_quantity - 25), 2) AS dist25,
       CAST(ceil(l_extendedprice / 100) AS BIGINT) AS price_ceil,
       CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_floor,
       round(sqrt(l_extendedprice), 6) AS price_sqrt,
       round(exp(l_discount), 6) AS disc_exp,
       round(ln(l_extendedprice), 6) AS price_ln,
       round(log10(l_extendedprice), 6) AS price_log10,
       round(pow(l_quantity, 2), 2) AS qty_sq,
       CAST(mod(CAST(l_quantity AS BIGINT), 7) AS BIGINT) AS qty_mod7,
       CAST(sign(l_quantity - 25) AS INTEGER) AS qty_sign,
       round(greatest(l_quantity, l_discount * 100, 10.0), 2) AS g,
       round(least(l_quantity, l_tax * 100), 2) AS l,
       CAST(CASE WHEN l_quantity < 0 THEN 0
                 WHEN l_quantity >= 60 THEN 13
                 ELSE floor(l_quantity / 5.0) + 1 END AS BIGINT) AS qty_bucket
FROM lineitem
WHERE l_orderkey < 300
""",
)
def q_fn_math(spark, sf_dir):
    l = load_tables(spark, sf_dir)["lineitem"]
    return l.filter(F.col("l_orderkey") < 300).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_quantity") - 25), 2).alias("dist25"),
        F.ceil(F.col("l_extendedprice") / 100).alias("price_ceil"),
        F.floor(F.col("l_extendedprice") / 100).alias("price_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty_sq"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod7"),
        F.signum(F.col("l_quantity") - 25).cast("int").alias("qty_sign"),
        F.round(F.greatest("l_quantity", F.col("l_discount") * 100, F.lit(10.0)), 2).alias("g"),
        F.round(F.least("l_quantity", F.col("l_tax") * 100), 2).alias("l"),
        # width_bucket(qty, 0, 60, 12) — DuckDB lacks width_bucket; oracle
        # spells the same bucketing arithmetic.
        F.width_bucket(F.col("l_quantity"), F.lit(0.0), F.lit(60.0), F.lit(12)).alias("qty_bucket"),
    )


@query(
    "q_fn_hash",
    oracle="""
SELECT doc_id,
       md5(text) AS text_md5,
       sha256(text) AS text_sha256,
       md5(concat(lang, ':', text)) AS keyed_md5,
       substring(md5(text), 1, 8) AS md5_prefix
FROM documents
WHERE doc_id < 100
""",
)
def q_fn_hash(spark, sf_dir):
    # md5/sha256 are bit-identical across engines (portable content hashing —
    # the basis of exact dedup and MinHash). xxhash64 is engine-specific and
    # never appears in checked output (§2.13.7).
    d = load_tables(spark, sf_dir)["documents"]
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("text"))).alias("keyed_md5"),
        F.substring(F.md5("text"), 1, 8).alias("md5_prefix"),
    )


@query(
    "q_fn_array",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       CAST(len(tokens) AS INTEGER) AS n_tok,
       to_json(tokens[1:3]) AS first3,
       list_contains(tokens, 'data') AS has_data,
       CAST(len(list_distinct(tokens)) AS INTEGER) AS n_uniq,
       list_sort(tokens)[1] AS first_sorted,
       CAST(list_sum(list_transform(tokens, x -> length(x))) AS BIGINT) AS total_len,
       CAST(len(list_filter(tokens, x -> length(x) > 5)) AS INTEGER) AS n_long,
       to_json(flatten([tokens[1:2], tokens[3:4]])) AS first4,
       to_json(list_transform([1, 2, 3], x -> CAST(x * 10 AS BIGINT))) AS tens
FROM t
""",
)
def q_fn_array(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = d.filter(F.col("doc_id") < 100).select("doc_id", toks.alias("tokens"))
    return t.select(
        "doc_id",
        F.size("tokens").alias("n_tok"),
        # Array outputs serialize to JSON at the boundary (driver round-1 FAIL:
        # its pandas canonicalizer cannot hash bare list cells). Spark and
        # DuckDB to_json agree byte-for-byte on string/int arrays.
        F.to_json(F.slice("tokens", 1, 3)).alias("first3"),
        F.array_contains("tokens", "data").alias("has_data"),
        F.size(F.array_distinct("tokens")).alias("n_uniq"),
        F.element_at(F.array_sort("tokens"), 1).alias("first_sorted"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_len"),
        F.size(F.filter("tokens", lambda x: F.length(x) > 5)).alias("n_long"),
        F.to_json(
            F.flatten(F.array(F.slice("tokens", 1, 2), F.slice("tokens", 3, 2)))
        ).alias("first4"),
        F.to_json(
            F.transform(F.sequence(F.lit(1), F.lit(3)), lambda x: (x * 10).cast("long"))
        ).alias("tens"),
    )


@query(
    "q_fn_posexplode",
    oracle="""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
  FROM documents WHERE doc_id < 20
)
, ex AS (
  SELECT doc_id,
         unnest(list_transform(tokens,
                (x, i) -> struct_pack(pos := CAST(i - 1 AS INTEGER), tok := x))) AS u
  FROM t
)
SELECT doc_id, u.pos AS pos, u.tok AS tok FROM ex
""",
)
def q_fn_posexplode(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    return (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    )


@query(
    "q_fn_map_struct",
    oracle="""
SELECT doc_id,
       struct_pack(lang := lang, n := n_chars).lang AS s_lang,
       CAST(struct_pack(lang := lang, n := n_chars).n AS BIGINT) AS s_n,
       map_extract(MAP {'lang': lang, 'src': source}, 'src')[1] AS m_src,
       to_json(list_sort(map_keys(MAP {'lang': lang, 'src': source}))) AS m_keys,
       to_json(struct_pack(lang := lang, n := n_chars)) AS st_json
FROM documents
WHERE doc_id < 100
""",
)
def q_fn_map_struct(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    st = F.named_struct(F.lit("lang"), F.col("lang"), F.lit("n"), F.col("n_chars"))
    mp = F.map_from_arrays(
        F.array(F.lit("lang"), F.lit("src")), F.array(F.col("lang"), F.col("source"))
    )
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id",
        st.getField("lang").alias("s_lang"),
        st.getField("n").alias("s_n"),
        F.element_at(mp, F.lit("src")).alias("m_src"),
        # JSON-serialized at the boundary (driver hasher rejects bare lists).
        F.to_json(F.array_sort(F.map_keys(mp))).alias("m_keys"),
        F.to_json(st).alias("st_json"),
    )


@query(
    "q_fn_json",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       json_extract_string(props, '$.missing') IS NULL AS missing_is_null,
       CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k_doubled
FROM events
WHERE event_id < 2000
""",
)
def q_fn_json(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k").cast("int")
    return e.filter(F.col("event_id") < 2000).select(
        "event_id",
        k.alias("k"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
        (F.from_json("props", "k INT").getField("k") * 2).alias("k_doubled"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS b_and,
       o_orderkey | 4096 AS b_or,
       xor(o_orderkey, 1365) AS b_xor,
       CAST(o_orderkey % 16 AS BIGINT) << 2 AS b_shl,
       o_orderkey >> 3 AS b_shr,
       CAST(bit_count(o_orderkey) AS INTEGER) AS b_pop
FROM orders
WHERE o_orderkey < 5000
""",
)
def q_fn_bitwise(spark, sf_dir):
    # Bitwise family — flag fields, bucket masks, bloom/bitmap building
    # blocks. Spark `^` is pyspark bitwiseXOR; DuckDB spells it xor()
    # (its ^ is exponentiation) — a dialect trap worth pinning.
    o = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey")
    return o.filter(k < 5000).select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("b_and"),
        k.bitwiseOR(F.lit(4096)).alias("b_or"),
        k.bitwiseXOR(F.lit(1365)).alias("b_xor"),
        F.shiftleft((k % 16).cast("bigint"), 2).alias("b_shl"),
        F.shiftright(k, 3).alias("b_shr"),
        F.bit_count(k).cast("int").alias("b_pop"),
    )


@query(
    "q_fn_url",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
           || '?lang=' || lang AS url
  FROM documents WHERE doc_id < 500
)
SELECT doc_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS proto,
       regexp_extract(url, '://([^/]+)/', 1) AS host,
       regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query
FROM urls
""",
)
def q_fn_url(spark, sf_dir):
    # URL decomposition via Spark's native parse_url (JVM, codegen); the
    # oracle reconstructs the parts with POSIX-simple regexes since DuckDB
    # 1.0 has no parse_url. Synthetic URLs derive from the documents table.
    d = load_tables(spark, sf_dir)["documents"]
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    return d.filter(F.col("doc_id") < 500).select(
        "doc_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )


@query(
    "q_fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
       json_valid(props) AS is_valid
FROM events
WHERE event_id < 1500
""",
)
def q_fn_variant(spark, sf_dir):
    # Spark 4 VARIANT path: parse_json → variant_get with a type template —
    # the open-schema semi-structured column type (binary-encoded, typed
    # extraction without a schema declaration). The oracle reads the same
    # JSON with DuckDB's json functions; is_valid goes through try_parse_json
    # (NULL on malformed input = invalid).
    e = load_tables(spark, sf_dir)["events"]
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return e.filter(F.col("event_id") < 1500).select(
        "event_id",
        k.alias("k"),
        (k % 10).alias("k_mod"),
        F.try_parse_json("props").isNotNull().alias("is_valid"),
    )


@query(
    "q_fn_strdist",
    oracle="""
SELECT p_partkey,
       CAST(levenshtein(p_name, p_type) AS INTEGER) AS d_name_type,
       CAST(levenshtein(p_name, p_brand) AS INTEGER) AS d_name_brand,
       CAST(levenshtein(lower(p_name), lower(reverse(p_name))) AS INTEGER) AS d_palindrome,
       CAST(length(p_name) AS INTEGER) AS name_len
FROM part
WHERE p_partkey < 500
""",
)
def q_fn_strdist(spark, sf_dir):
    # String-distance family: Levenshtein edit distance (exact integer DP —
    # engine-portable by construction), the fuzzy-matching primitive for
    # entity resolution over package/product names. Row-local projection;
    # at scale it runs inside codegen on whatever blocked candidate pairs
    # feed it (see q_llm_jaccard_lsh for the blocking pattern).
    p = load_tables(spark, sf_dir)["part"]
    return p.filter(F.col("p_partkey") < 500).select(
        "p_partkey",
        F.levenshtein("p_name", "p_type").alias("d_name_type"),
        F.levenshtein("p_name", "p_brand").alias("d_name_brand"),
        F.levenshtein(F.lower("p_name"), F.lower(F.reverse("p_name"))).alias("d_palindrome"),
        F.length("p_name").alias("name_len"),
    )


@query(
    "q_fn_ip",
    oracle="""
WITH ips AS (
  SELECT c_custkey,
         CAST((c_custkey * 7) % 224 AS BIGINT) AS o1,
         CAST((c_custkey * 13) % 256 AS BIGINT) AS o2,
         CAST((c_custkey * 31) % 256 AS BIGINT) AS o3,
         CAST((c_custkey * 3) % 256 AS BIGINT) AS o4
  FROM customer
),
parsed AS (
  SELECT c_custkey,
         o1 || '.' || o2 || '.' || o3 || '.' || o4 AS ip,
         CAST(string_split(o1 || '.' || o2 || '.' || o3 || '.' || o4, '.')[1] AS BIGINT) * 16777216
         + CAST(string_split(o1 || '.' || o2 || '.' || o3 || '.' || o4, '.')[2] AS BIGINT) * 65536
         + CAST(string_split(o1 || '.' || o2 || '.' || o3 || '.' || o4, '.')[3] AS BIGINT) * 256
         + CAST(string_split(o1 || '.' || o2 || '.' || o3 || '.' || o4, '.')[4] AS BIGINT) AS ip_int
  FROM ips
),
rules AS (
  SELECT * FROM (VALUES
    (CAST(0 AS BIGINT),  CAST(1 AS BIGINT),  'low-half'),
    (CAST(64 AS BIGINT), CAST(2 AS BIGINT),  'quad-2'),
    (CAST(96 AS BIGINT), CAST(3 AS BIGINT),  'oct-96'),
    (CAST(128 AS BIGINT), CAST(1 AS BIGINT), 'high-half')
  ) t(net_o1, prefix, label)
),
matched AS (
  SELECT p.c_custkey, p.ip_int, r.label, r.prefix
  FROM parsed p JOIN rules r
    ON (p.ip_int // power(2, 32 - r.prefix)::BIGINT)
     = ((r.net_o1 * 16777216) // power(2, 32 - r.prefix)::BIGINT)
  QUALIFY row_number() OVER (
    PARTITION BY p.c_custkey ORDER BY r.prefix DESC, r.label ASC
  ) = 1
)
SELECT label, count(*) AS n,
       CAST(min(ip_int) AS BIGINT) AS min_ip,
       CAST(max(ip_int) AS BIGINT) AS max_ip
FROM matched GROUP BY label
""",
)
def q_fn_ip(spark, sf_dir):
    """IP/CIDR function family — dotted-quad parse to uint32 and
    LONGEST-PREFIX-MATCH classification against a CIDR rule table, all
    as integer Catalyst expressions (no inet type needed): ip_int =
    fold(split(ip,'.')), membership = equality of the top `prefix` bits
    (integer shift), LPM = row_number over prefix DESC per address.

    Scale: the rule table is a broadcast literal (real deployments
    broadcast a few-thousand-row route/geo table the same way); the
    match is a BroadcastNestedLoopJoin on a bit-shift predicate bounded
    by |rules| per row, then a hash agg. Addresses are synthesized
    deterministically from c_custkey so both engines parse identical
    strings."""
    c = load_tables(spark, sf_dir)["customer"]
    k = F.col("c_custkey")
    ip = F.concat_ws(
        ".",
        ((k * 7) % 224).cast("string"),
        ((k * 13) % 256).cast("string"),
        ((k * 31) % 256).cast("string"),
        ((k * 3) % 256).cast("string"),
    )
    part = F.split(ip, "\\.")
    ip_int = (
        part.getItem(0).cast("long") * 16777216
        + part.getItem(1).cast("long") * 65536
        + part.getItem(2).cast("long") * 256
        + part.getItem(3).cast("long")
    )
    parsed = c.select("c_custkey", ip_int.alias("ip_int"))
    rules = local_rows_df(
        spark,
        [(0, 1, "low-half"), (64, 2, "quad-2"), (96, 3, "oct-96"), (128, 1, "high-half")],
        "net_o1 long, prefix long, label string",
    )
    shift = F.pow(F.lit(2.0), 32 - F.col("prefix")).cast("long")
    joined = parsed.join(
        F.broadcast(rules),
        (F.col("ip_int") / shift).cast("long")
        == ((F.col("net_o1") * 16777216) / shift).cast("long"),
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("prefix").desc(), F.col("label").asc()
    )
    lpm = joined.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return lpm.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ip_int").alias("min_ip"),
        F.max("ip_int").alias("max_ip"),
    )


@query(
    "q_fn_encode",
    oracle="""
SELECT p_partkey,
       base64(encode(p_name)) AS name_b64,
       hex(encode(p_name)) AS name_hex,
       decode(from_base64(base64(encode(p_name)))) = p_name AS b64_roundtrip,
       CAST(length(base64(encode(p_name))) AS BIGINT) AS b64_len
FROM part
WHERE p_partkey < 500
""",
)
def q_fn_encode(spark, sf_dir):
    """Binary ENCODING family — base64 and hex of UTF-8 bytes plus the
    decode round-trip, the functions every payload-carrying pipeline
    (q_src_binary's domain) leans on to move bytes through text
    channels. Row-local codegen expressions; both engines emit the
    RFC-4648 alphabet and uppercase hex over identical UTF-8 bytes.

    Scale: pure per-row projection under the pushed key filter — no
    shuffle at all."""
    p = load_tables(spark, sf_dir)["part"]
    name_bin = F.encode(F.col("p_name"), "UTF-8")
    return p.filter(F.col("p_partkey") < 500).select(
        "p_partkey",
        F.base64(name_bin).alias("name_b64"),
        F.hex(name_bin).alias("name_hex"),
        (
            F.decode(F.unbase64(F.base64(name_bin)), "UTF-8")
            == F.col("p_name")
        ).alias("b64_roundtrip"),
        F.length(F.base64(name_bin)).cast("long").alias("b64_len"),
    )
