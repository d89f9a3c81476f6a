"""SURVEY.md §2.1 scans/sources/sinks + §2.2 projections/filters/predicates.

pkg2 analog [Tier C]: per-distribution repository index readers (APKINDEX,
Debian Packages, …) normalized into a uniform record table at ingest; package
search = LIKE/regex filters over that table.

Scale notes:
- Scan queries keep filters/projections as Catalyst expressions so they reach
  the parquet reader (PushedFilters / ReadSchema — verified via .explain in
  tests/test_plans.py).
- Source round-trip queries (csv/json/orc) land files under <repo>/tmp_io and
  verify losslessness by aggregating the re-read data against a DuckDB oracle
  computed on the ORIGINAL table — a stronger check than rows-only.
- The APKINDEX-style ingest reads whole files (one row per file via
  ``wholetext``), explodes stanzas, then parses fields with regexp — after the
  explode everything is distributed; per-file parsing matches how repo indexes
  shard in the wild (one bounded index file per repo/arch).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pyspark.sql.types as T

from pkg2_spark.catalog import load_tables
from pkg2_spark.registry import query

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
IO_DIR = os.path.join(_REPO_DIR, "tmp_io")


def fixture_path(name: str, sf_dir: str) -> str:
    """Per-sf fixture directory: <repo>/tmp_io/<sf-tag>/<name>.

    Keyed by sf_dir so a fixture written at sf0.001 (tests) can never be
    read back by a run at sf0.01 (driver) — round 1 shared one path across
    scales and relied on mode('overwrite') rewriting every invocation."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(IO_DIR, tag, name)


def bucketed_tables(sf_dir: str) -> tuple[str, str]:
    """Catalog names of q_sink_bucketed's (orders, customer) tables,
    content-addressed by sf_dir like the catalog's statistics tables."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"pkg2_{tag}_bucketed_orders", f"pkg2_{tag}_bucketed_customer"


# Serializes q_sink_bucketed's check-then-write: two first calls would
# otherwise both clear and rewrite the same warehouse directories.
_BUCKETED_WRITE = threading.Lock()


def fixture_ready(
    path: str, sf_dir: str, marker: str = "_SUCCESS", version: str | None = None
) -> bool:
    """True when a completed write already sits at ``path`` (_SUCCESS marker
    for Spark writers; multi-batch sinks pass their own run-level marker,
    written only after the WHOLE run finished — a per-batch _SUCCESS can't
    prove later batches ever ran) AND is newer than the source testdata in
    ``sf_dir``.
    Fixture inputs are pure functions of (sf_dir, query-version), so a
    finished write is reusable across invocations AND processes — the
    driver's per-query loop then pays the write once per scale, not once per
    call. The mtime guard exists because the driver REGENERATES testdata
    between rounds (round 3: events.ts changed parquet type); a fixture older
    than its source tables would silently serve stale rows. An unreadable
    source dir counts as not-ready (regenerate rather than trust a cache
    whose freshness can't be established).

    ``version`` (ADVICE r14): recipe-gated fixtures (commit filters,
    num_files, DV predicates baked into the builder code) additionally
    embed a recipe-version string in the marker CONTENT; a marker whose
    content does not match counts as not-ready, so editing the fixture
    recipe invalidates the cache without waiting for a testdata
    regeneration. Writers pass the same string to ``fixture_mark``."""
    marker = os.path.join(path, marker)
    if not os.path.exists(marker):
        return False
    if version is not None:
        try:
            with open(marker) as fh:
                if fh.read().strip() != version:
                    return False
        except OSError:
            return False
    try:
        newest_src = max(
            os.path.getmtime(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    except (OSError, ValueError):
        return False
    return os.path.getmtime(marker) >= newest_src


def fixture_mark(path: str, marker: str, version: str = "ok") -> None:
    """Write a fixture completion marker with its recipe-version content
    (the check side is fixture_ready's ``version`` parameter)."""
    with open(os.path.join(path, marker), "w") as fh:
        fh.write(version + "\n")


# ---------------------------------------------------------------- §2.1 scans

@query(
    "q_scan_parquet",
    oracle="""
SELECT count(*) AS n_rows, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qty_e2
FROM lineitem
""",
)
def q_scan_parquet(spark, sf_dir):
    l = load_tables(spark, sf_dir)["lineitem"]
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias("total_qty_e2"),
    )


@query(
    "q_scan_prune",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderkey % 100 = 0
""",
)
def q_scan_prune(spark, sf_dir):
    # Two-column projection out of a six-column table: Catalyst prunes the
    # parquet ReadSchema to exactly these columns.
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@query(
    "q_scan_filter_pushdown",
    oracle="""
SELECT o_orderpriority, count(*) AS n, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
)
def q_scan_filter_pushdown(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("o_orderstatus") == "F")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_price_e2"),
        )
    )


@query(
    "q_scan_nanos",
    oracle="""
SELECT event_type,
       count(*) AS n,
       epoch_us(min(ts)) AS min_ts_us,
       epoch_us(max(ts)) AS max_ts_us
FROM events
GROUP BY event_type
""",
)
def q_scan_nanos(spark, sf_dir):
    # TIMESTAMP(NANOS) ingestion (SURVEY.md §1.3): catalog shim turns the
    # legacy long into TimestampType; emit unix_micros, never string casts.
    e = load_tables(spark, sf_dir)["events"]
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.unix_micros(F.min("ts")).alias("min_ts_us"),
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
    )


# ------------------------------------------------- §2.1 sources (round-trip)

_DOC_AGG_ORACLE = """
SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc
FROM documents
GROUP BY lang
"""


def _doc_agg(df):
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@query("q_src_csv", oracle=_DOC_AGG_ORACLE)
def q_src_csv(spark, sf_dir):
    # Lossless CSV round-trip: write documents to CSV, re-read with an
    # explicit schema, aggregate — oracle aggregates the ORIGINAL table, so a
    # match proves the reader+writer preserve values exactly.
    d = load_tables(spark, sf_dir)["documents"]
    path = fixture_path("src_csv", sf_dir)
    if not fixture_ready(path, sf_dir):
        d.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(_DOC_SCHEMA).option("header", True).csv(path)
    return _doc_agg(back)


@query("q_src_json", oracle=_DOC_AGG_ORACLE)
def q_src_json(spark, sf_dir):
    d = load_tables(spark, sf_dir)["documents"]
    path = fixture_path("src_json", sf_dir)
    if not fixture_ready(path, sf_dir):
        d.write.mode("overwrite").json(path)
    back = spark.read.schema(_DOC_SCHEMA).json(path)
    return _doc_agg(back)


@query(
    "q_src_orc",
    oracle="""
SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_src_orc(spark, sf_dir):
    l = load_tables(spark, sf_dir)["lineitem"]
    path = fixture_path("src_orc", sf_dir)
    if not fixture_ready(path, sf_dir):
        l.select("l_returnflag", "l_extendedprice").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_e2"),
    )


@query(
    "q_sink_parquet",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def q_sink_parquet(spark, sf_dir):
    # partitionBy writer: one directory per o_orderstatus — the layout that
    # enables static partition pruning on re-read at scale.
    o = load_tables(spark, sf_dir)["orders"]
    path = fixture_path("sink_parquet", sf_dir)
    if not fixture_ready(path, sf_dir):
        o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sum_price_e2"),
    )


@query(
    "q_sink_csv",
    oracle="""
SELECT n_regionkey, count(*) AS n_nations
FROM nation
GROUP BY n_regionkey
""",
)
def q_sink_csv(spark, sf_dir):
    n = load_tables(spark, sf_dir)["nation"]
    path = fixture_path("sink_csv", sf_dir)
    if not fixture_ready(path, sf_dir):
        n.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n_nations"))


@query(
    "q_src_corrupt",
    oracle="""
SELECT CAST(count(*) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT) AS n_good,
       CAST(count(*) FILTER (WHERE doc_id % 10 = 0) AS BIGINT) AS n_corrupt,
       CAST(sum(n_chars) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT) AS sum_chars
FROM documents
""",
)
def q_src_corrupt(spark, sf_dir):
    """Bad-record tolerance at the source: a JSON-lines fixture where every
    10th record is malformed, read in PERMISSIVE mode with
    columnNameOfCorruptRecord — good rows parse, bad rows land whole in the
    corrupt column instead of failing the job (the at-scale ingestion
    posture: quarantine, don't crash). The oracle recomputes good/corrupt
    counts arithmetically from the source table, so the reader's
    classification is value-checked."""
    d = load_tables(spark, sf_dir)["documents"]
    path = fixture_path("src_corrupt", sf_dir)
    if not fixture_ready(path, sf_dir):
        good = d.filter(F.col("doc_id") % 10 != 0).select(
            F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("value")
        )
        bad = d.filter(F.col("doc_id") % 10 == 0).select(
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "broken')).alias("value")
        )
        good.unionAll(bad).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return back.agg(
        F.count_if(F.col("_corrupt_record").isNull()).alias("n_good"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_chars"))).alias("sum_chars"),
    )


# ------------------------------------- §2.1 repo-index ingestion (pkg2 analog)

_APKINDEX_PATH = os.path.join(_REPO_DIR, "pkg2_spark", "data", "apkindex_sample.txt")

_APKINDEX_ORACLE = f"""
WITH stanzas AS (
  SELECT unnest(string_split(content, chr(10) || chr(10))) AS stanza
  FROM read_text('{_APKINDEX_PATH}')
)
SELECT
  regexp_extract(stanza, 'P:([^' || chr(10) || ']+)', 1) AS name,
  regexp_extract(stanza, 'V:([^' || chr(10) || ']+)', 1) AS version,
  regexp_extract(stanza, 'A:([^' || chr(10) || ']+)', 1) AS arch,
  CAST(regexp_extract(stanza, 'S:([0-9]+)', 1) AS BIGINT) AS size,
  to_json(list_sort(list_filter(string_split(regexp_extract(stanza, 'D:([^' || chr(10) || ']+)', 1), ' '), x -> x <> ''))) AS depends
FROM stanzas
WHERE trim(stanza) <> ''
"""


@query("q_src_repoindex", oracle=_APKINDEX_ORACLE)
def q_src_repoindex(spark, sf_dir):
    """APKINDEX-stanza ingestion — pkg2's core capability re-expressed.

    Whole-file read (repo index files are bounded, one per repo/arch) →
    stanza explode → regexp field extraction → normalized package table.
    """
    raw = spark.read.text(_APKINDEX_PATH, wholetext=True)
    stanza = (
        raw.select(F.explode(F.split(F.col("value"), "\n\n")).alias("stanza"))
        .filter(F.trim(F.col("stanza")) != "")
    )
    return stanza.select(
        F.regexp_extract("stanza", r"P:([^\n]+)", 1).alias("name"),
        F.regexp_extract("stanza", r"V:([^\n]+)", 1).alias("version"),
        F.regexp_extract("stanza", r"A:([^\n]+)", 1).alias("arch"),
        F.regexp_extract("stanza", r"S:([0-9]+)", 1).cast("long").alias("size"),
        # JSON-serialized at the boundary (driver hasher rejects bare lists);
        # the normalized-array form lives on in Engine.ingest_apkindex.
        F.to_json(
            F.array_sort(
                F.filter(
                    F.split(F.regexp_extract("stanza", r"D:([^\n]+)", 1), " "),
                    lambda x: x != "",
                )
            )
        ).alias("depends"),
    )


# ------------------------------------------------ §2.2 projections / filters

@query(
    "q_proj_expr",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT) AS disc_price_micro,
       CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT) AS charge_micro,
       round(l_quantity * 2 + 1, 2) AS qty_expr,
       CAST(l_quantity >= 25 AS BOOLEAN) AS is_bulk
FROM lineitem
WHERE l_orderkey < 200
""",
)
def q_proj_expr(spark, sf_dir):
    # Per-row derived money is emitted as exact integer micro-units, not
    # round(x, 2): Spark rounds the shortest decimal repr while DuckDB rounds
    # the binary value, so 2dp-products landing on a .xx5 repr boundary
    # diverge. Products of 2dp inputs have <= 6 decimal digits, so *1e6 is
    # integral and both engines agree exactly.
    l = load_tables(spark, sf_dir)["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.filter(F.col("l_orderkey") < 200).select(
        "l_orderkey",
        "l_linenumber",
        F.round(disc_price * 1000000, 0).cast("long").alias("disc_price_micro"),
        F.round(disc_price * (1 + F.col("l_tax")) * 1000000, 0).cast("long").alias("charge_micro"),
        F.round(F.col("l_quantity") * 2 + 1, 2).alias("qty_expr"),
        (F.col("l_quantity") >= 25).alias("is_bulk"),
    )


@query(
    "q_filter_compound",
    oracle="""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
FROM orders
WHERE (o_orderstatus = 'F' AND o_totalprice > 300000)
   OR (o_orderstatus = 'O' AND NOT (o_orderpriority = '1-URGENT') AND o_totalprice < 5000)
""",
)
def q_filter_compound(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    cond = (
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000)
    ) | (
        (F.col("o_orderstatus") == "O")
        & ~(F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") < 5000)
    )
    return o.filter(cond).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )


@query(
    "q_filter_in",
    oracle="""
SELECT n_name, n_nationkey
FROM nation
WHERE n_regionkey IN (1, 3) AND n_name NOT IN ('CHINA', 'INDIA')
""",
)
def q_filter_in(spark, sf_dir):
    n = load_tables(spark, sf_dir)["nation"]
    return (
        n.filter(F.col("n_regionkey").isin(1, 3) & ~F.col("n_name").isin("CHINA", "INDIA"))
        .select("n_name", "n_nationkey")
    )


@query(
    "q_filter_between",
    oracle="""
SELECT o_orderkey, epoch_us(o_orderdate) AS od_us, round(o_totalprice, 2) AS price
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-03-31 23:59:59'
  AND o_totalprice BETWEEN 100000 AND 150000
""",
)
def q_filter_between(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.filter(
            F.col("o_orderdate").between("1996-01-01 00:00:00", "1996-03-31 23:59:59")
            & F.col("o_totalprice").between(100000, 150000)
        )
        .select(
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("od_us"),
            F.round("o_totalprice", 2).alias("price"),
        )
    )


@query(
    "q_filter_like",
    oracle="""
SELECT p_partkey, p_name, p_type
FROM part
WHERE p_name LIKE '%green%'
   OR p_type ILIKE 'small%'
   OR regexp_matches(p_name, '^(red|blue) .*metal')
""",
)
def q_filter_like(spark, sf_dir):
    p = load_tables(spark, sf_dir)["part"]
    return (
        p.filter(
            F.col("p_name").like("%green%")
            | F.col("p_type").ilike("small%")
            | F.col("p_name").rlike("^(red|blue) .*metal")
        )
        .select("p_partkey", "p_name", "p_type")
    )


@query(
    "q_filter_null",
    oracle="""
WITH t AS (
  SELECT c_custkey,
         nullif(c_mktsegment, 'BUILDING') AS seg,
         CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
  FROM customer
)
SELECT
  count(*) AS n,
  count(seg) AS n_seg_notnull,
  count(*) FILTER (WHERE seg IS NULL) AS n_seg_null,
  count(*) FILTER (WHERE seg IS NOT DISTINCT FROM 'MACHINERY') AS n_machinery,
  CAST(sum(CAST(floor(bal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_nonneg_e2
FROM t
""",
)
def q_filter_null(spark, sf_dir):
    # Driver data has no physical nulls; synthesize them with nullif/CASE,
    # then exercise IS NULL / null-safe equality / null-skipping aggregates.
    c = load_tables(spark, sf_dir)["customer"]
    t = c.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("bal"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("seg").alias("n_seg_notnull"),
        F.count_if(F.col("seg").isNull()).alias("n_seg_null"),
        F.count_if(F.col("seg").eqNullSafe("MACHINERY")).alias("n_machinery"),
        F.sum(F.floor(F.col("bal") * 100).cast("long")).alias("sum_bal_nonneg_e2"),
    )


@query(
    "q_case_when",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 300000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'low' END AS tier,
       coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
       CASE WHEN o_custkey % 7 = 0 THEN NULL
            ELSE round(o_totalprice / (o_custkey % 7), 4) END AS per_bucket
FROM orders
WHERE o_orderkey < 500
""",
)
def q_case_when(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    bucket = F.col("o_custkey") % 7
    return o.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_label"
        ),
        # try_divide returns NULL on /0 — same semantics as the oracle's CASE.
        # round at 4dp, not 2: price/2 has exactly 3 decimals, so 2dp rounding
        # hits the cross-engine repr-boundary divergence (see q_proj_expr).
        F.round(F.try_divide(F.col("o_totalprice"), bucket), 4).alias("per_bucket"),
    )


@query(
    "q_cast",
    oracle="""
SELECT l_orderkey,
       CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
       CAST(l_linenumber AS VARCHAR) AS line_str,
       CAST(l_returnflag = 'R' AS BOOLEAN) AS returned,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
       CAST(floor(l_extendedprice + 0.5) AS BIGINT) - CAST(floor(l_extendedprice) AS BIGINT) AS cast_diff_probe,
       epoch_us(CAST(l_shipdate AS DATE)) / 86400000000 AS ship_epoch_day
FROM lineitem
WHERE l_orderkey < 100
""",
)
def q_cast(spark, sf_dir):
    # Cross-engine cast gotcha: DuckDB double→int ROUNDS, Spark TRUNCATES —
    # both sides go through trunc() so the semantics under test are explicit.
    # (cast_diff_probe documents DuckDB's rounding: nonzero when frac ≥ .5 —
    # oracle-compensated by comparing to Spark's floor+round reconstruction.)
    l = load_tables(spark, sf_dir)["lineitem"]
    return l.filter(F.col("l_orderkey") < 100).select(
        "l_orderkey",
        # Spark cast double->int truncates toward zero (DuckDB CAST rounds —
        # oracle spells trunc explicitly); values are positive here.
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_linenumber").cast("string").alias("line_str"),
        (F.col("l_returnflag") == "R").alias("returned"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        # floor(x+0.5)-floor(x): round-to-nearest indicator that is exact in
        # both engines (plain round() ties diverge: Spark half-up on the repr,
        # DuckDB CAST half-to-even on the binary).
        (F.floor(F.col("l_extendedprice") + 0.5) - F.floor("l_extendedprice")).alias(
            "cast_diff_probe"
        ),
        (F.unix_micros(F.col("l_shipdate").cast("date").cast("timestamp")) / F.lit(86400000000))
        .alias("ship_epoch_day"),
    )


@query(
    "q_sink_bucketed",
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_e2
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q_sink_bucketed(spark, sf_dir):
    # Bucketed tables: both sides pre-hash-partitioned into the same bucket
    # count on the join key at WRITE time, so the fact-fact join needs NO
    # exchange at read time — the co-location strategy for joins that repeat
    # across a 100 TB workload (pay the shuffle once at ingest, never again).
    # tests/test_plans.py pins the no-Exchange property of this join.
    t = load_tables(spark, sf_dir)
    # Written once per (catalog, sf_dir): bucketing pays its shuffle at
    # ingest precisely so repeated queries don't — re-creating the tables
    # on every invocation would forfeit the pattern being demonstrated. The
    # catalog is the record that they were written: sessions of one
    # context share it, and a new context starts without them.
    names = bucketed_tables(sf_dir)
    with _BUCKETED_WRITE:
        if not all(spark.catalog.tableExists(n) for n in names):
            # The warehouse directory outlives the catalog of a stopped
            # context, so "overwrite" alone hits LOCATION_ALREADY_EXISTS.
            warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            for (side, key), name in zip(
                (("orders", "o_custkey"), ("customer", "c_custkey")), names
            ):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
                (t[side].write.format("parquet")
                 .bucketBy(8, key).sortBy(key).saveAsTable(name))
    o, c = (spark.table(n) for n in names)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("revenue_e2"),
        )
    )


@query(
    "q_src_binary",
    oracle="""
SELECT doc_id,
       CAST(16 AS BIGINT) AS n_bytes,
       md5(text) AS content_hex
FROM documents
WHERE doc_id < 50
""",
)
def q_src_binary(spark, sf_dir):
    # binaryFile source — the ingestion path for opaque media payloads
    # (images/audio): one file per object, content as a binary column. The
    # fixture files are generated from the documents table (payload =
    # md5(text) bytes; driver-side loop is fixture creation, not dataflow),
    # then read back distributed; the oracle recomputes the digests from the
    # original table, so reader fidelity is value-checked end to end.
    d = load_tables(spark, sf_dir)["documents"]
    path = fixture_path("src_binary", sf_dir)
    if not fixture_ready(path, sf_dir):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        # bounded fixture creation (50 files), not a dataflow collect
        for r in d.filter(F.col("doc_id") < 50).select("doc_id", F.md5("text").alias("h")).collect():
            with open(os.path.join(path, f"{r['doc_id']:05d}.bin"), "wb") as f:
                f.write(bytes.fromhex(r["h"]))
        open(os.path.join(path, "_SUCCESS"), "w").close()
    back = spark.read.format("binaryFile").load(path)
    return back.select(
        F.regexp_extract(F.col("path"), r"([0-9]+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.lower(F.hex("content")).alias("content_hex"),
    )


@query(
    "q_src_evolving",
    oracle="""
SELECT lang,
       count(*) AS n,
       CAST(sum(CASE WHEN quality IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_quality,
       CAST(sum(CAST(floor(coalesce(quality, 0.0) * 10000) AS BIGINT)) AS BIGINT) AS sum_quality_e4
FROM (
  SELECT lang, NULL::DOUBLE AS quality FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT lang, round(n_chars / 1000.0, 4) AS quality FROM documents WHERE doc_id % 2 = 1
)
GROUP BY lang
""",
)
def q_src_evolving(spark, sf_dir):
    # Schema evolution at the source: two parquet generations in one
    # directory (v2 adds a `quality` column), read with mergeSchema — v1
    # rows surface NULL quality. The everyday data-lake shape: readers must
    # tolerate columns appearing over time without rewriting old files.
    d = load_tables(spark, sf_dir)["documents"]
    path = fixture_path("src_evolving", sf_dir)
    if not fixture_ready(os.path.join(path, "gen=2"), sf_dir):
        shutil.rmtree(path, ignore_errors=True)
        v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
        v2 = d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", F.round(F.col("n_chars") / 1000.0, 4).alias("quality")
        )
        v1.write.parquet(os.path.join(path, "gen=1"))
        v2.write.parquet(os.path.join(path, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("quality").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_with_quality"),
        F.sum(F.floor(F.coalesce("quality", F.lit(0.0)) * 10000).cast("long")).alias("sum_quality_e4"),
    )


@query(
    "q_sink_compact",
    oracle="""
SELECT CAST(32 AS INTEGER) AS files_before, CAST(4 AS INTEGER) AS files_after,
       count(*) AS n_rows, CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_price_e2
FROM lineitem
""",
)
def q_sink_compact(spark, sf_dir):
    # Small-file compaction — the 100 TB operational chore: a fragmented
    # table (32 writer partitions) is rewritten through repartition(4) into
    # right-sized files. File counts are deterministic (repartition pins the
    # writer-task count); the oracle proves the compacted copy is lossless
    # (row count + money total straight from the source). At scale this is
    # per-partition maintenance (compact each date/hour dir independently),
    # so the shuffle is bounded by partition size, not table size.
    l = load_tables(spark, sf_dir)["lineitem"]
    frag = fixture_path("compact_frag", sf_dir)
    if not fixture_ready(frag, sf_dir):
        l.repartition(32).write.mode("overwrite").parquet(frag)
    out = fixture_path("compact_out", sf_dir)
    if not fixture_ready(out, sf_dir):
        spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(out)
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("total_price_e2"),
    ).select(
        F.lit(n_before).alias("files_before"),
        F.lit(n_after).alias("files_after"),
        "n_rows",
        "total_price_e2",
    )


@query(
    "q_fn_zorder",
    oracle="""
WITH b AS (
  SELECT o_orderkey,
         CAST(o_custkey % 256 AS BIGINT) AS x,
         CAST(o_orderkey % 256 AS BIGINT) AS y
  FROM orders WHERE o_orderkey < 2000
)
SELECT o_orderkey, x, y,
       CAST(
         ((x >> 0) & 1) * 1 + ((y >> 0) & 1) * 2 +
         ((x >> 1) & 1) * 4 + ((y >> 1) & 1) * 8 +
         ((x >> 2) & 1) * 16 + ((y >> 2) & 1) * 32 +
         ((x >> 3) & 1) * 64 + ((y >> 3) & 1) * 128 +
         ((x >> 4) & 1) * 256 + ((y >> 4) & 1) * 512 +
         ((x >> 5) & 1) * 1024 + ((y >> 5) & 1) * 2048 +
         ((x >> 6) & 1) * 4096 + ((y >> 6) & 1) * 8192 +
         ((x >> 7) & 1) * 16384 + ((y >> 7) & 1) * 32768
       AS BIGINT) AS zvalue
FROM b
""",
)
def q_fn_zorder(spark, sf_dir):
    # Z-order (Morton) key: interleave the bits of two 8-bit dimension keys
    # into one 16-bit sort key — the multi-dimensional clustering primitive.
    # Sorting/range-partitioning the write by zvalue co-locates rows that
    # are close in BOTH dimensions, so min/max file statistics prune scans
    # filtered on either key (the Delta OPTIMIZE ZORDER layout, as a pure
    # expression). Integer bit arithmetic — exact in any engine.
    o = load_tables(spark, sf_dir)["orders"]
    b = o.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("x"),
        (F.col("o_orderkey") % 256).cast("long").alias("y"),
    )
    z = None
    for i in range(8):
        xb = F.shiftright("x", i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
        yb = F.shiftright("y", i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1))
        z = xb + yb if z is None else z + xb + yb
    return b.select("o_orderkey", "x", "y", z.cast("long").alias("zvalue"))


@query(
    "q_scan_dpp",
    oracle="""
WITH dim AS (
  SELECT o_orderstatus AS status FROM orders
  QUALIFY row_number() OVER (
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST
  ) = 1
)
SELECT o.o_orderstatus, o.o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM orders o JOIN dim ON o.o_orderstatus = dim.status
GROUP BY o.o_orderstatus, o.o_orderpriority
""",
)
def q_scan_dpp(spark, sf_dir):
    """Dynamic partition pruning (SURVEY §4.1's partition-pruning row): the
    fact side is the o_orderstatus-partitioned parquet layout written by
    q_sink_parquet, the dim side is a small filtered status list — at plan
    time the partition filter is UNKNOWN (the dim is the status of the
    single top-value order, a window result — deliberately NOT a literal,
    which Catalyst would constant-propagate into a static filter), so the
    optimizer injects a dynamicpruning#N subquery that evaluates the dim
    first and prunes fact PARTITION DIRECTORIES before they are ever read.
    tests/test_plans.py pins the dynamicpruning expression in the scan's
    PartitionFilters; at 100 TB this is the difference between scanning
    one date/status partition and scanning the table. Sum emitted as
    floor-scaled e2 cents (the §2.13 integer discipline)."""
    o = load_tables(spark, sf_dir)["orders"]
    path = fixture_path("sink_parquet", sf_dir)
    if not fixture_ready(path, sf_dir):
        o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    from pyspark.sql import Window as _W

    # The dim is orderBy().limit(1) — TakeOrderedAndProject, parallel
    # per-partition top-1 in BOTH the main plan and the injected
    # dynamicpruning subquery (the old unbounded rank-window form got the
    # rank-limit pushdown in the main plan but left a single-partition
    # global sort of orders inside the DPP subquery — r12 plan-audit
    # finding) — FOLLOWED by a semantically-no-op rank==1 filter over the
    # 1-row result: Catalyst's DPP injection requires a selective Filter
    # on the build side, and a bare limit does not qualify (measured r12:
    # DPP stops firing without it).
    w = _W.orderBy(
        F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc_nulls_last()
    )
    dim = (
        o.orderBy(
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc_nulls_last(),
        )
        .limit(1)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("o_orderstatus").alias("status"))
    )
    joined = fact.join(dim, fact["o_orderstatus"] == dim["status"])
    return joined.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("sum_price_e2"),
    )


@query(
    "q_src_sqlite",
    oracle="""
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM orders
GROUP BY o_orderpriority
""",
)
def q_src_sqlite(spark, sf_dir):
    """Partitioned parallel DATABASE ingest — the JDBC-source gap
    (VERDICT r10 missing #5) closed with Spark's own JDBC semantics over
    stdlib sqlite3 (pkg2_spark/dbsource.py): the orders table, staged
    into a SQLite file once per scale, is read back through 8 stride
    predicates on o_orderkey (JDBCRelation.columnPartition's exact
    boundary rules: first partition unbounded below, last unbounded
    above — bounds stride, never filter), each Spark task opening its
    own connection and pulling only its predicate's rows, Arrow-batched
    back to the JVM. The aggregate over the ingested frame must equal
    the oracle over the source parquet — every row landed exactly once,
    whatever the strides.

    Scale: the topology of spark.read.jdbc — per-task bounded pulls, no
    driver materialization, task retry re-runs one idempotent SELECT;
    swap sqlite3.connect for any DB-API driver to point at a real RDBMS.
    Bounds come from one driver-side min/max metadata query (what a JDBC
    user supplies by hand)."""
    import sqlite3

    import duckdb as _duck

    from pkg2_spark.dbsource import read_sqlite

    d = fixture_path("sqlite_orders", sf_dir)
    db = os.path.join(d, "orders.db")
    if not fixture_ready(d, sf_dir, marker="_DB_READY"):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        src = os.path.join(sf_dir, "orders.parquet")
        pat = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
        rows = _duck.sql(
            "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority "
            f"FROM read_parquet('{pat}')"
        ).fetchall()
        con = sqlite3.connect(db)
        try:
            con.execute(
                "CREATE TABLE orders (o_orderkey INTEGER, o_orderstatus TEXT,"
                " o_totalprice REAL, o_orderpriority TEXT)"
            )
            con.executemany("INSERT INTO orders VALUES (?,?,?,?)", rows)
            con.commit()
        finally:
            con.close()
        with open(os.path.join(d, "_DB_READY"), "w") as fh:
            fh.write("ok\n")
    con = sqlite3.connect(db)
    try:
        lo, hi = con.execute(
            "SELECT min(o_orderkey), max(o_orderkey) FROM orders"
        ).fetchone()
    finally:
        con.close()
    back = read_sqlite(
        spark, db, "orders",
        partition_column="o_orderkey",
        lower_bound=int(lo), upper_bound=int(hi) + 1,
        num_partitions=8,
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_e2"),
    )


@query(
    "q_src_avro",
    oracle="""
SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END
         AS priority,
       count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM orders
GROUP BY 1
""",
)
def q_src_avro(spark, sf_dir):
    """Avro source — the last declared source-format gap (VERDICT r10
    missing #5) closed with a pure-stdlib Object Container File decoder
    (pkg2_spark/avroio.py; the spark-avro JVM package is absent here):
    orders staged once per scale into FOUR deflate-coded .avro shards
    (every 7th key's priority written as the null union branch, so the
    nullable decode path is exercised and checked), read back through
    the binaryFile -> per-file mapInPandas block decoder, aggregated per
    priority — null group included — against the parquet oracle.

    Scale: parallel per shard FILE (how Avro datasets are laid out; the
    q_pkg_gzindex topology), one pandas batch per data block, so peak
    task memory is one decompressed block; schema comes from one
    driver-side header read. Writer and reader are both implemented
    from the public OCF spec; the byte-level format (zigzag varints,
    magic, sync markers, deflate framing) is pinned independently in
    tests/test_operators.py against hand-computed golden bytes."""
    import duckdb as _duck

    from pkg2_spark.avroio import read_avro, write_avro

    d = fixture_path("avro_orders", sf_dir)
    if not fixture_ready(d, sf_dir, marker="_AVRO_READY"):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        src = os.path.join(sf_dir, "orders.parquet")
        pat = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
        rows = _duck.sql(
            "SELECT o_orderkey, o_orderstatus, o_totalprice, "
            "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END "
            f"FROM read_parquet('{pat}') ORDER BY o_orderkey"
        ).fetchall()
        schema = {
            "type": "record",
            "name": "orders",
            "fields": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
                {"name": "priority", "type": ["null", "string"]},
            ],
        }
        shards = 4
        for i in range(shards):
            write_avro(
                os.path.join(d, f"part-{i}.avro"), schema, rows[i::shards]
            )
        with open(os.path.join(d, "_AVRO_READY"), "w") as fh:
            fh.write("ok\n")
    back = read_avro(spark, os.path.join(d, "*.avro"))
    return back.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_e2"),
    )


@query(
    "q_sink_avro",
    oracle="""
SELECT c_mktsegment, count(*) AS n,
       CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_e2
FROM customer
GROUP BY c_mktsegment
""",
)
def q_sink_avro(spark, sf_dir):
    """Avro SINK — the write half of the q_src_avro format story: the
    customer table, repartitioned to 4 shards, is written DISTRIBUTED
    (each Spark partition emits its own deflate-coded .avro container
    via atomic tmp+rename — avroio.write_avro_dataset; the one
    legitimate RDD use: per-partition imperative IO), then read back
    through the binaryFile block decoder and aggregated per market
    segment against the source-table oracle — a full write/read
    round-trip of the stdlib OCF implementation on a second table and
    schema.

    Scale: one shard per partition, written task-locally with no
    driver involvement; readers parallelize per shard file."""
    from pkg2_spark.avroio import read_avro, write_avro_dataset

    c = load_tables(spark, sf_dir)["customer"]
    d = fixture_path("avro_customer_sink", sf_dir)
    if not fixture_ready(d, sf_dir):
        shutil.rmtree(d, ignore_errors=True)
        schema = {
            "type": "record",
            "name": "customer",
            "fields": [
                {"name": "c_custkey", "type": "long"},
                {"name": "c_mktsegment", "type": "string"},
                {"name": "c_acctbal", "type": "double"},
            ],
        }
        staged = c.select(
            F.col("c_custkey").cast("long"),
            "c_mktsegment",
            F.col("c_acctbal").cast("double"),
        ).repartition(4)
        write_avro_dataset(staged, d, schema)
    back = read_avro(spark, os.path.join(d, "*.avro"))
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("c_acctbal") * 100).cast("long"))
        .cast("long")
        .alias("sum_bal_e2"),
    )


@query(
    "q_src_xml",
    oracle="""
SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END
         AS priority,
       o_orderstatus AS status,
       count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM orders
GROUP BY 1, 2
""",
)
def q_src_xml(spark, sf_dir):
    """XML source/sink round-trip — Spark 4's NATIVE xml format (the
    spark-xml package merged into core in 4.0), exercised on the two
    things XML is actually used for: NESTED elements (each row carries a
    <detail> child struct) and ABSENT optional elements (every 11th
    key's priority is written as a missing element, which the reader
    must surface as NULL — both the null group and the nested values are
    hash-checked against the parquet oracle).

    Scale: the writer shards one XML document per Spark partition and
    the reader splits on <order> row tags per file, so both directions
    parallelize per file exactly like csv/json; an explicit read schema
    keeps the scan single-pass (no inference job over the corpus)."""
    o = load_tables(spark, sf_dir)["orders"]
    path = fixture_path("src_xml", sf_dir)
    if not fixture_ready(path, sf_dir):
        staged = o.select(
            F.col("o_orderkey").cast("long").alias("okey"),
            F.when(F.col("o_orderkey") % 11 != 0, F.col("o_orderpriority"))
            .alias("priority"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_e2"),
            ).alias("detail"),
        )
        (
            staged.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "orders")
            .option("rowTag", "order")
            .save(path)
        )
    xml_schema = T.StructType(
        [
            T.StructField("okey", T.LongType()),
            T.StructField("priority", T.StringType()),
            T.StructField(
                "detail",
                T.StructType(
                    [
                        T.StructField("status", T.StringType()),
                        T.StructField("price_e2", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(xml_schema)
        .load(path)
    )
    return back.groupBy(
        F.col("priority"), F.col("detail.status").alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("detail.price_e2").alias("sum_price_e2"),
    )
