"""ACID table format queries — time travel, MERGE, and table CDC over the
ordered-commit-log format (pkg2_spark/tableformat.py).

The CDC/IVM family (queries/cdc.py) proves the DATAFLOWS over snapshot
parquet directories; these queries bind the same semantics to a real
commit protocol (VERDICT r10 "What's missing" #4): a five-commit orders
table is built once per scale under tmp_io (create + two appends + a
range-targeted merge), then each query reads it purely through the log —
time-traveled snapshots, the post-merge state, and the file-pruned
row-level diff between versions.

Scale posture: the log fold is driver-side metadata (O(commits) tiny
JSON — the layer every table format pays); all data paths are plain
parquet scans with pushdown/AQE. The merge commit's copy-on-write
rewrite touches only files that actually contain an updated key
(footer-stats candidates, then the exact findTouchedFiles semi-join;
range-clustered layout makes the stats stage prune like partitions —
asserted in tests/test_table_format.py), and the CDC diff reads only
the file-set difference between the two snapshots — unchanged files
cancel by immutability, no full-table pass.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from pkg2_spark.catalog import load_tables
from pkg2_spark.queries.relational import fixture_mark, fixture_path, fixture_ready
from pkg2_spark.registry import query
from pkg2_spark.tableformat import Table

# Deterministic fixture recipe (mirrored literally in every oracle):
#   v0 create : orders with o_orderdate <  1997-01-01  (testdata orders
#               span 1995..2001 — the cuts give three nonempty snapshots)
#   v1 append : orders with 1997-01-01 <= o_orderdate < 1999-01-01
#   v2 append : orders with o_orderdate >= 1999-01-01   (table == orders)
#   v3 merge  : UPDATE images for o_orderkey in [1000, 2000]
#               (o_totalprice + 100000), INSERT images cloned from
#               o_orderkey in [100, 140] shifted up by +90_000_000
_UPD_LO, _UPD_HI = 1000, 2000
_INS_LO, _INS_HI = 100, 140
_INS_SHIFT = 90_000_000
_MARKER = "_ACID_DONE"


def _updates(o):
    upd = o.filter(F.col("o_orderkey").between(_UPD_LO, _UPD_HI)).withColumn(
        "o_totalprice", F.col("o_totalprice") + 100000.0
    )
    ins = o.filter(F.col("o_orderkey").between(_INS_LO, _INS_HI)).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(_INS_SHIFT)
    )
    return upd.unionByName(ins)


def acid_orders_table(spark, sf_dir) -> Table:
    """Build (once per scale) and return the logged orders table."""
    path = fixture_path("acid_orders_v2", sf_dir)
    # num_files pinned at 8 per commit so the merge's stats pruning is
    # demonstrable at TEST scale (AQE would coalesce sf0.01's 15k orders
    # into one file per commit); at deploy scale leave it None and let
    # AQE right-size files.
    t = Table(
        spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
        num_files=8,
    )
    if fixture_ready(path, sf_dir, marker=_MARKER):
        return t
    if os.path.isdir(path):
        shutil.rmtree(path)  # partial/stale build: rebuild from scratch
    o = load_tables(spark, sf_dir)["orders"]
    t.create(o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")))
    t.append(
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        )
    )
    t.append(o.filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("date")))
    t.merge(_updates(o), key="o_orderkey")
    with open(os.path.join(path, _MARKER), "w") as f:
        f.write("ok\n")
    return t


_E2 = "CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)"


@query(
    "q_acid_timetravel",
    oracle=f"""
SELECT CAST(0 AS INTEGER) AS version, count(*) AS n, {_E2} AS sum_price_e2
FROM orders WHERE o_orderdate < DATE '1997-01-01'
UNION ALL
SELECT CAST(1 AS INTEGER), count(*), {_E2}
FROM orders WHERE o_orderdate < DATE '1999-01-01'
UNION ALL
SELECT CAST(2 AS INTEGER), count(*), {_E2}
FROM orders
""",
)
def q_acid_timetravel(spark, sf_dir):
    """Time travel: read the logged orders table AS OF versions 0/1/2 and
    aggregate each snapshot. Every snapshot is reconstructed purely by
    folding the commit log's add/remove lists — no directory listing, so
    readers are isolated from in-flight writers and the later merge
    commit (v3) is invisible to all three reads. The oracle recomputes
    each version from the raw orders table with the fixture's literal
    date cuts.

    Scale: per version, one parquet scan of exactly that snapshot's
    files + a 1-row aggregate; the three snapshot reads share nothing
    but the (driver-side, O(commits)) log fold."""
    t = acid_orders_table(spark, sf_dir)

    def arm(v: int):
        return t.read(version=v).agg(
            F.lit(v).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        ).select("version", "n", "sum_price_e2")

    return arm(0).unionByName(arm(1)).unionByName(arm(2))


@query(
    "q_acid_merge",
    oracle=f"""
WITH upd AS (
  SELECT * REPLACE (o_totalprice + 100000.0 AS o_totalprice)
  FROM orders WHERE o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}
),
ins AS (
  SELECT * REPLACE (o_orderkey + {_INS_SHIFT} AS o_orderkey)
  FROM orders WHERE o_orderkey BETWEEN {_INS_LO} AND {_INS_HI}
),
merged AS (
  SELECT * FROM orders WHERE o_orderkey NOT BETWEEN {_UPD_LO} AND {_UPD_HI}
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, count(*) AS n, {_E2} AS sum_price_e2
FROM merged GROUP BY o_orderstatus
""",
)
def q_acid_merge(spark, sf_dir):
    """MERGE (upsert) through the commit protocol: update images replace
    same-key rows, insert images land as new keys, all in ONE atomic
    commit — read back from the latest snapshot and aggregated per order
    status. The copy-on-write rewrite behind the commit touched only the
    files that actually CONTAIN an updated key: footer-stats candidates
    first, then the exact findTouchedFiles semi-join of the candidates'
    key column against the update keys — which is why the pure-insert
    images (keys shifted above every existing file) rewrite nothing (the
    log records pruned_files/rewritten_files; tests assert kept files
    carried over by reference). The oracle replays the same upsert
    relationally over raw orders.

    Scale: pruning is driver-side stats metadata; the rewrite is one
    AQE-sized anti-join + union over the touched files only — merge cost
    tracks the UPDATE footprint, not the table size."""
    t = acid_orders_table(spark, sf_dir)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
    )


@query(
    "q_acid_cdc",
    oracle=f"""
WITH ins AS (
  SELECT 'insert' AS change_type, o_orderstatus,
         o_totalprice + 100000.0 AS px
  FROM orders WHERE o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}
  UNION ALL
  SELECT 'insert', o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey BETWEEN {_INS_LO} AND {_INS_HI}
),
del AS (
  SELECT 'delete' AS change_type, o_orderstatus, o_totalprice AS px
  FROM orders WHERE o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}
),
chg AS (SELECT * FROM ins UNION ALL SELECT * FROM del)
SELECT change_type, o_orderstatus, count(*) AS n,
       CAST(sum(CAST(floor(px * 100) AS BIGINT)) AS BIGINT) AS sum_price_e2
FROM chg GROUP BY change_type, o_orderstatus
""",
)
def q_acid_cdc(spark, sf_dir):
    """Row-level CDC between table versions 2 (pre-merge) and 3
    (post-merge): updated keys surface as delete(old image) +
    insert(new image), inserted keys as inserts only — aggregated per
    (change_type, status). Because data files are immutable, files
    present in both snapshots cancel EXACTLY and the diff reads only the
    file-set difference (the merge's rewritten region), never the full
    table; within it, one signed aggregate nets the row-level changes
    as a multiset. The oracle derives the same change set from the
    fixture recipe over raw orders.

    Scale: CDC cost tracks the commit's write footprint — an append-only
    day diffs by scanning just that day's files."""
    t = acid_orders_table(spark, sf_dir)
    ch = t.changes(2, 3)
    return ch.groupBy("change_type", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_e2"),
    )


@query(
    "q_acid_compact",
    oracle=f"""
WITH upd AS (
  SELECT * REPLACE (o_totalprice + 100000.0 AS o_totalprice)
  FROM orders WHERE o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}
),
ins AS (
  SELECT * REPLACE (o_orderkey + {_INS_SHIFT} AS o_orderkey)
  FROM orders WHERE o_orderkey BETWEEN {_INS_LO} AND {_INS_HI}
),
merged AS (
  SELECT * FROM orders WHERE o_orderkey NOT BETWEEN {_UPD_LO} AND {_UPD_HI}
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, count(*) AS n, {_E2} AS sum_price_e2,
       CAST(0 AS BIGINT) AS n_changes
FROM merged GROUP BY o_orderstatus
""",
)
def q_acid_compact(spark, sf_dir):
    """OPTIMIZE (file compaction) as a LOGICAL NO-OP commit: bin-pack the
    post-merge snapshot's small files into 4 right-sized, re-range-
    clustered files, then prove nothing changed AS DATA — the per-status
    aggregate over the compacted table must equal the pre-compact answer
    (the oracle replays the merge recipe and pins n_changes = 0), and
    n_changes is computed by the engine's own file-pruned CDC across the
    compact commit, so a compaction that dropped/duplicated a single row
    would hash-mismatch. Idempotent per fixture: a log whose head is
    already a compact commit is not re-compacted (re-running the query
    must not grow the log).

    Scale: compaction reads the live snapshot once and writes it once —
    the maintenance cost every table format pays to undo small-file
    accumulation; it also restores tight per-file stat ranges, which is
    what keeps merge pruning effective after many little commits."""
    t = acid_orders_table(spark, sf_dir)
    if t.history()[-1]["op"] != "compact":
        t.compact(max_files=4)
    v_post = len(t.history()) - 1
    ch = t.changes(v_post - 1, v_post).agg(
        F.count(F.lit(1)).cast("long").alias("n_changes")
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
        .crossJoin(F.broadcast(ch))
    )


@query(
    "q_stream_acid_sink",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM events
GROUP BY event_type
""",
)
def q_stream_acid_sink(spark, sf_dir):
    """EXACTLY-ONCE streaming ingestion into the ACID table: the 4-file
    event replay lands through foreachBatch -> Table.append_batch, which
    records each epoch's batchId in its commit meta and skips ids already
    in the log — the Delta streaming-sink txn design (foreachBatch is
    at-least-once; the commit ledger upgrades it). After the run, batch 0
    is RE-DELIVERED by hand with the same id — the replay every restart
    produces — and must commit nothing. The aggregated table then equals
    the batch answer over the raw events: one-and-only-one landing of
    every event, checked as data.

    Scale: each micro-batch is one append commit (no rewrite, no read of
    existing data); the dedup ledger is the O(commits) log the sink
    already pays for. Fixture-cached per scale like the other sinks."""
    import shutil as _shutil
    import uuid as _uuid

    from pkg2_spark.queries.relational import IO_DIR
    from pkg2_spark.session import ensure_runtime_confs
    from pkg2_spark.streaming.harness import replay

    ensure_runtime_confs(spark)
    src = fixture_path("stream_multisrc", sf_dir)
    if not fixture_ready(src, sf_dir):
        e = load_tables(spark, sf_dir)["events"]
        e.repartition(4).write.mode("overwrite").parquet(src)
    sink_path = fixture_path("acid_events_sink", sf_dir)
    t = Table(spark, sink_path)
    if not fixture_ready(sink_path, sf_dir, marker=_MARKER):
        _shutil.rmtree(sink_path, ignore_errors=True)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("event_id", "event_type", "value")
        )

        def sink_batch(batch_df, batch_id):
            t.append_batch(batch_df, batch_id)

        ckpt = os.path.join(IO_DIR, "checkpoints", f"acid_{_uuid.uuid4().hex[:8]}")
        replay(
            stream,
            lambda w: w.foreachBatch(sink_batch).option("checkpointLocation", ckpt),
        )
        _shutil.rmtree(ckpt, ignore_errors=True)
        # Re-deliver batch 0 (what a restart's at-least-once replay does):
        # the ledger must refuse it, or the aggregate below double-counts
        # and hash-mismatches the oracle.
        first = spark.read.parquet(src).select(
            "event_id", "event_type", "value"
        ).limit(10)
        assert t.append_batch(first, 0) is None, "batchId ledger failed"
        with open(os.path.join(sink_path, _MARKER), "w") as fh:
            fh.write("ok\n")
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("sum_value_e2"),
        )
    )


@query(
    "q_acid_ivm",
    oracle=f"""
WITH upd AS (
  SELECT * REPLACE (o_totalprice + 100000.0 AS o_totalprice)
  FROM orders WHERE o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}
),
ins AS (
  SELECT * REPLACE (o_orderkey + {_INS_SHIFT} AS o_orderkey)
  FROM orders WHERE o_orderkey BETWEEN {_INS_LO} AND {_INS_HI}
),
merged AS (
  SELECT * FROM orders WHERE o_orderkey NOT BETWEEN {_UPD_LO} AND {_UPD_HI}
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, count(*) AS n, {_E2} AS sum_price_e2
FROM merged GROUP BY o_orderstatus
""",
)
def q_acid_ivm(spark, sf_dir):
    """Incremental view maintenance over the REAL table CDC — the
    q_ivm_agg dataflow bound to the commit protocol: a per-status
    (count, e2 sum) view materialized at version 2 absorbs the v2->v3
    merge commit by folding the engine's own file-pruned change feed
    (Table.changes) as SIGNED deltas (+1 per insert image, -1 per delete
    image) — the view is maintained WITHOUT rescanning the table, and
    the maintained view must equal the direct aggregate over v3, which
    is exactly what the oracle computes relationally. This is the
    composition a warehouse actually runs: the table format produces the
    change feed, IVM consumes it.

    Scale: maintenance cost = one hash-agg over the change feed (which
    itself reads only the merge's rewritten region) + a group-keyed
    full-outer merge onto the group-sized view — table size never
    appears."""
    t = acid_orders_table(spark, sf_dir)
    e2 = F.floor(F.col("o_totalprice") * 100).cast("long")
    view2 = (
        t.read(version=2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.sum(e2).cast("long").alias("s0"),
        )
    )
    sign = F.when(F.col("change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        t.changes(2, 3)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(sign).cast("long").alias("dn"),
            F.sum(sign * e2).cast("long").alias("ds"),
        )
    )
    merged = view2.join(delta, "o_orderstatus", "full")
    return merged.select(
        "o_orderstatus",
        (F.coalesce(F.col("n0"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
        .cast("long")
        .alias("n"),
        (F.coalesce(F.col("s0"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
        .cast("long")
        .alias("sum_price_e2"),
    ).filter(F.col("n") > 0)


@query(
    "q_acid_restore",
    oracle=f"""
SELECT o_orderstatus, count(*) AS n, {_E2} AS sum_price_e2,
       CAST(0 AS BIGINT) AS n_changes
FROM orders
WHERE o_orderdate < DATE '1999-01-01'
GROUP BY o_orderstatus
""",
)
def q_acid_restore(spark, sf_dir):
    """RESTORE (version rollback) as a metadata-only commit: a 3-commit
    table (create <1997, append 1997-1999, then a price-bumping merge)
    is restored to the PRE-merge version — Table.restore re-adds v1's
    files by reference and removes the merge's rewrites, writing one
    tiny JSON commit and zero data bytes (tests pin that no data dir is
    created for the restore version). The head read must then equal v1
    AS DATA: the oracle replays v1's recipe over raw orders, and
    n_changes is the engine's own file-pruned CDC between v1 and the
    restore commit, pinned to 0 — a restore that lost or duplicated a
    single row would hash-mismatch. History is preserved: the merge
    snapshot stays time-travelable after the restore.

    Scale: O(commits) driver-side log fold + one JSON write — table
    size never appears in the restore itself; the proof reads prune to
    the file-set difference (empty here), so the n_changes arm costs
    one metadata fold too."""
    path = fixture_path("acid_orders_restore", sf_dir)
    t = Table(
        spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
        num_files=4,
    )
    if not fixture_ready(path, sf_dir, marker=_MARKER):
        if os.path.isdir(path):
            shutil.rmtree(path)
        o = load_tables(spark, sf_dir)["orders"]
        early = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        mid = o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        )
        t.create(early)
        t.append(mid)
        t.merge(
            t.read(version=1)
            .filter(F.col("o_orderkey").between(_UPD_LO, _UPD_HI))
            .withColumn("o_totalprice", F.col("o_totalprice") + 100000.0),
            key="o_orderkey",
        )
        t.restore(1)
        with open(os.path.join(path, _MARKER), "w") as f:
            f.write("ok\n")
    v_restore = len(t.history()) - 1
    ch = t.changes(1, v_restore).agg(
        F.count(F.lit(1)).cast("long").alias("n_changes")
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
        .crossJoin(F.broadcast(ch))
    )


@query(
    "q_acid_delete",
    oracle=f"""
WITH kept AS (
  SELECT * FROM orders
  WHERE o_orderdate < DATE '1998-01-01'
    AND NOT (o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI})
)
SELECT o_orderstatus, count(*) AS n, {_E2} AS sum_price_e2,
       CAST((SELECT count(*) FROM orders
             WHERE o_orderdate < DATE '1998-01-01'
               AND o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}) AS BIGINT)
         AS n_deleted
FROM kept GROUP BY o_orderstatus
""",
)
def q_acid_delete(spark, sf_dir):
    """DELETE WHERE through the commit protocol (GDPR-class row removal —
    the Delta surface q_cdc/* simulate and the unit tests exercise, here
    as a registered end-to-end query): a 2-commit orders table drops a
    key range via copy-on-write rewrite; the head read must equal the
    relational complement, and n_deleted — the engine's own file-pruned
    CDC count across the delete commit, every change a 'delete' image —
    is pinned by the oracle to the exact predicate cardinality. A delete
    that leaked a row, dropped an extra one, or emitted an insert image
    would hash-mismatch.

    Scale: the rewrite reads the live snapshot once and writes the
    complement (stats-prunable on a clustered predicate column — the
    merge machinery; kept general here because DELETE predicates are
    arbitrary); CDC reads only the file-set difference."""
    path = fixture_path("acid_orders_delete", sf_dir)
    t = Table(
        spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
        num_files=4,
    )
    if not fixture_ready(path, sf_dir, marker=_MARKER):
        if os.path.isdir(path):
            shutil.rmtree(path)
        o = load_tables(spark, sf_dir)["orders"]
        sub = o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        t.create(sub)
        t.delete_where(f"o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}")
        with open(os.path.join(path, _MARKER), "w") as f:
            f.write("ok\n")
    v = len(t.history()) - 1
    ch = t.changes(v - 1, v)
    nd = ch.agg(
        F.sum(F.when(F.col("change_type") == "delete", 1).otherwise(0))
        .cast("long")
        .alias("n_del"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    ).select(
        # inserts in a pure delete's CDC would be a rewrite bug: fold the
        # assertion into the checked column (n_total == n_del iff none).
        F.when(F.col("n_total") == F.col("n_del"), F.col("n_del"))
        .otherwise(F.lit(-1))
        .alias("n_deleted")
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
        .crossJoin(F.broadcast(nd))
    )


@query(
    "q_src_acid_pyds",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       {_E2} AS sum_price_e2,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderkey <= {_UPD_HI}
GROUP BY o_orderstatus
""",
)
def q_src_acid_pyds(spark, sf_dir):
    """The logged table read through Spark 4's PYTHON DATA SOURCE API
    (pkg2_spark/acid_datasource.py) — ``format("pkg2acid")`` with
    ``option("version", 2)`` time travel (v2 = the full orders table,
    before the merge) and a pushed o_orderkey range predicate. The
    source plans one InputPartition per live data file and PRUNES files
    whose logged [min, max] on o_orderkey cannot match the filter (the
    range-clustered fixture makes most of the 24 live files skippable);
    the filter is also kept as a residual, so Spark re-applies it
    row-level — pruning can only skip work, never change the answer.
    The per-file read path ships Arrow RecordBatches harmonized to the
    logged schema. Oracle: the same filtered aggregate over the raw
    orders table (v2 == orders by the fixture recipe).

    Scale shape: driver-side O(commits) log fold + O(files) pruning at
    planning; then |surviving files| parallel Arrow scan tasks feeding
    a map-combinable hash-agg. The JVM Table.read path stays the fast
    default (module docstring) — this pins the extension surface."""
    from pkg2_spark.acid_datasource import register_acid_source

    t = acid_orders_table(spark, sf_dir)
    register_acid_source(spark)
    df = (
        spark.read.format("pkg2acid")
        .option("version", 2)
        .load(t.path)
        .filter(F.col("o_orderkey") <= _UPD_HI)
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_e2"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@query(
    "q_sink_acid_pyds",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       {_E2} AS sum_price_e2
FROM orders
WHERE o_orderdate < DATE '1998-01-01'
GROUP BY o_orderstatus
""",
)
def q_sink_acid_pyds(spark, sf_dir):
    """The WRITE half of the Python Data Source surface: create a logged
    table from the pre-1997 orders, append the 1997 slice through
    ``df.write.format("pkg2acid").mode("append")`` (each task streams
    its Arrow batches to an immutable file; the driver folds all task
    commit messages into ONE atomic O_EXCL log commit with footer stats
    — acid_datasource.AcidDataSourceWriter), then read the table back
    through the pkg2acid READER and aggregate. The oracle recomputes the
    same union from the raw orders table, so a torn append (partial
    files visible) or a stats/schema drift in the Python-written commit
    would hash-mismatch.

    Rebuilt from scratch every invocation (an append MUTATES the table; a
    cached fixture would double-append); at sf scale that is one small
    create + one append. Scale shape: both writes are |tasks| parallel
    file writes + O(1) driver log commits; the read is the pruned
    partitioned scan q_src_acid_pyds pins."""
    import shutil as _shutil

    from pkg2_spark.acid_datasource import register_acid_source

    path = fixture_path("acid_pyds_sink", sf_dir)
    if os.path.isdir(path):
        _shutil.rmtree(path)
    o = load_tables(spark, sf_dir)["orders"]
    t = Table(
        spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
        num_files=4,
    )
    t.create(o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")))
    register_acid_source(spark)
    (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
        )
        .write.format("pkg2acid")
        .mode("append")
        .save(path)
    )
    return (
        spark.read.format("pkg2acid")
        .load(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
    )


@query(
    "q_stream_acid_cdc",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       {_E2} AS sum_price_e2
FROM orders
GROUP BY o_orderstatus
""",
)
def q_stream_acid_cdc(spark, sf_dir):
    """STREAMING CDC tail of the logged table — ``readStream.format(
    "pkg2acid")`` (acid_datasource.AcidStreamReader) treats commit
    versions as streaming offsets: the fixture creates the table from
    the pre-1997 orders and appends the 1997 and post-1998 slices as two
    more commits, then an availableNow drain emits every appended row
    exactly once into the sink — so the drained content equals the FULL
    orders table and the per-status rollup hash-matches the batch
    oracle. Checkpoint-resume exactly-once, the row-rewriting-commit
    guard, and skip_change_commits are pinned by
    tests/test_acid_datasource.py.

    Scale shape: per micro-batch, offset resolution is a driver-side
    O(new commits) log read; data flows as one executor task per added
    file (the same Arrow path as the batch source) — tailing cost is
    proportional to the DELTA, never to table size."""
    import shutil as _shutil

    from pkg2_spark.acid_datasource import register_acid_source
    from pkg2_spark.streaming.harness import run_to_memory

    path = fixture_path("acid_cdc_src", sf_dir)
    # r14: the three-commit source table is a deterministic function of
    # sf_dir and the MEASURED operation is the streaming tail over its
    # log, so the table is marker-gated (acid_orders_table pattern)
    # instead of rebuilt per invocation; the stream replay itself still
    # runs fully every call (fresh checkpoint per run_to_memory).
    _cdc_marker = "_ACID_CDC_SRC_DONE"
    # Recipe version (ADVICE r14): bump when the commit filters / num_files
    # below change, so a stale table can't outlive its recipe.
    _cdc_version = "v1:3commits-orderdate-splits-nf4"
    if not fixture_ready(path, sf_dir, marker=_cdc_marker, version=_cdc_version):
        if os.path.isdir(path):
            _shutil.rmtree(path)
        o = load_tables(spark, sf_dir)["orders"]
        t = Table(
            spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
            num_files=4,
        )
        t.create(o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")))
        t.append(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
            )
        )
        t.append(o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("date")))
        fixture_mark(path, _cdc_marker, _cdc_version)
    register_acid_source(spark)
    rows = run_to_memory(
        spark.readStream.format("pkg2acid")
        .load(path)
        .select("o_orderstatus", "o_totalprice"),
        "acid_cdc",
        mode="append",
    )
    return rows.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_e2"),
    )


@query(
    "q_acid_update",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       CAST(sum(CAST(floor(
         (CASE WHEN o_orderpriority = '1-URGENT'
               THEN o_totalprice * 1.1 ELSE o_totalprice END) * 100
       ) AS BIGINT)) AS BIGINT) AS sum_price_e2,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderpriority = '1-URGENT') AS n_updated
FROM orders
GROUP BY o_orderstatus
""",
)
def q_acid_update(spark, sf_dir):
    """Copy-on-write UPDATE (Table.update_where — the missing third of
    the DML triad beside merge and the two delete shapes): ``SET
    o_totalprice = o_totalprice * 1.1 WHERE o_orderpriority =
    '1-URGENT'`` over a fresh logged orders table. All right-hand sides
    evaluate against the OLD row in ONE select (SQL UPDATE semantics —
    a swap assignment is order-independent, pinned by test), each
    assignment casts back to the column's declared type so an update
    can never retype the table, and the rewrite reads DV-applied so it
    cannot resurrect merge-on-read-deleted rows. The returned aggregate
    runs over the updated snapshot; n_updated is the engine's own CDC
    insert-image count across the update commit (changed rows appear as
    delete(old)+insert(new); UNCHANGED rows in rewritten files cancel in
    the multiset diff — so an update that spuriously perturbed a
    non-matching row, or missed a matching one, hash-mismatches). The
    float arithmetic is IEEE-identical on both engines (one double
    multiply, then the house floor-e2).

    Scale: the rewrite covers the live set (predicate on an unclustered
    column); a key-range-targeted update should flow through merge()'s
    stats-pruned path instead — table history records which ran."""
    import shutil as _shutil

    path = fixture_path("acid_update_orders", sf_dir)
    if os.path.isdir(path):
        _shutil.rmtree(path)
    o = load_tables(spark, sf_dir)["orders"]
    t = Table(
        spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
        num_files=4,
    )
    t.create(o)
    t.update_where(
        "o_orderpriority = '1-URGENT'",
        {"o_totalprice": "o_totalprice * 1.1"},
    )
    nu = (
        t.changes(0, 1)
        .filter(F.col("change_type") == "insert")
        .agg(F.count(F.lit(1)).cast("long").alias("n_updated"))
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
        .crossJoin(F.broadcast(nu))
    )


@query(
    "q_acid_delete_dv",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       {_E2} AS sum_price_e2,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 10 < 2) AS n_deleted
FROM orders
WHERE o_orderkey % 10 >= 2
GROUP BY o_orderstatus
""",
)
def q_acid_delete_dv(spark, sf_dir):
    """MERGE-ON-READ delete via DELETION VECTORS (Table.delete_where_dv —
    the Delta DV / Iceberg positional-delete shape): the scattered 20%
    delete (``o_orderkey % 10 < 2`` hits every file of the range-
    clustered layout) records only (file, row_index) positions in a
    small parquet sidecar — NO data file is rewritten, which is the only
    affordable shape for scattered compliance deletes at 100 TB (copy-
    on-write would rewrite the whole table; footer-stats pruning cannot
    help a predicate that hits every file). Readers fold the DV set and
    apply it as one broadcast anti-join on (file, row_index) resolved
    through Spark's _metadata columns. The returned aggregate runs over
    the DV-applied snapshot, and n_deleted is computed by the engine's
    own CDC across the DV commit (delete images materialized from
    positions — rows the sidecar recorded, not the predicate re-run), so
    a miscounted position, a double-recorded row, or a reader that
    misses the anti-join all hash-mismatch. No-rewrite, resurrection
    safety across merge/compact, restore of DV state, and vacuum
    retention of live sidecars are pinned by tests/test_table_format.py.

    Scale: the delete costs one predicate scan + a matched-rows-sized
    sidecar write; the read tax is a broadcast anti-join until compact()
    materializes; CDC across the commit reads only the referenced
    files."""
    import shutil as _shutil

    path = fixture_path("acid_dv_orders", sf_dir)
    if os.path.isdir(path):
        _shutil.rmtree(path)
    o = load_tables(spark, sf_dir)["orders"]
    t = Table(
        spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
        num_files=4,
    )
    t.create(o)
    t.delete_where_dv("o_orderkey % 10 < 2")
    nd = t.changes(0, 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_deleted")
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
        .crossJoin(F.broadcast(nd))
    )


@query(
    "q_stream_acid_cdf",
    oracle=f"""
WITH upd_old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey BETWEEN {_UPD_LO} AND {_UPD_HI}
),
ins AS (
  SELECT o_orderkey + {_INS_SHIFT} AS o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey BETWEEN {_INS_LO} AND {_INS_HI}
),
merged AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey NOT BETWEEN {_UPD_LO} AND {_UPD_HI}
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice + 100000.0 FROM upd_old
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM ins
),
chg AS (
  SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
         o_orderstatus, o_totalprice
  FROM orders WHERE o_orderdate < DATE '1997-01-01'
  UNION ALL
  SELECT 'insert', CAST(1 AS BIGINT), o_orderstatus, o_totalprice
  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
  UNION ALL
  SELECT 'insert', CAST(2 AS BIGINT), o_orderstatus, o_totalprice + 100000.0
  FROM upd_old
  UNION ALL
  SELECT 'insert', CAST(2 AS BIGINT), o_orderstatus, o_totalprice FROM ins
  UNION ALL
  SELECT 'delete', CAST(2 AS BIGINT), o_orderstatus, o_totalprice FROM upd_old
  UNION ALL
  SELECT 'delete', CAST(3 AS BIGINT), o_orderstatus, o_totalprice
  FROM merged WHERE o_orderkey % 10 = 7
)
SELECT change_type, commit_version, o_orderstatus, count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_e2
FROM chg GROUP BY change_type, commit_version, o_orderstatus
""",
)
def q_stream_acid_cdf(spark, sf_dir):
    """STREAMING CHANGE FEED of the logged table — ``readStream.format(
    "pkg2acid").option("change_feed", "true")`` (the Delta readChangeFeed
    surface over this format's log): a four-commit fixture (create
    pre-1997 / append the rest / MERGE with updates + inserts / a
    DELETION-VECTOR delete) drains through availableNow, and every
    commit lands as row-level change images — appends as tagged inserts
    (one task per added file), the merge as delete(old image) +
    insert(new image) derived executor-side by multiset cancellation
    over the commit's add/remove file sets
    (acid_datasource._cdf_diff_batches), and the merge-on-read delete as
    delete images resolved from its sidecar's (file, row_index)
    positions with NO file rewritten (_cdf_dv_batches) — byte-equal to
    replaying batch Table.changes(v-1, v) per commit, which is exactly
    what the oracle reconstructs from the fixture recipe: rows re-added
    UNCHANGED by the merge's copy-on-write rewrite must cancel to
    nothing, so a single spurious or missing image hash-mismatches.
    Grouped by (change_type, commit_version, status) so the feed's
    version attribution is checked, not just its net row images.
    Checkpoint-resume exactly-once and the downstream IVM consumption of
    this feed are pinned by tests/test_acid_datasource.py.

    Scale shape: per micro-batch, offset resolution is a driver-side
    O(new commits) log read; appended data flows one Arrow task per
    file, and each rewriting commit costs one task holding its bounded
    stats-pruned rewrite region — tailing cost tracks the DELTA, never
    table size."""
    import shutil as _shutil

    from pkg2_spark.acid_datasource import register_acid_source
    from pkg2_spark.streaming.harness import run_to_memory

    path = fixture_path("acid_cdf_src", sf_dir)
    # r14: same marker-gating as q_stream_acid_cdc — the four-commit
    # fixture (create/append/merge/DV-delete) is deterministic input; the
    # measured operation is the change-feed tail, which replays fully
    # every invocation from a fresh checkpoint.
    _cdf_marker = "_ACID_CDF_SRC_DONE"
    _cdf_version = "v1:4commits-merge-dvdelete-mod10eq7-nf4"
    if not fixture_ready(path, sf_dir, marker=_cdf_marker, version=_cdf_version):
        if os.path.isdir(path):
            _shutil.rmtree(path)
        o = load_tables(spark, sf_dir)["orders"]
        t = Table(
            spark, path, stats_cols=["o_orderkey"], cluster_by="o_orderkey",
            num_files=4,
        )
        t.create(o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("date")))
        t.append(o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")))
        t.merge(_updates(o), key="o_orderkey")
        # v3: MERGE-ON-READ delete — deletion-vector positions only, no file
        # rewritten; the feed must still emit its full delete images (one
        # executor task resolving the sidecar positions back to rows).
        t.delete_where_dv("o_orderkey % 10 = 7")
        fixture_mark(path, _cdf_marker, _cdf_version)
    register_acid_source(spark)
    rows = run_to_memory(
        spark.readStream.format("pkg2acid")
        .option("change_feed", "true")
        .load(path)
        .select(
            "change_type",
            F.col("_commit_version").alias("commit_version"),
            "o_orderstatus",
            "o_totalprice",
        ),
        "acid_cdf",
        mode="append",
    )
    return rows.groupBy("change_type", "commit_version", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_e2"),
    )


@query(
    "q_stream_acid_pyds_sink",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM events
GROUP BY event_type
""",
)
def q_stream_acid_pyds_sink(spark, sf_dir):
    """EXACTLY-ONCE streaming ingestion through the Python Data Source
    STREAM WRITER — ``writeStream.format("pkg2acid")``
    (acid_datasource.AcidStreamWriter), the declarative sibling of
    q_stream_acid_sink's foreachBatch form: the table is created from
    the user_id < 10 events, the rest arrive through an availableNow
    replay of the event stream, and each epoch lands as ONE atomic log
    commit carrying its batchId (the same ledger key
    Table.append_batch records, so both sink forms dedup against each
    other). The final table must equal the whole events file — the
    per-type rollup hash-matches the batch oracle, so a dropped epoch,
    a double-committed replay, or a torn multi-task epoch all fail the
    gate. Epoch re-delivery being a no-op is pinned directly in
    tests/test_acid_datasource.py.

    Scale shape: per epoch, |tasks| parallel Arrow file writes + one
    O(1) driver log commit; the ledger check is the O(commits) log read
    the sink already pays."""
    import shutil as _shutil

    from pkg2_spark.acid_datasource import register_acid_source
    from pkg2_spark.streaming.harness import events_stream, replay

    path = fixture_path("acid_pyds_stream_sink", sf_dir)
    ckpt = path + "_ckpt"
    for d in (path, ckpt):
        if os.path.isdir(d):
            _shutil.rmtree(d)
    ev = load_tables(spark, sf_dir)["events"]
    cols = ["event_id", "event_type", "user_id", "value"]
    t = Table(spark, path, stats_cols=["event_id"])
    t.create(ev.filter(F.col("user_id") < 10).select(*cols))
    register_acid_source(spark)
    replay(
        events_stream(spark, sf_dir).filter(F.col("user_id") >= 10).select(*cols),
        lambda w: w.format("pkg2acid")
        .option("path", path)
        .option("checkpointLocation", ckpt),
    )
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("sum_value_e2"),
    )
