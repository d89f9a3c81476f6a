"""Python Data Source over the ACID table format (pkg2acid) — planning
(one partition per live file, stats pruning, time travel), execution
(Arrow batches, schema-evolution null fill), and parity with Table.read.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pkg2_spark.acid_datasource import (
    AcidDataSourceReader,
    register_acid_source,
)
from pkg2_spark.queries.acid import acid_orders_table
from pkg2_spark.tableformat import Table, snapshot_files


@pytest.fixture(scope="module")
def orders_table(spark):
    return acid_orders_table(spark, "/root/testdata/sf0.001")


def _reader(path, version=None, filters=()):
    opts = {"path": path}
    if version is not None:
        opts["version"] = str(version)
    r = AcidDataSourceReader(None, opts)
    residual = list(r.pushFilters(list(filters)))
    assert residual == list(filters)  # every filter stays residual
    return r


def test_partition_planning_and_stats_pruning(spark, orders_table):
    from pyspark.sql.datasource import EqualTo, LessThanOrEqual

    t = orders_table
    all_parts = _reader(t.path, version=2).partitions()
    assert len(all_parts) == len(snapshot_files(t.path, 2))
    assert all(p.path for p in all_parts)

    # the fixture range-clusters on o_orderkey into 8 files per commit;
    # compute a scale-independent cut from the logged stats and assert
    # the EXACT surviving set: LessThanOrEqual(cut) keeps a file iff its
    # logged min <= cut.
    from pkg2_spark.tableformat import snapshot

    ranges = [
        tuple(e["stats"]["o_orderkey"])
        for e in snapshot(t.path, 2).files.values()
    ]
    cut = sorted(lo for lo, _ in ranges)[len(ranges) // 2]
    pruned = _reader(
        t.path, version=2, filters=[LessThanOrEqual(("o_orderkey",), cut)]
    ).partitions()
    assert len(pruned) == sum(1 for lo, _ in ranges if lo <= cut)
    assert 0 < len(pruned) < len(all_parts)

    # a point lookup keeps exactly the files whose [min, max] covers it
    key = ranges[0][0]  # some existing key
    point = _reader(
        t.path, version=2, filters=[EqualTo(("o_orderkey",), key)]
    ).partitions()
    assert len(point) == sum(1 for lo, hi in ranges if lo <= key <= hi)
    assert 0 < len(point) <= len(pruned)

    # stats on an un-tracked column can't prune (no stats -> keep file)
    untracked = _reader(
        t.path, version=2, filters=[EqualTo(("o_custkey",), 1)]
    ).partitions()
    assert len(untracked) == len(all_parts)


def test_format_read_matches_table_read_and_time_travel(spark, orders_table):
    t = orders_table
    register_acid_source(spark)

    got = (
        spark.read.format("pkg2acid").option("version", 2).load(t.path)
    )
    want = t.read(version=2)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # time travel: every logged snapshot is reachable by option
    for v in (0, 1, 3):
        n = spark.read.format("pkg2acid").option("version", v).load(t.path).count()
        assert n == t.read(version=v).count()
    # default = head
    assert spark.read.format("pkg2acid").load(t.path).count() == t.read().count()


def test_fully_pruned_filter_reads_zero_rows(spark, orders_table):
    t = orders_table
    register_acid_source(spark)
    df = (
        spark.read.format("pkg2acid").option("version", 2).load(t.path)
        .filter(F.col("o_orderkey") < 0)
    )
    assert df.count() == 0


def test_python_writer_appends_atomically_with_stats(spark, tmp_path):
    from pyspark.sql.datasource import LessThanOrEqual

    path = str(tmp_path / "w")
    t = Table(spark, path, stats_cols=["id"], cluster_by="id", num_files=4)
    t.create(spark.range(0, 100).select("id", (F.col("id") * 2).alias("v")))
    register_acid_source(spark)

    (
        spark.range(100, 160)
        .select("id", (F.col("id") * 2).alias("v"))
        .repartition(3)
        .write.format("pkg2acid")
        .mode("append")
        .save(path)
    )
    assert t.read().count() == 160
    hist = t.history()
    assert hist[-1]["op"] == "append"
    assert hist[-1]["meta"]["writer"] == "pkg2acid-python-datasource"
    # stats continuity: the python-written entries carry min/max on the
    # table's tracked column, so stats pruning keeps engaging
    new_entries = hist[-1]["add"]
    assert new_entries and all("id" in e["stats"] for e in new_entries)
    assert sum(e["rows"] for e in new_entries) == 60
    pruned = _reader(path, filters=[LessThanOrEqual(("id",), 50)]).partitions()
    total = len(_reader(path).partitions())
    assert 0 < len(pruned) < total
    # round trip through the python reader too
    assert (
        spark.read.format("pkg2acid").load(path)
        .agg(F.sum("v")).collect()[0][0]
        == sum(2 * i for i in range(160))
    )


def test_python_writer_schema_rules(spark, tmp_path):
    path = str(tmp_path / "w2")
    Table(spark, path, stats_cols=["id"]).create(
        spark.range(0, 10).select("id", (F.col("id") * 2).alias("v"))
    )
    register_acid_source(spark)
    base = spark.range(10, 20).select("id", (F.col("id") * 2).alias("v"))

    with pytest.raises(Exception, match="append-only"):
        base.write.format("pkg2acid").mode("overwrite").save(path)
    with pytest.raises(Exception, match="schema-incompatible"):
        base.withColumn("v", F.col("v").cast("string")).write.format(
            "pkg2acid"
        ).mode("append").save(path)
    with pytest.raises(Exception, match="adds columns"):
        base.withColumn("tag", F.lit("x")).write.format("pkg2acid").mode(
            "append"
        ).save(path)
    (
        base.withColumn("tag", F.lit("x"))
        .write.format("pkg2acid")
        .option("allow_schema_evolution", "true")
        .mode("append")
        .save(path)
    )
    got = spark.read.format("pkg2acid").load(path)
    assert [f.name for f in got.schema.fields] == ["id", "v", "tag"]
    rows = {r["id"]: r["tag"] for r in got.collect()}
    assert rows[0] is None and rows[15] == "x"


def test_stream_tail_exactly_once_and_rewrite_guard(spark, tmp_path):
    # The CDC stream source's protocol properties: (a) checkpoint resume
    # emits only the delta (exactly-once across drains), (b) a
    # row-rewriting commit fails the tail by default, (c)
    # skip_change_commits skips it without re-emitting rewritten rows.
    path = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    t = Table(spark, path, stats_cols=["id"])
    t.create(spark.range(0, 50).select("id", (F.col("id") * 2).alias("v")))
    t.append(spark.range(50, 80).select("id", (F.col("id") * 2).alias("v")))
    register_acid_source(spark)

    def drain(**opts):
        q = (
            spark.readStream.format("pkg2acid").options(**opts).load(path)
            .writeStream.format("parquet").option("path", sink)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(sink).count() == 80
    # offline append, resume from checkpoint: only the delta arrives
    t.append(spark.range(80, 90).select("id", (F.col("id") * 2).alias("v")))
    drain()
    got = spark.read.parquet(sink)
    assert got.count() == 90 and got.distinct().count() == 90
    # a merge commit rewrites rows: the tail must refuse...
    t.merge(spark.range(0, 5).select("id", (F.col("id") * 3).alias("v")), key="id")
    with pytest.raises(Exception, match="skip_change_commits"):
        drain()
    # ...and skip_change_commits skips it without re-emitting
    drain(skip_change_commits="true")
    assert spark.read.parquet(sink).count() == 90


def test_stream_writer_epoch_ledger_exactly_once(spark, tmp_path):
    # The streaming sink's per-epoch ledger: a re-delivered epoch
    # (same batchId) must be a no-op — no new version, no new rows —
    # and the ledger is SHARED with Table.append_batch (same meta key),
    # so the foreachBatch sink and the DS stream sink dedup against
    # each other.
    import pyarrow as pa

    from pkg2_spark.acid_datasource import AcidStreamWriter
    from pkg2_spark.tableformat import latest_version

    path = str(tmp_path / "sw")
    t = Table(spark, path, stats_cols=["id"])
    t.create(spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")))
    w = AcidStreamWriter(t.read().schema, {"path": path}, overwrite=False)

    batch = pa.record_batch(
        {"id": pa.array([100, 101], pa.int64()),
         "v": pa.array([200, 202], pa.int64())}
    )
    msg = w.write(iter([batch]))
    w.commit([msg], batchId=7)
    assert latest_version(path) == 1
    assert t.read().count() == 12
    # exact re-delivery of epoch 7: ledger skip, nothing changes
    msg2 = w.write(iter([batch]))
    w.commit([msg2], batchId=7)
    assert latest_version(path) == 1
    assert t.read().count() == 12
    # the foreachBatch sink consults the same ledger
    assert t.append_batch(
        spark.range(300, 310).select("id", (F.col("id") * 2).alias("v")), 7
    ) is None
    assert t.read().count() == 12
    # a NEW epoch lands
    w.commit([w.write(iter([batch]))], batchId=8)
    assert latest_version(path) == 2
    assert t.read().count() == 14
    assert t.history()[-1]["meta"]["batchId"] == 8
    # overwrite mode refused
    with pytest.raises(ValueError, match="append-only"):
        AcidStreamWriter(t.read().schema, {"path": path}, overwrite=True)


def test_schema_evolution_null_fill(spark, tmp_path):
    path = str(tmp_path / "evolved")
    t = Table(spark, path, stats_cols=["id"])
    base = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t.create(base)
    t.append(
        spark.range(100, 150).select(
            F.col("id"), (F.col("id") * 2).alias("v"), F.lit("new").alias("tag")
        ),
        allow_schema_evolution=True,
    )
    register_acid_source(spark)
    got = spark.read.format("pkg2acid").load(path)
    assert [f.name for f in got.schema.fields] == ["id", "v", "tag"]
    rows = {r["id"]: r for r in got.collect()}
    assert len(rows) == 150
    assert rows[5]["tag"] is None  # pre-evolution file: null-filled
    assert rows[120]["tag"] == "new"
    # parity with the JVM reader on the evolved table
    want = {r["id"]: r for r in t.read().collect()}
    assert rows == want


def test_change_feed_matches_batch_changes_and_resumes(spark, tmp_path):
    # change_feed mode: every commit's row-level images must equal the
    # batch Table.changes(v-1, v) replay — appends as inserts, a merge
    # as delete(old)+insert(new) with unchanged rewritten rows cancelled,
    # a delete_where as deletes, a compact as NOTHING (logical no-op).
    # Checkpoint resume then emits only post-checkpoint commits.
    path = str(tmp_path / "cdf")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    t = Table(spark, path, stats_cols=["id"], cluster_by="id", num_files=4)
    t.create(spark.range(0, 50).select("id", (F.col("id") * 2).alias("v")))
    t.append(spark.range(50, 80).select("id", (F.col("id") * 2).alias("v")))
    t.merge(spark.range(0, 5).select("id", (F.col("id") * 3).alias("v")), key="id")
    t.delete_where("id >= 70")
    t.restore(2)  # un-deletes: net insert images for the id >= 70 rows
    t.delete_where_dv("id % 9 = 4")  # merge-on-read: delete images, no rewrite
    t.compact(max_files=2)  # materializes the DVs; must emit NOTHING
    register_acid_source(spark)

    def drain():
        q = (
            spark.readStream.format("pkg2acid")
            .option("change_feed", "true").load(path)
            .writeStream.format("parquet").option("path", sink)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    got = spark.read.parquet(sink)
    # batch replay oracle: union of Table.changes per commit version
    from pkg2_spark.tableformat import latest_version

    head = latest_version(path)
    parts = []
    first = t.read(0).withColumn("change_type", F.lit("insert")).withColumn(
        "_commit_version", F.lit(0).cast("long")
    )
    parts.append(first)
    for v in range(1, head + 1):
        parts.append(
            t.changes(v - 1, v).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
        )
    expect = parts[0]
    for p in parts[1:]:
        expect = expect.unionByName(p)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # the compact commit contributed no rows
    assert got.filter(F.col("_commit_version") == head).count() == 0
    # resume: one more append emits exactly its delta
    t.append(spark.range(200, 210).select("id", (F.col("id") * 2).alias("v")))
    drain()
    got2 = spark.read.parquet(sink)
    assert got2.count() == got.count() + 10
    fresh = got2.filter(F.col("_commit_version") == head + 1)
    assert fresh.count() == 10
    assert fresh.agg(F.min("id"), F.max("id")).collect()[0] == (200, 209)


def test_change_feed_drives_incremental_view_maintenance(spark, tmp_path):
    # r13 verdict #1 "done" clause: the q_acid_ivm dataflow re-based on
    # the STREAMED change feed — a foreachBatch consumer folds each
    # micro-batch's signed deltas (+ for insert, - for delete) into a
    # maintained aggregate view, which must equal the batch aggregate of
    # the final table (inserts and deletes each applied exactly once).
    path = str(tmp_path / "ivm")
    ckpt = str(tmp_path / "ckpt")
    t = Table(spark, path, stats_cols=["id"], cluster_by="id", num_files=4)
    t.create(
        spark.range(0, 60).select(
            "id", (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v")
        )
    )
    t.merge(
        spark.range(0, 10).select(
            "id", (F.col("id") % 3).alias("g"), (F.col("id") * 5).alias("v")
        ),
        key="id",
    )
    t.delete_where("id >= 50")
    register_acid_source(spark)

    view: dict = {}

    def fold(batch_df, _bid):
        deltas = (
            batch_df.withColumn(
                "s", F.when(F.col("change_type") == "insert", 1).otherwise(-1)
            )
            .groupBy("g")
            .agg(
                F.sum(F.col("s")).alias("dn"),
                F.sum(F.col("s") * F.col("v")).alias("dv"),
            )
            .collect()
        )
        for r in deltas:
            n, sv = view.get(r["g"], (0, 0))
            view[r["g"]] = (n + r["dn"], sv + r["dv"])

    q = (
        spark.readStream.format("pkg2acid")
        .option("change_feed", "true").load(path)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    expect = {
        r["g"]: (r["n"], r["sv"])
        for r in t.read()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    assert view == expect


def test_batch_reader_rejects_change_feed_option(spark, tmp_path):
    path = str(tmp_path / "t")
    Table(spark, path).create(spark.range(3).select("id"))
    register_acid_source(spark)
    with pytest.raises(Exception, match="STREAMING option"):
        spark.read.format("pkg2acid").option("change_feed", "true").load(
            path
        ).collect()


def test_commit_time_schema_merges_concurrent_evolution(spark, tmp_path):
    # r13 advice: the Python DS writer validates schema at PLAN time but
    # commits later — an allow_schema_evolution append landing in that
    # window must survive into the recorded schema (merged), not be
    # silently reverted by the stale plan-time snapshot.
    import pyarrow as pa

    from pkg2_spark.acid_datasource import (
        AcidDataSourceWriter,
        _commit_schema_json,
    )
    from pkg2_spark.tableformat import log_schema, snapshot

    path = str(tmp_path / "drift")
    t = Table(spark, path, stats_cols=["id"])
    t.create(spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")))
    w = AcidDataSourceWriter(t.read().schema, {"path": path}, overwrite=False)
    msg = w.write(
        iter(
            [
                pa.record_batch(
                    {"id": pa.array([100], pa.int64()),
                     "v": pa.array([200], pa.int64())}
                )
            ]
        )
    )
    # concurrent evolution lands between plan and commit
    t.append(
        spark.range(10, 12).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("t").alias("tag")
        ),
        allow_schema_evolution=True,
    )
    w.commit([msg])
    names = [f.name for f in log_schema(path).fields]
    assert "tag" in names  # evolution survived the stale-plan commit
    # and the table reads coherently: the DS-written row has tag=null
    row = t.read().filter(F.col("id") == 100).collect()[0]
    assert row["v"] == 200 and row["tag"] is None
    # a RETYPE between plan and commit is refused loudly
    import pytest as _pytest

    bad = t.read().select(
        "id", F.col("v").cast("string").alias("v"), "tag"
    ).schema
    with _pytest.raises(ValueError, match="retyped"):
        _commit_schema_json(snapshot(path), bad.jsonValue())


def test_stream_starting_version_skips_bootstrap(spark, tmp_path):
    # starting_version=N (the Delta startingVersion surface) begins the
    # tail AT commit N — the bootstrap-then-tail handoff for consumers
    # whose state already embodies the earlier snapshot. Works in both
    # raw-tail and change_feed modes; a fresh checkpoint honors it, and
    # offsets beyond the head just mean "nothing yet".
    path = str(tmp_path / "sv")
    sink = str(tmp_path / "sink")
    t = Table(spark, path, stats_cols=["id"])
    t.create(spark.range(0, 40).select("id", (F.col("id") * 2).alias("v")))
    t.append(spark.range(40, 50).select("id", (F.col("id") * 2).alias("v")))
    register_acid_source(spark)

    def drain(ck, **opts):
        q = (
            spark.readStream.format("pkg2acid").options(**opts).load(path)
            .writeStream.format("parquet").option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain("ck1", starting_version="1")
    got = spark.read.parquet(sink)
    assert got.count() == 10  # only the append commit's rows
    assert got.agg(F.min("id")).collect()[0][0] == 40
    # beyond-head start: empty until a new commit lands
    drain("ck2", starting_version="5")
    assert spark.read.parquet(sink).count() == 10  # nothing added


def test_change_feed_null_fills_evolved_schema(spark, tmp_path):
    # A change feed crossing a schema evolution must serve every image
    # under the CURRENT log schema: delete images read from pre-evolution
    # files carry the evolved column as null (the same null-fill contract
    # as the batch reader), and the two CDF columns ride on top.
    path = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    t = Table(spark, path, stats_cols=["id"])
    t.create(spark.range(0, 20).select("id", (F.col("id") * 2).alias("v")))
    t.append(
        spark.range(20, 30).select(
            "id", (F.col("id") * 2).alias("v"), F.lit("new").alias("tag")
        ),
        allow_schema_evolution=True,
    )
    t.delete_where("id < 5")  # rewrites pre-evolution rows -> delete images
    register_acid_source(spark)
    q = (
        spark.readStream.format("pkg2acid")
        .option("change_feed", "true").load(path)
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.read.parquet(sink)
    assert set(got.columns) == {"id", "v", "tag", "change_type", "_commit_version"}
    dels = got.filter(F.col("change_type") == "delete")
    assert dels.count() == 5
    # pre-evolution delete images: evolved column null-filled
    assert dels.filter(F.col("tag").isNull()).count() == 5
    # evolved-commit inserts keep their value
    assert (
        got.filter((F.col("change_type") == "insert") & (F.col("id") >= 20))
        .filter(F.col("tag") == "new").count() == 10
    )


def test_batch_reader_applies_deletion_vectors(spark, tmp_path):
    # format("pkg2acid") must not serve merge-on-read-deleted rows: the
    # planner attaches each file's folded DV row indexes to its partition
    # and the Arrow read skips them; time travel to the pre-delete
    # version still serves everything.
    path = str(tmp_path / "dv")
    t = Table(spark, path, stats_cols=["id"], cluster_by="id", num_files=4)
    t.create(spark.range(0, 100).select("id", (F.col("id") * 2).alias("v")))
    v0 = 0
    t.delete_where_dv("id % 4 = 1")
    register_acid_source(spark)
    got = spark.read.format("pkg2acid").load(path)
    assert got.count() == 75
    assert got.filter("id % 4 = 1").count() == 0
    assert got.agg(F.sum("v")).collect()[0][0] == sum(
        2 * i for i in range(100) if i % 4 != 1
    )
    old = spark.read.format("pkg2acid").option("version", v0).load(path)
    assert old.count() == 100
    # parity with the JVM reader on the same snapshot
    assert got.exceptAll(t.read()).count() == 0
    assert t.read().exceptAll(got).count() == 0


def test_register_from_a_fresh_thread_writes_and_reads(spark, tmp_path):
    # A new Python thread runs on its own JVM thread, which has no active
    # session: a pkg2acid write there raised DATA_SOURCE_NOT_FOUND even
    # after the thread registered the source. Registering in the thread
    # must be enough for both a write and a read.
    import threading

    path = str(tmp_path / "threaded")
    t = Table(spark, path, stats_cols=["id"])
    t.create(spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")))
    out: dict = {}

    def work():
        try:
            register_acid_source(spark)
            spark.range(10, 15).select(
                "id", (F.col("id") * 2).alias("v")
            ).write.format("pkg2acid").mode("append").save(path)
            out["rows"] = spark.read.format("pkg2acid").load(path).count()
        except Exception as exc:  # surfaced in the main thread below
            out["error"] = exc

    worker = threading.Thread(target=work)
    worker.start()
    worker.join()
    assert "error" not in out, out.get("error")
    assert out["rows"] == 15 == t.read().count()
