"""Streaming harness tests (SURVEY.md §2.10 harness rows — no DuckDB analog).

Replays the events table through the file-stream source with controlled file
arrival order to assert watermark/late-data behavior, streaming dedup within
a watermark, and batch/stream parity on closed windows.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from pkg2_spark.catalog import load_tables
from pkg2_spark.queries.relational import IO_DIR


def _events(spark, sf_dir):
    return load_tables(spark, sf_dir)["events"]


def _fresh_dir(name: str) -> str:
    d = os.path.join(IO_DIR, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def test_batch_stream_parity_on_tumbling_windows(spark, sf_dir):
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    batch = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("ws"), "n")
    )
    stream = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("ws"), "n")
    )
    got = run_to_memory(stream, "parity_tumble")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_rows_in_append_mode(spark, sf_dir):
    """Feed two micro-batches: first the bulk (advancing the watermark to
    max(ts)-10min), then a shard 2 days older. With a 10-minute watermark the
    late shard's windows are already closed — append mode must not emit or
    count them."""
    src = _fresh_dir("late_src")
    ckpt = _fresh_dir("late_ckpt")
    sink = _fresh_dir("late_sink")

    e = _events(spark, sf_dir).select("event_id", "ts", "value")
    # hour-aligned cutoff: no tumbling window straddles the late/on-time split
    cutoff = e.agg(
        F.expr("date_trunc('hour', max(ts) - INTERVAL 2 DAYS)").alias("c")
    ).collect()[0]["c"]
    on_time = e.filter(F.col("ts") >= cutoff)
    late = e.filter(F.col("ts") < cutoff)
    assert late.count() > 0 and on_time.count() > 0

    on_time.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "batch0"))

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # second arrival: the late shard, then drain again
    late.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "batch1"))
    q2 = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    emitted = spark.read.parquet(sink)
    late_windows = (
        late.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_late"))
        .select(F.unix_micros("w.start").alias("ws"), "n_late")
    )
    # No late-shard window may appear with its late counts: the watermark
    # closed those windows during batch0. (They can't appear at all, since
    # their state was never created before the watermark passed them.)
    joined = emitted.join(late_windows, "ws", "inner")
    assert joined.count() == 0, joined.collect()


def test_drop_duplicates_within_watermark(spark, sf_dir):
    from pkg2_spark.streaming.harness import run_to_memory

    src = _fresh_dir("dedup_src")
    e = _events(spark, sf_dir).select("event_id", "ts").limit(500)
    doubled = e.unionAll(e)  # exact duplicate arrivals
    doubled.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b0"))

    stream = (
        spark.readStream.schema(e.schema)
        .parquet(src + "/*")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = run_to_memory(stream, "dedup_wm", mode="complete")
    assert got.collect()[0]["n"] == 500


def test_stream_stream_join_buffers_across_batches(spark, sf_dir):
    """Clicks arrive in micro-batch 0, purchases only in micro-batch 1: the
    interval join must emit the cross-batch pairs from buffered click state
    — exactly the batch interval-join answer, nothing dropped."""
    src_c = _fresh_dir("ssj_clicks")
    src_p = _fresh_dir("ssj_buys")
    ckpt = _fresh_dir("ssj_ckpt")
    sink = _fresh_dir("ssj_sink")

    e = _events(spark, sf_dir)
    clicks_b = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    buys_b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    expected = sorted(
        (r["c_user"], r["c_ts"], r["p_ts"])
        for r in clicks_b.join(buys_b, cond).collect()
    )
    assert expected, "fixture has no click->purchase pairs; widen the interval"

    def drain():
        cs = (
            spark.readStream.schema(clicks_b.schema).parquet(src_c + "/*")
            .withWatermark("c_ts", "1 hour")
        )
        ps = (
            spark.readStream.schema(buys_b.schema).parquet(src_p + "/*")
            .withWatermark("p_ts", "1 hour")
        )
        q = (
            cs.join(ps, cond)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 0: clicks only — nothing can join yet, state must buffer
    clicks_b.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_c, "b0"))
    buys_b.limit(0).coalesce(1).write.mode("overwrite").parquet(os.path.join(src_p, "b0"))
    drain()
    # batch 1: purchases arrive — buffered clicks must now match
    buys_b.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_p, "b1"))
    drain()

    got = sorted(
        (r["c_user"], r["c_ts"], r["p_ts"])
        for r in spark.read.parquet(sink).collect()
    )
    assert got == expected


def test_statestore_reader_keys_and_metadata(spark, sf_dir):
    # q_stream_state_read's companion pins: the state-metadata format
    # names the operator and its partition layout, and every key the
    # statestore reader surfaces exists in the source table (and vice
    # versa — the unwatermarked dedup retains ALL keys).
    from pkg2_spark.streaming.harness import events_stream, replay_to_checkpoint

    ckpt = replay_to_checkpoint(
        events_stream(spark, sf_dir).dropDuplicates(["event_id"]).select("event_id"),
        "state_read_test",
    )
    md = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(md) == 1
    assert md[0]["operatorName"] == "dedupe"
    # the harness's state width: never more partitions than cores, at most 8
    assert md[0]["numPartitions"] == min(8, spark.sparkContext.defaultParallelism)
    assert md[0]["minBatchId"] == 0

    state = spark.read.format("statestore").load(ckpt)
    keys = state.select(F.col("key.event_id").alias("event_id"))
    src = _events(spark, sf_dir).select("event_id").distinct()
    assert keys.count() == src.count()
    assert keys.join(src, "event_id", "left_anti").count() == 0
    # keyed store: one state row per key
    assert keys.distinct().count() == keys.count()


def test_stateful_counters_carry_state_across_batches(spark, sf_dir):
    """Split events into two files and replay one per micro-batch: the
    applyInPandasWithState operator must resume each user's state in batch 1
    (not restart from zero), so its final emitted totals equal the whole-table
    GROUP BY."""
    from pkg2_spark.streaming.stateful import user_running_counters

    src = _fresh_dir("stateful_src")
    ckpt = _fresh_dir("stateful_ckpt")
    sink = _fresh_dir("stateful_sink")

    e = _events(spark, sf_dir).select("user_id", "ts", "value").filter(F.col("user_id") < 50)
    # deterministic halves by timestamp order
    mid = e.agg(F.expr("percentile(unix_micros(ts), 0.5)").alias("m")).collect()[0]["m"]
    b0 = e.filter(F.unix_micros("ts") <= mid)
    b1 = e.filter(F.unix_micros("ts") > mid)
    assert b0.count() > 0 and b1.count() > 0
    b0.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "batch0"))

    def drain():
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )

        # parquet sink is append-only; route the update-mode output through
        # foreachBatch, appending each micro-batch's updated rows
        def write_batch(batch_df, batch_id):
            batch_df.write.mode("append").parquet(sink)

        q = (
            user_running_counters(stream)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    b1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "batch1"))
    drain()

    emitted = spark.read.parquet(sink)
    # the running maximum per user = the state after the last batch touching
    # that user; it must equal the batch GROUP BY over ALL events
    final = emitted.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value_e2").alias("total_value_e2"),
    )
    expected = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("total_value_e2"),
    )
    got = {r["user_id"]: (r["n_events"], r["total_value_e2"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value_e2"]) for r in expected.collect()}
    assert got == want


def test_late_drop_replays_in_batch_order_whatever_the_fixture_mtimes(
    spark, duck, sf_dir
):
    # q_stream_late_drop's replay order comes from its batch files' mtimes.
    # A fixture copied without them (cp without -p) keeps its marker, so
    # the query must re-stamp the files on every call: with the stamps
    # reversed (late batch oldest) it must still match its oracle.
    from pkg2_spark.compare import compare_query
    from pkg2_spark.queries.relational import fixture_path

    assert compare_query(spark, duck, "q_stream_late_drop", sf_dir).match
    src = fixture_path("stream_late_src", sf_dir)
    for i in range(3):
        stamp = 1000 * (3 - i)
        os.utime(os.path.join(src, f"b{i}.parquet"), (stamp, stamp))
    result = compare_query(spark, duck, "q_stream_late_drop", sf_dir)
    assert result.match, str(result)


def test_late_drop_query_is_not_vacuous(spark, sf_dir):
    # q_stream_late_drop must actually exercise the drop path: the staged
    # late batch is non-empty, and the emitted windows account for fewer
    # rows than the full corpus (late rows dropped + unfinalized tail).
    from pkg2_spark.registry import all_queries

    out = all_queries()["q_stream_late_drop"](spark, sf_dir)
    emitted = out.agg(F.sum("n").alias("s")).collect()[0]["s"]
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    total = e.count()
    late = e.filter(
        (F.col("ts").cast("timestamp") < F.lit("2024-01-17 00:00:00"))
        & (F.col("event_id") % 7 == 0)
    ).count() if dict(e.dtypes)["ts"] != "bigint" else None
    assert emitted < total
    if late is not None:
        assert late > 0  # the held-back batch really contains rows


def test_update_mode_reemits_touched_keys(spark, sf_dir):
    # The update-mode ledger must show at least one (window, type) key
    # emitted in MORE than one micro-batch — otherwise the replay
    # degenerated to a single batch and certifies nothing.
    from pkg2_spark.queries.relational import fixture_path
    from pkg2_spark.registry import all_queries

    all_queries()["q_stream_rt_update"](spark, sf_dir).collect()
    ledger = spark.read.option(
        "basePath", fixture_path("stream_update_ledger", sf_dir)
    ).parquet(fixture_path("stream_update_ledger", sf_dir))
    multi = (
        ledger.groupBy("win_us", "event_type")
        .agg(F.countDistinct("batch_id").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert multi > 0


def test_socket_source_drives_the_same_streaming_graph(spark):
    # r11 verdict "What's missing" #5: every streaming query replays via
    # the file source; no socket/message-bus-shaped variant existed. Spark
    # ships a TCP socket source in-box — drive the SAME
    # parse -> groupBy -> agg graph the file-based queries use over a live
    # 127.0.0.1 socket served by stdlib socketserver (no new deps). The
    # complete-mode aggregate is exact once all K lines are consumed, so
    # the assertion is deterministic despite nondeterministic micro-batch
    # boundaries.
    import socketserver
    import threading
    import time

    K, USERS = 400, 5
    hold = threading.Event()

    class Feed(socketserver.BaseRequestHandler):
        def handle(self):
            payload = "".join(
                f"u{i % USERS},{i}\n" for i in range(K)
            ).encode()
            self.request.sendall(payload)
            hold.wait(timeout=90)  # keep the connection open until torn down

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Feed)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    q = None
    try:
        lines = (
            spark.readStream.format("socket")
            .option("host", "127.0.0.1")
            .option("port", srv.server_address[1])
            .load()
        )
        agg = (
            lines.select(F.split("value", ",").alias("kv"))
            .select(
                F.col("kv")[0].alias("user_id"),
                F.col("kv")[1].cast("long").alias("v"),
            )
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("socket_agg")
            .outputMode("complete")
            .start()
        )
        deadline = time.time() + 60
        total = 0
        while time.time() < deadline:
            q.processAllAvailable()
            total = (
                spark.sql("SELECT coalesce(sum(n), 0) AS t FROM socket_agg")
                .collect()[0]["t"]
            )
            if total == K:
                break
            time.sleep(0.25)
        assert total == K, f"socket stream consumed {total}/{K} lines"
        rows = {
            r["user_id"]: (r["n"], r["s"])
            for r in spark.sql("SELECT * FROM socket_agg").collect()
        }
        # exact per-user invariants: K/USERS lines each, arithmetic sums
        expect = {
            f"u{u}": (
                K // USERS,
                sum(i for i in range(K) if i % USERS == u),
            )
            for u in range(USERS)
        }
        assert rows == expect
    finally:
        if q is not None:
            q.stop()
        hold.set()
        srv.shutdown()
        srv.server_close()


def test_final_batch_emits_only_where_eviction_finalizes_output(spark, sf_dir):
    # The watermark-only batch that ends a replay adds output only for an
    # append-mode aggregate, an outer join and a ...WithState operator;
    # every other plan runs its data batches alone.
    from pkg2_spark.streaming.harness import events_stream, final_batch_emits
    from pkg2_spark.streaming.stateful import user_running_counters

    ev = events_stream(spark, sf_dir)
    clicks = ev.select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    ).withWatermark("c_ts", "1 hour")
    buys = ev.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    ).withWatermark("p_ts", "1 hour")
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    by_type = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    windows = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert not final_batch_emits(clicks.join(buys, cond), "append")
    assert not final_batch_emits(ev.dropDuplicates(["event_id"]), "append")
    assert not final_batch_emits(by_type, "complete")
    assert not final_batch_emits(windows, "update")
    assert final_batch_emits(clicks.join(buys, cond, "left_outer"), "append")
    assert final_batch_emits(windows, "append")
    assert final_batch_emits(user_running_counters(ev), "update")


def test_replays_skip_only_the_final_batch_that_cannot_emit(spark, sf_dir):
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from pkg2_spark.registry import all_queries

    # input rows per micro-batch, keyed by (query id, harness name without
    # its unique suffix); ids of the queries whose termination arrived
    rows, done = {}, set()

    class Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rows.setdefault((str(p.id), p.name.rsplit("_", 1)[0]), []).append(
                p.numInputRows
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.add(str(event.id))

    queries = all_queries()
    names = ("q_stream_rt_join", "q_stream_rt_join_left", "q_stream_late_drop")
    listener = Batches()
    spark.streams.addListener(listener)
    try:
        for name in names:
            queries[name](spark, sf_dir).collect()
        # listener events arrive asynchronously; a query's progress events
        # all precede its termination event
        deadline = time.time() + 60
        while sum(i in done for i, _ in list(rows)) < len(names) and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    got = {name: n for (i, name), n in rows.items() if i in done}
    # the inner join emits every pair in its one data batch
    assert len(got["rt_join"]) == 1 and got["rt_join"][0] > 0
    # the left join's null rows flush in the watermark-only batch
    assert len(got["rt_join_left"]) == 2 and got["rt_join_left"][-1] == 0
    # one batch per staged file; the late file's batch closes the windows
    assert len(got["late_drop"]) == 3 and min(got["late_drop"]) > 0


def test_concurrent_replays_match_sequential_ones(spark, sf_dir):
    # Two threads start replays on the shared session while the other's
    # query runs: each must see its own state width and no-data flag.
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from pkg2_spark.registry import all_queries

    queries = all_queries()
    names = ["q_stream_rt_join", "q_stream_rt_join_left"]

    def run(name):
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
        return sorted(map(tuple, queries[name](spark, sf_dir).collect()))

    want = {name: run(name) for name in names}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        with ThreadPoolExecutor(2) as pool:
            runs = [(name, pool.submit(run, name)) for name in names * 3]
            got = [(name, fut.result(timeout=300)) for name, fut in runs]
    finally:
        sys.setswitchinterval(interval)
    assert all(rows == want[name] for name, rows in got)


def test_replay_leaves_session_settings_and_views_as_it_found_them(spark, sf_dir):
    # The harness switches the state width and the no-data flag only across
    # start(), and drops each memory sink's temp view once its frame is
    # built, so the session's settings and temp-view count stay flat.
    from pkg2_spark.registry import all_queries

    queries = all_queries()
    keys = ("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")
    old_parts = spark.conf.get(keys[0])

    def temp_views():
        return sum(1 for t in spark.catalog.listTables() if t.isTemporary)

    queries["q_stream_rt_tumble"](spark, sf_dir).collect()
    views = temp_views()
    spark.conf.set(keys[0], "5")  # differs from the harness's state width
    try:
        before = {k: spark.conf.get(k, None) for k in keys}
        for _ in range(5):
            for name in ("q_stream_rt_tumble", "q_stream_rt_join"):
                assert queries[name](spark, sf_dir).count() > 0
        assert {k: spark.conf.get(k, None) for k in keys} == before
    finally:
        spark.conf.set(keys[0], old_parts)
    assert temp_views() == views
