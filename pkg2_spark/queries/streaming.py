"""SURVEY.md §2.10 — streaming-shaped queries over the events table.

Window semantics are pure functions of the event timestamp, so every query
here is batch-checkable against DuckDB; q_stream_rt_tumble additionally runs
through REAL Structured Streaming (readStream → window agg → memory sink)
and must produce the batch answer — the batch/stream parity contract.

Scale posture: tumbling/sliding aggs shuffle once on (window, key); session
windows shuffle on user_id with per-key ordered state — exactly the shapes
Structured Streaming incrementalizes with the state store at scale.
Determinism: window bounds emitted as unix_micros, never strings (§2.13.2);
value rollups sum floor-e2 BIGINTs (per-row IEEE multiply + floor, exact
integer sum — the q_sql_tpch_q1 discipline), never round(sum(double)) whose
last digit is summation-order-dependent across engine partitionings.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from pkg2_spark.catalog import load_tables
from pkg2_spark.registry import query

#: floor-e2 integer sum of a 2dp value column — Spark side of the shared
#: determinism discipline (mirrors `CAST(sum(CAST(floor(c*100) AS BIGINT))
#: AS BIGINT)` in every oracle below).
def _sum_e2(col: str = "value", alias: str = "sum_value_e2") -> F.Column:
    return F.sum(F.floor(F.col(col) * 100).cast("long")).alias(alias)


_SUM_E2_SQL = "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2"

_TUMBLE_ORACLE = f"""
SELECT epoch_us(date_trunc('hour', ts)) AS win_us,
       event_type,
       count(*) AS n,
       {_SUM_E2_SQL}
FROM events
GROUP BY 1, 2
"""


@query("q_stream_tumble", oracle=_TUMBLE_ORACLE)
def q_stream_tumble(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
        .select(
            F.unix_micros(F.col("w.start")).alias("win_us"),
            "event_type",
            "n",
            "sum_value_e2",
        )
    )


@query("q_stream_rt_tumble", oracle=_TUMBLE_ORACLE)
def q_stream_rt_tumble(spark, sf_dir):
    """The same tumbling aggregation through REAL Structured Streaming:
    readStream file source → window agg → complete-mode memory sink
    (availableNow). Must equal the batch/DuckDB answer exactly."""
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
        .select(
            F.unix_micros(F.col("w.start")).alias("win_us"),
            "event_type",
            "n",
            "sum_value_e2",
        )
    )
    return run_to_memory(agg, "rt_tumble")


_SLIDE_ORACLE = """
WITH b AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS tb, value FROM events
),
w AS (
  SELECT unnest([tb, tb - INTERVAL 5 MINUTE]) AS win_start, value FROM b
)
SELECT epoch_us(win_start) AS win_us, count(*) AS n, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM w GROUP BY 1
"""


@query("q_stream_slide", oracle=_SLIDE_ORACLE)
def q_stream_slide(spark, sf_dir):
    # 10-minute windows sliding every 5 — each event lands in exactly two
    # windows; the oracle materializes the same two bucket starts per event.
    e = load_tables(spark, sf_dir)["events"]
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
        .select(F.unix_micros(F.col("w.start")).alias("win_us"), "n", "sum_value_e2")
    )


@query(
    "q_stream_session",
    oracle="""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS LAST)
),
i AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS LAST
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM o
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM i GROUP BY user_id, island
""",
)
def q_stream_session(spark, sf_dir):
    # session_window(gap=30min) per user; the oracle reproduces the gaps-and-
    # islands semantics (session end = last event + gap, Spark's definition).
    e = load_tables(spark, sf_dir)["events"]
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _sum_e2())
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "sum_value_e2",
        )
    )


@query(
    "q_stream_dedup",
    oracle="""
SELECT event_type, count(*) AS n, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
)
def q_stream_dedup(spark, sf_dir):
    # Inject duplicates (every 10th event twice), dedup by event_id, verify
    # the original table comes back. Duplicate rows are bit-identical, so
    # dropDuplicates' arbitrary pick is still deterministic.
    e = load_tables(spark, sf_dir)["events"]
    dups = e.filter(F.col("event_id") % 10 == 0)
    return (
        e.unionAll(dups)
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "q_stream_stateful",
    oracle="""
SELECT user_id, count(*) AS n_events, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_value_e2
FROM events
WHERE user_id < 100
GROUP BY user_id
""",
)
def q_stream_stateful(spark, sf_dir):
    # Custom stateful operator (streaming/stateful.py) through REAL
    # Structured Streaming: applyInPandasWithState keeps per-user running
    # totals in the state store. availableNow replay touches every event
    # exactly once, so the final emitted totals equal the batch GROUP BY —
    # exact oracle check through the stateful execution path.
    from pkg2_spark.streaming.harness import events_stream, run_to_memory
    from pkg2_spark.streaming.stateful import user_running_counters

    stream = events_stream(spark, sf_dir).filter(F.col("user_id") < 100)
    out = run_to_memory(user_running_counters(stream), "stateful", mode="update")
    return out


@query(
    "q_stream_rt_session",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS LAST)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS LAST) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE user_id < 40
),
islands AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS LAST
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, epoch_us(min(ts)) AS session_start_us,
       count(*) AS n_events, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM islands GROUP BY user_id, sid
""",
)
def q_stream_rt_session(spark, sf_dir):
    # session_window through REAL Structured Streaming: per-user 30-minute
    # gap sessions are merged in the state store; availableNow replay of a
    # static file closes every session, so the result equals the batch
    # gaps-and-islands oracle. (Streaming session_window requires
    # watermark + update/complete mode; complete needs an aggregation.)
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    stream = events_stream(spark, sf_dir).filter(F.col("user_id") < 40)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _sum_e2())
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value_e2",
        )
    )
    return run_to_memory(agg, "rt_session", mode="complete")


@query("q_stream_rt_slide", oracle=_SLIDE_ORACLE)
def q_stream_rt_slide(spark, sf_dir):
    # Sliding windows through REAL Structured Streaming — every event lands
    # in two open windows in the state store; availableNow closes them all,
    # so the result equals the batch/DuckDB answer.
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
        .select(F.unix_micros(F.col("w.start")).alias("win_us"), "n", "sum_value_e2")
    )
    return run_to_memory(agg, "rt_slide")


@query(
    "q_stream_rt_join",
    oracle="""
WITH pairs AS (
  SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value AS p_value
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
)
SELECT user_id,
       count(*) AS n_pairs,
       CAST(sum(CAST(floor(p_value * 100) AS BIGINT)) AS BIGINT)
         AS sum_purchase_value_e2,
       CAST(min(epoch_us(p_ts) - epoch_us(c_ts)) AS BIGINT) AS min_gap_us
FROM pairs GROUP BY user_id
""",
)
def q_stream_rt_join(spark, sf_dir):
    """STREAM-STREAM interval join through real Structured Streaming:
    click→purchase attribution (purchases joined to same-user clicks in the
    preceding 30 minutes), both sides watermarked, append mode.

    The state-store shape at scale: both streams shuffle on user_id, each
    side buffers only rows younger than watermark + interval, and the join
    emits as soon as matches land — the canonical funnel/attribution
    topology. availableNow replay of the static file closes all state, so
    the emitted pair set equals the batch interval join; the oracle checks
    the per-user rollup of exactly those pairs."""
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    buys = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    pairs = run_to_memory(
        joined.select("c_user", "c_ts", "p_ts", "p_value"), "rt_join", mode="append"
    )
    # Purchase value summed as floor-e2 integers (the Q10 discipline): a
    # round(sum(double), 2) over the pair multiset can flip on a cent
    # boundary with summation order between engine partitionings.
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.floor(F.col("p_value") * 100).cast("long"))
        .cast("long")
        .alias("sum_purchase_value_e2"),
        F.min(F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("min_gap_us"),
    )


@query(
    "q_stream_rt_dedup",
    oracle="""
SELECT event_type, count(*) AS n, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
)
def q_stream_rt_dedup(spark, sf_dir):
    # Streaming dropDuplicates: exactly-once per event_id through the keyed
    # state store (the dedup path for at-least-once sources). Streaming
    # forbids count(DISTINCT), so the stateful dedup streams to the sink in
    # append mode and the (batch) aggregate runs on the materialized result
    # — equal to the batch answer on the static file.
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    stream = events_stream(spark, sf_dir).dropDuplicates(["event_id"])
    deduped = run_to_memory(
        stream.select("event_id", "event_type", "user_id"), "rt_dedup", mode="append"
    )
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_stream_state_read",
    oracle="""
SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_state_keys,
       CAST(min(event_id) AS BIGINT) AS min_key,
       CAST(max(event_id) AS BIGINT) AS max_key
FROM events
""",
)
def q_stream_state_read(spark, sf_dir):
    """State-store OBSERVABILITY — Spark 4's State Data Source reads a
    streaming checkpoint's state back as a DataFrame, the tool an
    operator reaches for when a production job's state grows, skews, or
    goes stale (which keys? how many per partition? buffered since
    when?). The fixture replays a keyed stateful query (unwatermarked
    dropDuplicates on event_id — state retains EVERY key, so its content
    is exactly the distinct-key set, deterministically) to a kept
    checkpoint, then ``spark.read.format("statestore")`` aggregates the
    state rows: the key census must equal the batch DISTINCT over the
    same file. The companion ``state-metadata`` format (operator name,
    store partition count, batch range) is pinned by
    tests/test_streaming.py.

    Scale shape: the replay is the normal dedup topology (one shuffle on
    the key into min(8, cores) state partitions); the state read is a
    partitioned batch scan of the store files (one task per state
    partition at cluster scale — never a driver-side walk) feeding a
    1-row agg.
    Production caveat in the dedup itself: unwatermarked dedup state
    grows with distinct keys by design; the production form bounds it
    with dropDuplicatesWithinWatermark (q_stream_late shows the
    watermark discipline) — the READER is what this operator exists to
    exercise."""
    from pkg2_spark.streaming.harness import events_stream, replay_to_checkpoint

    name = "state_read_" + os.path.basename(os.path.normpath(sf_dir))
    ckpt = replay_to_checkpoint(
        events_stream(spark, sf_dir).dropDuplicates(["event_id"]).select("event_id"),
        name,
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.agg(
        F.count(F.lit(1)).cast("long").alias("n_state_keys"),
        F.min(F.col("key.event_id")).cast("long").alias("min_key"),
        F.max(F.col("key.event_id")).cast("long").alias("max_key"),
    )


@query(
    "q_stream_rt_enrich",
    oracle="""
SELECT c.c_mktsegment AS segment, count(*) AS n, CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)
def q_stream_rt_enrich(spark, sf_dir):
    # STREAM-STATIC join through real Structured Streaming: each micro-batch
    # of the event stream is enriched against the (static, broadcastable)
    # customer dimension, then aggregated per segment. This is the lookup-
    # enrichment topology every streaming pipeline runs — the static side is
    # planned as a broadcast per micro-batch, so the stream never shuffles
    # for the join, only for the windowless global aggregate that follows.
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    dims = load_tables(spark, sf_dir)["customer"].select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    stream = events_stream(spark, sf_dir)
    enriched = stream.join(F.broadcast(dims), "user_id")
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), _sum_e2()
    )
    return run_to_memory(agg, "rt_enrich")


@query(
    "q_stream_foreachbatch",
    oracle="""
SELECT event_type, count(*) AS n, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM events
GROUP BY event_type
""",
)
def q_stream_foreachbatch(spark, sf_dir):
    # foreachBatch — the production sink API: each micro-batch lands in a
    # batch_id-keyed partition directory of the parquet target, then the
    # materialized target is aggregated. foreachBatch itself is
    # at-least-once (a failure after a partial write replays the batch), so
    # the sink makes the write IDEMPOTENT: a completed batch_id=N partition
    # (_SUCCESS present) is skipped on replay, an incomplete one is
    # overwritten — that idempotence is what upgrades the checkpoint's
    # replay to exactly-once. availableNow replay of the static file then
    # lands every event exactly once: the target equals the source and the
    # rollup equals the batch answer. Fixture-cached per scale like the
    # other sinks.
    import shutil as _shutil

    from pkg2_spark.queries.relational import fixture_path, fixture_ready
    from pkg2_spark.streaming.harness import IO_DIR, events_stream, replay
    import os as _os
    import uuid as _uuid

    path = fixture_path("stream_feb", sf_dir)
    # Fixture readiness gates on a RUN-level marker written only after
    # awaitTermination — a prior run that crashed between micro-batches
    # leaves per-batch _SUCCESS files behind, and gating on batch 0's alone
    # would serve that permanently-incomplete target as a valid cache.
    if not fixture_ready(path, sf_dir, marker="_ALL_BATCHES"):
        _shutil.rmtree(path, ignore_errors=True)
        stream = events_stream(spark, sf_dir).select("event_id", "event_type", "value")

        def sink_batch(batch_df, batch_id):
            target = _os.path.join(path, f"batch_id={batch_id}")
            if _os.path.exists(_os.path.join(target, "_SUCCESS")):
                return  # replayed batch already fully landed: skip
            batch_df.write.mode("overwrite").parquet(target)

        ckpt = _os.path.join(IO_DIR, "checkpoints", f"feb_{_uuid.uuid4().hex[:8]}")
        replay(
            stream,
            lambda w: w.foreachBatch(sink_batch).option("checkpointLocation", ckpt),
        )
        _shutil.rmtree(ckpt, ignore_errors=True)
        with open(_os.path.join(path, "_ALL_BATCHES"), "w") as fh:
            fh.write("complete\n")
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), _sum_e2()
    )


@query("q_stream_rt_multibatch", oracle=_TUMBLE_ORACLE)
def q_stream_rt_multibatch(spark, sf_dir):
    # TRUE incremental replay: the events table is split into FOUR source
    # files and replayed with maxFilesPerTrigger=1, so the tumbling
    # aggregation runs as four successive micro-batches whose state carries
    # across batches in the state store — not a single-batch degenerate run.
    # The final complete-mode result must still equal the batch/DuckDB
    # answer, which is exactly the incremental-correctness contract
    # (windows receive rows from different batches and must merge partials).
    import os as _os

    import pyspark.sql.functions as _F

    from pkg2_spark.queries.relational import fixture_path, fixture_ready
    from pkg2_spark.session import ensure_runtime_confs
    from pkg2_spark.streaming.harness import run_to_memory

    ensure_runtime_confs(spark)
    src = fixture_path("stream_multisrc", sf_dir)
    if not fixture_ready(src, sf_dir):
        e = load_tables(spark, sf_dir)["events"]
        e.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if dtypes.get("ts") == "timestamp_ntz":
        from pyspark.sql.types import TimestampType as _TT

        stream = stream.withColumn("ts", _F.col("ts").cast(_TT()))
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
        .select(
            F.unix_micros(F.col("w.start")).alias("win_us"),
            "event_type",
            "n",
            "sum_value_e2",
        )
    )
    return run_to_memory(agg, "rt_multibatch")


@query(
    "q_stream_rt_join_left",
    oracle="""
WITH bound AS (
  SELECT max(ts) - INTERVAL 2 HOUR AS cutoff,
         (SELECT max(ts) FROM events WHERE event_type = 'click') AS max_click
  FROM events
),
pairs AS (
  SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts, p.value AS p_value
  FROM (SELECT * FROM events, bound
        WHERE event_type = 'click' AND ts <= cutoff AND ts < max_click) c
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
    ON c.user_id = p.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
)
SELECT user_id,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CAST(floor(coalesce(p_value, 0.0) * 100) AS BIGINT)) AS BIGINT)
         AS sum_matched_value_e2
FROM pairs GROUP BY user_id
""",
)
def q_stream_rt_join_left(spark, sf_dir):
    """STREAM-STREAM LEFT OUTER interval join through real Structured
    Streaming: clicks with no purchase in the following 30 minutes emit a
    NULL-padded row — but only once the watermark passes their join bound,
    so rows inside the final-watermark horizon would never flush on a
    finite replay. The query therefore bounds the left domain to clicks at
    least 2 hours (> watermark delay + join interval) before the stream's
    max timestamp — inside that domain the streaming answer is COMPLETE
    and equals the batch left join, which is exactly what the oracle
    checks (the same cutoff is a scalar subquery batch-side).

    State-store shape at scale: both sides shuffle on user_id; the left
    buffer holds only rows younger than watermark + interval; null
    emission is the state-eviction path — the funnel-with-dropoff
    topology (unconverted clicks are the interesting rows)."""
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    e = load_tables(spark, sf_dir)["events"]
    cutoff = e.agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("c")).first()["c"]
    # The globally-newest click is ALSO excluded: that single row is the one
    # feeding the clicks-side max event time, and (measured, sf0.001) it
    # strands in state on finite replay even when the global watermark has
    # passed its join bound. Both exclusions are batch-side scalars the
    # oracle mirrors exactly.
    max_click = (
        e.filter(F.col("event_type") == "click").agg(F.max("ts").alias("m")).first()["m"]
    )
    # withWatermark BEFORE the cutoff filter: the watermark operator must
    # observe the full event-time domain — filtering first would cap this
    # stream's max event time at the cutoff, dragging the GLOBAL watermark
    # (min across streams) down by the filtered span and stranding the
    # newest unmatched clicks in state forever (measured: one lost row per
    # user when the filter preceded the watermark).
    clicks = (
        events_stream(spark, sf_dir)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            "event_type",
        )
        .withWatermark("c_ts", "1 hour")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("c_ts") <= F.lit(cutoff))
            & (F.col("c_ts") < F.lit(max_click))
        )
        .drop("event_type")
    )
    # Same watermark-before-filter discipline on the purchase side: at
    # sparse scales the LAST purchase can sit hours before the last event,
    # and a post-filter watermark would cap this stream's max event time
    # there — the GLOBAL watermark is the min across streams, so the left
    # side's newest unmatched rows would strand exactly as above.
    buys = (
        events_stream(spark, sf_dir)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
            "event_type",
        )
        .withWatermark("p_ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    pairs = run_to_memory(
        joined.select("c_user", "c_ts", "p_ts", "p_value"), "rt_join_left", mode="append"
    )
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("p_ts").isNotNull().cast("long")).alias("n_matched"),
        F.sum(F.floor(F.coalesce("p_value", F.lit(0.0)) * 100).cast("long")).alias(
            "sum_matched_value_e2"
        ),
    )


@query(
    "q_stream_rt_score",
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
f AS (
  SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM b
)
SELECT e.event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM events e JOIN f ON e.event_type = f.event_type
GROUP BY e.event_type
""",
)
def q_stream_rt_score(spark, sf_dir):
    """Model-broadcast streaming scoring: fences FIT in batch (q_dq_anomaly's
    exact-percentile Tukey fences over the historical table), then applied
    to a REAL event stream — each micro-batch joins the tiny static fence
    table (broadcast, no stream shuffle for the join) and counts outliers
    per type. This is the fit-offline/score-online topology every streaming
    anomaly or model-scoring pipeline runs; swap the fence table for any
    broadcastable model artifact (thresholds, centroids, weights) and the
    plan shape is unchanged. The availableNow replay of the full table must
    reproduce the batch answer exactly — which is the check."""
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    hist = load_tables(spark, sf_dir)["events"]
    b = hist.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    fences = b.select(
        F.col("event_type").alias("et"),
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    stream = events_stream(spark, sf_dir)
    scored = stream.join(F.broadcast(fences), stream["event_type"] == F.col("et"))
    is_out = ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).cast(
        "long"
    )
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(is_out).alias("n_outliers"),
    )
    return run_to_memory(agg, "rt_score")


@query(
    "q_stream_ema",
    oracle="""
WITH RECURSIVE ev AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CAST(floor(value * 100) AS BIGINT) AS v_e2
  FROM events
),
ema AS (
  SELECT user_id, rn, v_e2 AS ema_e2 FROM ev WHERE rn = 1
  UNION ALL
  SELECT ev.user_id, ev.rn, (ev.v_e2 + ema.ema_e2) // 2
  FROM ev JOIN ema ON ev.user_id = ema.user_id AND ev.rn = ema.rn + 1
),
last_rn AS (SELECT user_id, max(rn) AS n_events FROM ema GROUP BY user_id)
SELECT e.user_id, CAST(l.n_events AS BIGINT) AS n_events,
       CAST(e.ema_e2 AS BIGINT) AS ema_e2
FROM ema e JOIN last_rn l ON e.user_id = l.user_id AND e.rn = l.n_events
""",
)
def q_stream_ema(spark, sf_dir):
    # q_ts_ema's ORDER-SENSITIVE recurrence through REAL Structured
    # Streaming state: applyInPandasWithState carries (n, ema) per user in
    # the state store, each batch folds its rows in event-time order, and
    # the availableNow replay makes the final emission equal the batch
    # operator's — the same recursive-CTE oracle checks BOTH, which is the
    # batch/stream parity proof for stateful order-dependent operators
    # (q_stream_stateful proves the commutative-fold case; this proves the
    # sequential one).
    from pkg2_spark.streaming.harness import events_stream, run_to_memory
    from pkg2_spark.streaming.stateful import user_running_ema

    stream = events_stream(spark, sf_dir)
    return run_to_memory(user_running_ema(stream), "stream_ema", mode="update")


from pkg2_spark.operators.hashing import v32_spark as _hll_v32_spark  # noqa: E402
from pkg2_spark.operators.hashing import v32_sql as _hll_v32_sql  # noqa: E402
from pkg2_spark.queries.sketches import _HLL_M, _HLL_NUMER  # noqa: E402


@query(
    "q_stream_hll",
    oracle=f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ({_hll_v32_sql("md5(CAST(user_id AS VARCHAR))")}) AS v32
  FROM events
),
reg AS (
  SELECT event_type, v32 % {_HLL_M} AS bucket,
         max(CASE WHEN v32 // {_HLL_M} = 0 THEN 25
             ELSE 25 - length(bin(v32 // {_HLL_M})) END) AS m_j
  FROM h GROUP BY event_type, v32 % {_HLL_M}
),
s AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << (25 - m_j))
              + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 25)
              AS BIGINT) AS harm
  FROM reg GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST({_HLL_NUMER} // s.harm // 1000000 AS BIGINT) AS hll_est
FROM exact e JOIN s ON e.event_type = s.event_type
""",
)
def q_stream_hll(spark, sf_dir):
    """Distinct-users-per-event-type HLL maintained by REAL Structured
    Streaming: the register build (groupBy(type, bucket).max(rho)) runs as
    a streaming aggregation over the replayed event stream — max is
    commutative and idempotent, so micro-batch merge through the state
    store lands on the IDENTICAL registers the batch/DuckDB formulation
    computes, duplicates and batch boundaries notwithstanding. That is the
    sketch-mergeability property (q_sketch_hll documents it; this query
    PROVES it through the streaming engine), and it is the always-on
    "distinct users right now" counter: O(types × 256) state forever, no
    watermark needed because registers never retract. The estimator
    finalization runs batch-side over the materialized registers; the
    exact batch count rides alongside as the audit column. (This domain's
    cardinality sits in HLL's small-range regime at tiny SFs — the
    accuracy CONTRACT lives with q_sketch_hll on the high-cardinality
    domain; here both engines evaluate the same raw estimator, so the
    hash-match is exact regardless.)"""
    from pkg2_spark.streaming.harness import events_stream, run_to_memory

    stream = events_stream(spark, sf_dir)
    reg_stream = (
        stream.select(
            "event_type",
            F.expr(_hll_v32_spark("md5(CAST(user_id AS STRING))")).alias("v32"),
        )
        .select(
            "event_type",
            (F.col("v32") % _HLL_M).alias("bucket"),
            F.expr(
                f"CASE WHEN v32 DIV {_HLL_M} = 0 THEN 25 "
                f"ELSE 25 - length(bin(v32 DIV {_HLL_M})) END"
            ).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    regs = run_to_memory(reg_stream, "stream_hll")
    s = regs.groupBy("event_type").agg(
        F.expr(
            f"CAST(sum(CAST(1 AS BIGINT) << (25 - m_j))"
            f" + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 25) AS BIGINT)"
        ).alias("harm")
    )
    exact = load_tables(spark, sf_dir)["events"].groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(s, "event_type").select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.expr(f"{_HLL_NUMER} DIV harm DIV 1000000").cast("long").alias("hll_est"),
    )


def _stream_dedup_oracle() -> str:
    from pkg2_spark.operators.lsh import capped_bands_sql
    from pkg2_spark.queries.llm import _BANDS_R, _BUCKET_CAP, _K, _TOK_SQL

    mh = ", ".join(f"min(md5(token || ':{i}')) AS mh{i}" for i in range(_K))
    band_exprs = ", ".join(
        "md5({})".format(
            " || '|' || ".join(f"mh{b * _BANDS_R + r}" for r in range(_BANDS_R))
        )
        for b in range(_K // _BANDS_R)
    )
    unnest_bands = (
        "SELECT doc_id, u.band_id, u.band_key FROM ("
        f"SELECT doc_id, unnest(list_transform([{band_exprs}], "
        "(x, i) -> struct_pack(band_id := CAST(i - 1 AS INTEGER), band_key := x))) AS u "
        "FROM {sig})"
    )
    return f"""
ctok AS (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS token
  FROM documents WHERE doc_id % 10 <> 0
),
csig AS (SELECT doc_id, {mh} FROM ctok GROUP BY doc_id),
cbraw AS ({unnest_bands.format(sig="csig")}),
{capped_bands_sql("doc_id", _BUCKET_CAP, source="cbraw")},
dtok AS (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS token
  FROM documents WHERE doc_id % 10 = 0
),
dsig AS (SELECT doc_id, {mh} FROM dtok GROUP BY doc_id),
dbands AS ({unnest_bands.format(sig="dsig")}),
sd_pairs AS (
  SELECT DISTINCT d.doc_id AS delta_doc, c.doc_id AS corpus_doc
  FROM dbands d JOIN cbands c USING (band_id, band_key)
)
SELECT delta_doc, count(*) AS n_candidates,
       min(corpus_doc) AS min_cand, max(corpus_doc) AS max_cand
FROM sd_pairs GROUP BY delta_doc
"""


@query(
    "q_stream_dedup_index",
    oracle=f"WITH {_stream_dedup_oracle().strip()}",
)
def q_stream_dedup_index(spark, sf_dir):
    """ONLINE near-dup screening through real Structured Streaming — the
    production ingest gate: new documents arrive as a STREAM and are
    checked against a PERSISTED corpus band index by a stateless
    stream-static equi-join (no watermark, no state store — the static
    side is the state). q_llm_dedup_incr is the batch-shard twin; this is
    the per-document-latency arm of the same index.

    Stream-side MinHash is computed ROW-LOCALLY (array_min over the
    hashed token array — values identical to the batch groupBy MinHash,
    since min over duplicates equals min over distinct), so the stream
    pipeline is a pure per-row projection into the join: at scale this
    runs at ingest speed, partitioned by band key, with the corpus index
    broadcast or co-partitioned as size dictates. The static index is
    bucket-capped exactly like every batch pair join (hot boilerplate
    buckets bound the per-document fan-out); the oracle recomputes both
    sides in SQL and the availableNow replay must land on the identical
    candidate rollup."""
    import os

    from pkg2_spark.operators.lsh import cap_band_buckets
    from pkg2_spark.operators.text import (
        lsh_bands,
        minhash_signatures,
        tokenize_distinct,
    )
    from pkg2_spark.queries.llm import _BANDS_R, _BUCKET_CAP, _K
    from pkg2_spark.queries.relational import fixture_path, fixture_ready
    from pkg2_spark.streaming.harness import run_to_memory

    d = load_tables(spark, sf_dir)["documents"]
    state = fixture_path("stream_dedup_index", sf_dir)
    idx_p = os.path.join(state, "index")
    delta_p = os.path.join(state, "delta")
    if not fixture_ready(delta_p, sf_dir):
        import shutil

        shutil.rmtree(state, ignore_errors=True)
        corpus = d.filter(F.col("doc_id") % 10 != 0)
        bands_c = cap_band_buckets(
            lsh_bands(minhash_signatures(tokenize_distinct(corpus), _K), _K, _BANDS_R),
            "doc_id",
            _BUCKET_CAP,
        )
        bands_c.write.parquet(idx_p)
        d.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text").write.parquet(
            delta_p
        )

    idx = spark.read.parquet(idx_p).select(
        F.col("doc_id").alias("corpus_doc"), "band_id", "band_key"
    )
    schema = spark.read.parquet(delta_p).schema
    stream = spark.readStream.schema(schema).parquet(delta_p)
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")

    def _mh(i: int):
        # One-ARG lambda only: F.transform dispatches on lambda arity, and
        # a second parameter (even defaulted) makes it the element-INDEX
        # column — which silently corrupted the hash suffix here once.
        suffix = F.lit(f":{i}")
        return F.array_min(
            F.transform(toks, lambda t: F.md5(F.concat(t, suffix)))
        )

    mhs = [_mh(i) for i in range(_K)]
    band_keys = [
        F.md5(F.concat_ws("|", *[mhs[b * _BANDS_R + r] for r in range(_BANDS_R)]))
        for b in range(_K // _BANDS_R)
    ]
    sbands = stream.filter(F.size(toks) > 0).select(
        F.col("doc_id").alias("delta_doc"),
        F.posexplode(F.array(*band_keys)).alias("band_id", "band_key"),
    )
    joined = sbands.join(idx, ["band_id", "band_key"])
    pairs = run_to_memory(
        joined.select("delta_doc", "corpus_doc"), "dedup_idx", mode="append"
    )
    return (
        pairs.distinct()
        .groupBy("delta_doc")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.min("corpus_doc").alias("min_cand"),
            F.max("corpus_doc").alias("max_cand"),
        )
    )


# Late-data cut for q_stream_late_drop: rows this far below the batch-2
# horizon are replayed AFTER the watermark has passed them. 2024-01-20 is
# the on-time/late staging cut; late rows sit ≥ 3 days below it, and the
# final watermark (global max ts − 1 h) sits ≥ 10 days above it at every
# scale (events span all of Jan 2024), so every comparison clears the
# strict-vs-nonstrict boundary by hours — no tie can flip the result.
_LATE_CUT = "2024-01-20 00:00:00"
_LATE_OLD = "2024-01-17 00:00:00"


@query(
    "q_stream_late_drop",
    oracle=f"""
WITH kept AS (
  SELECT * FROM events
  WHERE NOT (ts < TIMESTAMP '{_LATE_OLD}' AND event_id % 7 = 0)
),
wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT epoch_us(date_trunc('hour', ts)) AS win_us,
       count(*) AS n,
       {_SUM_E2_SQL}
FROM kept, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1
""",
)
def q_stream_late_drop(spark, sf_dir):
    """Watermark LATE-DATA ACCOUNTING through real Structured Streaming —
    the semantics every other replay here deliberately avoids (complete
    mode never drops): a 3-batch append-mode replay where batch 0 is the
    pre-cut on-time data, batch 1 advances the watermark to (global max
    − 1 h), and batch 2 RE-DELIVERS a held-back subset of rows ≥ 3 days
    older than the cut. Every batch-2 row's window closed hours below
    the watermark, so the state store must drop them all; the emitted
    append-mode result is exactly (a) the on-time rows' hourly windows,
    (b) only those windows finalized below the final watermark. The
    oracle computes both conditions relationally — a single late row
    surviving, or one unfinalized window leaking, hash-mismatches.

    Batch order is pinned by file modification times (the file source
    processes oldest-first); the fixture stages one parquet file per
    batch, and every call stamps them with strictly increasing mtimes.

    Scale: state is bounded by the watermark horizon (windows above
    wm−1h), never by history — the property this query certifies; the
    drop itself is a row-local filter against the broadcast watermark."""
    import os as _os
    import shutil as _shutil

    from pkg2_spark.queries.relational import fixture_path, fixture_ready
    from pkg2_spark.session import ensure_runtime_confs
    from pkg2_spark.streaming.harness import run_to_memory

    ensure_runtime_confs(spark)
    src = fixture_path("stream_late_src", sf_dir)
    if not fixture_ready(src, sf_dir, marker="_STAGED"):
        _shutil.rmtree(src, ignore_errors=True)
        _os.makedirs(src, exist_ok=True)
        e = load_tables(spark, sf_dir)["events"]
        is_late = (F.col("ts") < F.lit(_LATE_OLD).cast("timestamp")) & (
            F.col("event_id") % 7 == 0
        )
        cut = F.col("ts") < F.lit(_LATE_CUT).cast("timestamp")
        batches = [
            e.filter(~is_late & cut),       # b0: on-time, pre-cut
            e.filter(~is_late & ~cut),      # b1: on-time, advances wm
            e.filter(is_late),              # b2: late replay, all dropped
        ]
        for i, b in enumerate(batches):
            tmp = _os.path.join(src, f"_tmp{i}")
            b.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in _os.listdir(tmp) if f.endswith(".parquet")][0]
            dst = _os.path.join(src, f"b{i}.parquet")
            _os.replace(_os.path.join(tmp, part), dst)
            _shutil.rmtree(tmp)
        with open(_os.path.join(src, "_STAGED"), "w") as fh:
            fh.write("ok\n")
    # Stamped on every call, not only when staging: a fixture copied
    # without its mtimes keeps the marker but would replay out of order.
    for i in range(3):
        stamp = 1000 * (i + 1)
        _os.utime(_os.path.join(src, f"b{i}.parquet"), (stamp, stamp))
    schema = spark.read.parquet(_os.path.join(src, "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if dict((f.name, f.dataType.simpleString()) for f in schema.fields).get(
        "ts"
    ) == "timestamp_ntz":
        from pyspark.sql.types import TimestampType as _TT

        stream = stream.withColumn("ts", F.col("ts").cast(_TT()))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
        .select(F.unix_micros(F.col("w.start")).alias("win_us"), "n", "sum_value_e2")
    )
    return run_to_memory(agg, "late_drop", mode="append")


@query("q_stream_rt_update", oracle=_TUMBLE_ORACLE)
def q_stream_rt_update(spark, sf_dir):
    """outputMode("update") — the third emission mode (complete and
    append are covered above): the 4-file tumbling replay emits, per
    micro-batch, ONLY the (window, type) groups that batch touched, into
    a batch_id-keyed foreachBatch ledger. Because streaming state is
    cumulative, the LAST emission for a key reflects every row ever seen
    for it — so taking each key's highest-batch row must reproduce the
    batch/DuckDB answer exactly, independent of how rows landed in
    files. A key emitted in several batches also certifies update mode
    re-emits on change (complete-mode rows would all land in the final
    batch instead).

    Scale: update mode is what a key-value serving sink consumes — per
    batch it writes O(touched keys), not O(all keys) like complete; the
    ledger argmax is one window over (key, batch_id)."""
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from pyspark.sql import Window as _W

    from pkg2_spark.queries.relational import IO_DIR, fixture_path, fixture_ready
    from pkg2_spark.session import ensure_runtime_confs
    from pkg2_spark.streaming.harness import replay

    ensure_runtime_confs(spark)
    src = fixture_path("stream_multisrc", sf_dir)
    if not fixture_ready(src, sf_dir):
        e = load_tables(spark, sf_dir)["events"]
        e.repartition(4).write.mode("overwrite").parquet(src)
    path = fixture_path("stream_update_ledger", sf_dir)
    if not fixture_ready(path, sf_dir, marker="_ALL_BATCHES"):
        _shutil.rmtree(path, ignore_errors=True)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        if {f.name: f.dataType.simpleString() for f in schema.fields}.get(
            "ts"
        ) == "timestamp_ntz":
            from pyspark.sql.types import TimestampType as _TT

            stream = stream.withColumn("ts", F.col("ts").cast(_TT()))
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
            .select(
                F.unix_micros(F.col("w.start")).alias("win_us"),
                "event_type",
                "n",
                "sum_value_e2",
            )
        )

        def sink_batch(batch_df, batch_id):
            target = _os.path.join(path, f"batch_id={batch_id}")
            if _os.path.exists(_os.path.join(target, "_SUCCESS")):
                return
            batch_df.write.mode("overwrite").parquet(target)

        ckpt = _os.path.join(IO_DIR, "checkpoints", f"upd_{_uuid.uuid4().hex[:8]}")
        replay(
            agg,
            lambda w: w.foreachBatch(sink_batch).option("checkpointLocation", ckpt),
            mode="update",
        )
        _shutil.rmtree(ckpt, ignore_errors=True)
        with open(_os.path.join(path, "_ALL_BATCHES"), "w") as fh:
            fh.write("complete\n")
    ledger = spark.read.option("basePath", path).parquet(path)
    w = _W.partitionBy("win_us", "event_type").orderBy(F.col("batch_id").desc())
    return (
        ledger.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("win_us", "event_type", "n", "sum_value_e2")
    )


@query("q_stream_union", oracle=_TUMBLE_ORACLE)
def q_stream_union(spark, sf_dir):
    """UNION of two live streams — the multi-source topology (e.g. two
    regional event feeds merging into one rollup): the events table is
    staged into two disjoint file sources split by event_id parity, each
    read by its own readStream, unioned BEFORE the tumbling aggregation;
    the complete-mode replay must equal the single-source batch answer
    (rows from both streams merge into shared windows in one state
    store).

    Scale: a streaming union is plan-level interleaving (no extra
    shuffle); the aggregation still shuffles once on (window, type);
    each source scales its own file discovery independently."""
    import os as _os

    from pkg2_spark.queries.relational import fixture_path, fixture_ready
    from pkg2_spark.session import ensure_runtime_confs
    from pkg2_spark.streaming.harness import run_to_memory

    ensure_runtime_confs(spark)
    e = load_tables(spark, sf_dir)["events"]
    halves = []
    for par in (0, 1):
        src = fixture_path(f"stream_union_{par}", sf_dir)
        if not fixture_ready(src, sf_dir):
            e.filter(F.col("event_id") % 2 == par).write.mode(
                "overwrite"
            ).parquet(src)
        halves.append(src)
    schema = spark.read.parquet(halves[0]).schema
    ntz = {f.name: f.dataType.simpleString() for f in schema.fields}.get(
        "ts"
    ) == "timestamp_ntz"
    streams = []
    for src in halves:
        s = spark.readStream.schema(schema).parquet(src)
        if ntz:
            from pyspark.sql.types import TimestampType as _TT

            s = s.withColumn("ts", F.col("ts").cast(_TT()))
        streams.append(s)
    both = streams[0].unionByName(streams[1])
    agg = (
        both.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _sum_e2())
        .select(
            F.unix_micros(F.col("w.start")).alias("win_us"),
            "event_type",
            "n",
            "sum_value_e2",
        )
    )
    return run_to_memory(agg, "stream_union")
