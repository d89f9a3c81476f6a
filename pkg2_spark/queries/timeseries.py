"""Time-series reshaping: pivot / unpivot / gap-fill (hypertable-rollup
style operations over the events table).

Scale notes: pivot is a single hash aggregate with a CASE per pivot value
(bounded, declared value list — never `pivot()` without values at scale,
which triggers a distinct-scan planning query); unpivot is a generator
expression (rows × measures, no shuffle); gap-fill joins a generated time
spine (tiny — hours × categories) against the aggregated facts and
forward-fills with an ignore-nulls window, one shuffle on the category key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pkg2_spark.catalog import load_tables
from pkg2_spark.registry import query
from pkg2_spark.session import local_rows_df


@query(
    "q_agg_pivot",
    oracle="""
SELECT o_orderpriority,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_price_e2,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_price_e2,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_price_e2
FROM orders
GROUP BY o_orderpriority
""",
)
def q_agg_pivot(spark, sf_dir):
    # Pivot with a DECLARED value list — one hash aggregate, no pre-scan for
    # distinct pivot values (the scale trap of pivot(col) without values).
    # Cell sums follow the floor-e2 integer discipline (see aggregates.py).
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")))
        .withColumnsRenamed({"F": "f_price_e2", "O": "o_price_e2", "P": "p_price_e2"})
    )


@query(
    "q_agg_unpivot",
    oracle="""
SELECT c_custkey, 'acctbal' AS metric, round(c_acctbal, 2) AS val
FROM customer WHERE c_custkey < 100
UNION ALL
SELECT c_custkey, 'nationkey' AS metric, round(CAST(c_nationkey AS DOUBLE), 2) AS val
FROM customer WHERE c_custkey < 100
""",
)
def q_agg_unpivot(spark, sf_dir):
    # unpivot/melt: wide measures -> (id, metric, value) long form — the
    # reshape feeding per-metric pipelines; generator expression, no shuffle.
    c = load_tables(spark, sf_dir)["customer"]
    pre = c.filter(F.col("c_custkey") < 100).select(
        "c_custkey",
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        F.round(F.col("c_nationkey").cast("double"), 2).alias("nationkey"),
    )
    return pre.unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q_ts_gapfill",
    oracle="""
WITH hours AS (
  SELECT unnest(generate_series((SELECT date_trunc('hour', min(ts)) FROM events),
                                (SELECT date_trunc('hour', max(ts)) FROM events),
                                INTERVAL 1 HOUR)) AS hour_ts
),
spine AS (
  SELECT h.hour_ts, et.event_type
  FROM hours h, (SELECT DISTINCT event_type FROM events) et
),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS n,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
  FROM events GROUP BY 1, 2
)
SELECT epoch_us(s.hour_ts) AS hour_us, s.event_type,
       coalesce(h.n, 0) AS n,
       last_value(h.sum_value_e2 IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hour_ts ASC NULLS LAST
         ROWS UNBOUNDED PRECEDING
       ) AS filled_value_e2
FROM spine s LEFT JOIN hourly h
  ON s.hour_ts = h.hour_ts AND s.event_type = h.event_type
""",
)
def q_ts_gapfill(spark, sf_dir):
    # Hypertable-style rollup with gap filling: a generated hourly spine ×
    # category, left-joined to the hourly aggregate, missing hours filled by
    # carrying the last observed value forward (ignore-nulls window). The
    # spine is tiny (hours × categories) and broadcast; the only real
    # shuffle is the hourly aggregate itself.
    e = load_tables(spark, sf_dir)["events"]
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_e2"),
        )
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    spine = (
        bounds.select(
            F.explode(F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))).alias("hour_ts")
        )
        .crossJoin(e.select("event_type").distinct())
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("hour_ts").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(hourly, ["hour_ts", "event_type"], "left")
    return joined.select(
        F.unix_micros("hour_ts").alias("hour_us"),
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("sum_value_e2", ignorenulls=True).over(w).alias("filled_value_e2"),
    )


@query(
    "q_dq_constraints",
    oracle="""
SELECT
  (SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
   WHERE o.o_orderkey IS NULL) AS n_orphan_lineitems,
  (SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
   WHERE c.c_custkey IS NULL) AS n_orphan_orders,
  (SELECT count(*) FROM lineitem WHERE l_quantity <= 0 OR l_extendedprice < 0
     OR l_discount < 0 OR l_discount > 1) AS n_bad_lineitem_values,
  (SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS n_null_orderkeys,
  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS n_dup_orderkeys
""",
)
def q_dq_constraints(spark, sf_dir):
    """Data-quality constraint sweep: referential integrity (orphan facts),
    value-domain bounds, null keys, and key uniqueness — the dbt-style
    contract checks a warehouse runs after every load. Each check is an
    anti-join or an aggregate on the key it validates; all five run
    key-partitioned at any volume, and the single summary row is the
    pass/fail artifact a pipeline gates on (all zeros on this dataset)."""
    t = load_tables(spark, sf_dir)
    l, o, c = t["lineitem"], t["orders"], t["customer"]
    orphan_l = l.join(o, l.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n_orphan_lineitems")
    )
    orphan_o = o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n_orphan_orders")
    )
    bad_vals = l.filter(
        (F.col("l_quantity") <= 0)
        | (F.col("l_extendedprice") < 0)
        | (F.col("l_discount") < 0)
        | (F.col("l_discount") > 1)
    ).agg(F.count(F.lit(1)).alias("n_bad_lineitem_values"))
    null_keys = o.filter(F.col("o_orderkey").isNull()).agg(
        F.count(F.lit(1)).alias("n_null_orderkeys")
    )
    dup_keys = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_dup_orderkeys")
    )
    return (
        orphan_l.crossJoin(orphan_o)
        .crossJoin(bad_vals)
        .crossJoin(null_keys)
        .crossJoin(dup_keys)
    )


@query(
    "q_ts_incremental",
    oracle="""
SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM events
GROUP BY 1, 2
""",
)
def q_ts_incremental(spark, sf_dir):
    """Incremental rollup maintenance: a daily aggregate snapshot built from
    the WATERMARK-OLD half of the data, then merged with the aggregate of
    only the NEW half (sum of partials, never a rescan of old rows) — the
    high-water-mark pattern that turns a daily 100 TB reload into
    delta-sized work. The oracle aggregates everything directly, so the
    merge must reproduce the full answer exactly: partial counts add, and
    partial floor-e2 integer sums regroup EXACTLY (integer addition is
    associative — the determinism discipline makes partial-aggregate
    merging trivially correct, same as q_sink_rollup)."""
    e = load_tables(spark, sf_dir)["events"]
    # deterministic high-water mark: half-way hour of the time range
    hwm = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    day = F.unix_micros(F.date_trunc("day", "ts")).alias("day_us")
    snapshot = (
        e.filter(F.col("ts") < hwm)
        .groupBy(day, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sv_e2"),
        )
    )
    delta = (
        e.filter(F.col("ts") >= hwm)
        .groupBy(day, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sv_e2"),
        )
    )
    return (
        snapshot.unionByName(delta)
        .groupBy("day_us", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sv_e2").alias("sum_value_e2"),
        )
    )


@query(
    "q_events_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.v_ts
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_click_after_view,
       (SELECT count(*) FROM p) AS n_purchase_after_click,
       round((SELECT count(*) FROM c) * 1.0 / (SELECT count(*) FROM v), 4) AS conv_view_click,
       round((SELECT count(*) FROM p) * 1.0 / (SELECT count(*) FROM c), 4) AS conv_click_purchase
""",
)
def q_events_funnel(spark, sf_dir):
    """Ordered funnel analysis: users who viewed, then clicked AFTER their
    first view, then purchased AFTER that click — strict event-order
    conversion, not mere co-occurrence. Three stages, each one groupBy +
    one user-keyed join: every shuffle is on user_id, so the funnel runs
    key-partitioned end to end at any event volume (the standard product
    analytics topology; q_stream_rt_join is its streaming sibling)."""
    e = load_tables(spark, sf_dir)["events"]
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_after_view"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_click_after_view",
            "n_purchase_after_click",
            F.round(F.col("n_click_after_view") / F.col("n_view"), 4).alias("conv_view_click"),
            F.round(
                F.col("n_purchase_after_click") / F.col("n_click_after_view"), 4
            ).alias("conv_click_purchase"),
        )
    )


@query(
    "q_sink_rollup",
    oracle="""
SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2
FROM events
GROUP BY 1, 2
""",
)
def q_sink_rollup(spark, sf_dir):
    # Materialized-rollup reuse: persist the HOURLY aggregate once, answer
    # the DAILY question from it (sum of partial sums + sum of counts) —
    # the OLAP pattern that turns a 100 TB fact scan into a rollup-table
    # scan for every coarser-grain query. Equality with the direct daily
    # aggregate is exactly what the oracle checks. Partial sums are stored
    # as floor-e2 BIGINTs, so regrouping at the coarser grain is EXACT
    # integer addition — rollup merging needs no rounding discipline at all.
    from pkg2_spark.queries.relational import fixture_path, fixture_ready

    e = load_tables(spark, sf_dir)["events"]
    # fixture name versioned (_e2) — the stored hourly schema changed when
    # the rollup adopted integer partials; older tmp_io caches must not serve.
    path = fixture_path("sink_rollup_e2", sf_dir)
    if not fixture_ready(path, sf_dir):
        hourly = e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_e2"),
        )
        hourly.write.mode("overwrite").parquet(path)
    rolled = spark.read.parquet(path)
    return (
        rolled.groupBy(
            F.unix_micros(F.date_trunc("day", "hour_ts")).alias("day_us"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value_e2").alias("sum_value_e2"),
        )
    )


@query(
    "q_events_retention",
    oracle="""
WITH weekly AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
cohort AS (
  SELECT user_id, min(wk) AS cohort_wk FROM weekly GROUP BY user_id
)
SELECT epoch_us(c.cohort_wk) AS cohort_week_us,
       CAST((epoch_us(w.wk) - epoch_us(c.cohort_wk)) / 604800000000 AS BIGINT)
         AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active
FROM weekly w JOIN cohort c ON w.user_id = c.user_id
GROUP BY 1, 2
""",
)
def q_events_retention(spark, sf_dir):
    # Cohort retention: users grouped by first-active week; for each later
    # week, how many of the cohort were active — the product-analytics
    # retention triangle. Two user-keyed aggregates and one user-keyed join;
    # every shuffle is on user_id or the (cohort, offset) pair, so the
    # operator holds at any event volume. Week arithmetic stays in integer
    # microseconds (604800e6 per week) — no date-diff dialect drift.
    e = load_tables(spark, sf_dir)["events"]
    weekly = e.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    cohort = weekly.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        weekly.join(cohort, "user_id")
        .groupBy(
            F.unix_micros("cohort_wk").alias("cohort_week_us"),
            ((F.unix_micros("wk") - F.unix_micros("cohort_wk")) / 604800000000)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


@query(
    "q_ts_ohlc",
    oracle="""
WITH w AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(ts) % 900000000 AS bucket_us,
         value,
         row_number() OVER (
           PARTITION BY event_type, epoch_us(ts) - epoch_us(ts) % 900000000
           ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (
           PARTITION BY event_type, epoch_us(ts) - epoch_us(ts) % 900000000
           ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket_us,
       count(*) AS n_events,
       min(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       min(CASE WHEN rn_d = 1 THEN value END) AS close
FROM w GROUP BY event_type, bucket_us
""",
)
def q_ts_ohlc(spark, sf_dir):
    # OHLC downsampling (15-minute bars per event type) — the classic
    # hypertable resample/rollup. ONE hash aggregate: open/close are
    # min/max over a (ts, event_id, value) struct whose lexicographic order
    # makes the endpoint selection deterministic under same-ts ties — no
    # window pass, so partial aggregation runs map-side and the only
    # shuffle is on the (type, bucket) key. Emitted values are raw parquet
    # doubles picked by min/max (no arithmetic), so they hash bit-identically
    # cross-engine; Spark's epoch-aligned window('15 minutes') start equals
    # the oracle's integer-µs bucket arithmetic.
    e = load_tables(spark, sf_dir)["events"]
    pick = lambda c: F.struct("ts", "event_id", F.col("value").alias("v"))  # noqa: E731
    return (
        e.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(pick("open")).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(pick("close")).getField("v").alias("close"),
        )
        .select(
            "event_type",
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            "n_events",
            "open",
            "high",
            "low",
            "close",
        )
    )


@query(
    "q_ts_sessionize",
    oracle="""
WITH o AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
s AS (
  SELECT user_id, ts, event_id, value,
         CAST(sum(CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM o
)
SELECT user_id, session_id,
       count(*) AS n_events,
       epoch_us(min(ts)) AS start_us,
       CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM s GROUP BY user_id, session_id
""",
)
def q_ts_sessionize(spark, sf_dir):
    # Batch sessionization (30-minute inactivity gap) → per-session rollup —
    # the batch counterpart of q_stream_session's watermarked session
    # windows. Session assignment and its ONE-shuffle rationale live in
    # operators/sessions.py::sessionize (Engine.sessionize is the facade).
    from pkg2_spark.operators.sessions import sessionize

    e = load_tables(spark, sf_dir)["events"]
    s = sessionize(
        e.select("user_id", "ts", "event_id", "value"),
        key="user_id",
        ts="ts",
        tiebreak="event_id",
        gap_us=1_800_000_000,
    )
    # per-session value total as floor-scaled e4 integers: a 2dp-rounded
    # float sum can land on a cent boundary and flip with summation order
    # (the q_kmeans_step/Q10 flake class) — integer sums cannot
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("sum_value_e4"),
    )


@query(
    "q_dq_anomaly",
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
f AS (
  SELECT event_type, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo,
         q3 + 1.5 * (q3 - q1) AS hi
  FROM b
)
SELECT e.event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(floor(f.lo * 10000) AS BIGINT) AS lo_e4,
       CAST(floor(f.hi * 10000) AS BIGINT) AS hi_e4
FROM events e JOIN f ON e.event_type = f.event_type
GROUP BY e.event_type, f.lo, f.hi
""",
)
def q_dq_anomaly(spark, sf_dir):
    """Tukey-fence anomaly detection per event type: exact q1/q3 (same
    interpolation arithmetic both engines — the q_agg_percentile
    discipline), 1.5×IQR fences, per-type outlier counts plus the fences
    themselves floor-scaled e4 for the deterministic output boundary.

    The scale shape is threshold-then-filter (the q_llm_quality_gate
    pattern): ONE exact-percentile aggregate produces a tiny per-type
    fence table that broadcasts back over the fact scan — never a global
    sort or a percent_rank window over the events. At extreme scale swap
    the exact percentile for approx_percentile with a documented
    tolerance; the fence comparison is unchanged. Fence doubles are
    bit-identical across engines (identical interpolation on identical
    values), so the outlier comparisons agree exactly."""
    e = load_tables(spark, sf_dir)["events"]
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    f = b.select(
        F.col("event_type").alias("et"),
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    joined = e.join(F.broadcast(f), e["event_type"] == F.col("et"))
    is_out = ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).cast("long")
    return joined.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(is_out).alias("n_outliers"),
    ).select(
        "event_type",
        "n_events",
        "n_outliers",
        F.floor(F.col("lo") * 10000).cast("long").alias("lo_e4"),
        F.floor(F.col("hi") * 10000).cast("long").alias("hi_e4"),
    )


@query(
    "q_ts_ema",
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
def q_ts_ema(spark, sf_dir):
    """Exponential moving average per user over the event stream — the
    canonical sequential recurrence (ema_t = alpha*x_t + (1-alpha)*ema_{t-1})
    that NO window frame expresses: each output depends on the previous
    OUTPUT, not a previous input. This is the engine's ordered-state
    operator proof for batch (q_stream_stateful is the streaming twin):
    Spark runs it as the partition-level batch fold (one shuffle on
    user_id, sortWithinPartitions, mapInPandas with a cross-batch carry —
    flat in the key count; see operators/recurrence.py), sequential only
    within a key, which is inherent to the recurrence, while the oracle
    recomputes it with a recursive CTE.

    Determinism: alpha = 1/2 over floor-e2 integer inputs with integer
    halving — (v + prev) // 2 — so every intermediate is an exact BIGINT
    (event values are nonnegative, so floor- and truncating division
    agree across Python, Spark, and DuckDB). Emits each user's final EMA."""
    from pkg2_spark.operators.recurrence import ema_halving

    e = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("ema_e2"),
    )
    return ema_halving(e, "user_id", ["ts", "event_id"], "ema_e2")


@query(
    "q_ts_interp",
    oracle="""
WITH ev AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CAST(floor(value * 100) AS BIGINT) AS v_e2,
         (event_id % 5 = 0) AS masked
  FROM events
),
obs AS (
  SELECT user_id, rn, v_e2, masked,
         CASE WHEN NOT masked THEN v_e2 END AS v_obs,
         CASE WHEN NOT masked THEN rn END AS rn_obs
  FROM ev
),
nb AS (
  SELECT user_id, rn, v_e2, masked,
         last_value(v_obs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_v,
         last_value(rn_obs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_rn,
         first_value(v_obs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(rn_obs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY rn
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_rn
  FROM obs
)
SELECT user_id, CAST(rn AS BIGINT) AS rn, v_e2 AS actual_e2,
       CAST(prev_v + CAST(floor(CAST((next_v - prev_v) * (rn - prev_rn) AS DOUBLE)
                                / (next_rn - prev_rn)) AS BIGINT) AS BIGINT) AS interp_e2,
       CAST(abs(v_e2 - (prev_v + CAST(floor(CAST((next_v - prev_v) * (rn - prev_rn) AS DOUBLE)
                                            / (next_rn - prev_rn)) AS BIGINT))) AS BIGINT) AS abs_err_e2
FROM nb
WHERE masked AND prev_v IS NOT NULL AND next_v IS NOT NULL
""",
)
def q_ts_interp(spark, sf_dir):
    """Linear gap interpolation — the time-series repair operator (sensor
    dropout / null backfill): every 5th event's value is masked, then
    reconstructed from its nearest observed neighbors on each side via two
    ignore-nulls window scans (prev/next value AND position), and the
    reconstruction error is reported against the held-out truth.

    Scale shape: two window passes over ONE shuffle on the user key — no
    self-join against observation tables (the naive prev/next range-join
    formulation shuffles twice and explodes on wide gaps). Arithmetic:
    neighbors and positions are exact e2/rank integers; the one
    interpolating division is an IEEE double op on integer-valued operands
    (product <= 1e8 — exactly representable), floored identically in both
    engines."""
    e = load_tables(spark, sf_dir)["events"]
    w_rank = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = e.select(
        "user_id",
        "event_id",
        F.row_number().over(w_rank).cast("long").alias("rn"),
        F.floor(F.col("value") * 100).cast("long").alias("v_e2"),
        (F.col("event_id") % 5 == 0).alias("masked"),
    )
    obs = ev.select(
        "*",
        F.when(~F.col("masked"), F.col("v_e2")).alias("v_obs"),
        F.when(~F.col("masked"), F.col("rn")).alias("rn_obs"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nb = obs.select(
        "user_id",
        "rn",
        "v_e2",
        "masked",
        F.last("v_obs", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last("rn_obs", ignorenulls=True).over(w_prev).alias("prev_rn"),
        F.first("v_obs", ignorenulls=True).over(w_next).alias("next_v"),
        F.first("rn_obs", ignorenulls=True).over(w_next).alias("next_rn"),
    )
    interp = F.col("prev_v") + F.floor(
        ((F.col("next_v") - F.col("prev_v")) * (F.col("rn") - F.col("prev_rn")))
        .cast("double")
        / (F.col("next_rn") - F.col("prev_rn"))
    ).cast("long")
    return (
        nb.filter(F.col("masked") & F.col("prev_v").isNotNull() & F.col("next_v").isNotNull())
        .select(
            "user_id",
            "rn",
            F.col("v_e2").alias("actual_e2"),
            interp.cast("long").alias("interp_e2"),
            F.abs(F.col("v_e2") - interp).cast("long").alias("abs_err_e2"),
        )
    )


@query(
    "q_events_attribution",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS v_e2,
         CASE WHEN event_type IN ('click', 'view') THEN event_type END AS touch,
         ts, event_id
  FROM events
),
attr AS (
  SELECT event_type, v_e2,
         last_value(touch IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
  FROM ev
)
SELECT coalesce(last_touch, 'none') AS channel,
       count(*) AS n_purchases,
       CAST(sum(v_e2) AS BIGINT) AS revenue_e2
FROM attr
WHERE event_type = 'purchase'
GROUP BY coalesce(last_touch, 'none')
""",
)
def q_events_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase's revenue is credited
    to the user's most recent preceding touchpoint (click or view; 'none'
    when the purchase is the user's first tracked action). The classic
    sessionless attribution model, expressed as ONE ignore-nulls window
    scan — no per-purchase correlated lookup, no self-join of purchases
    against touches (the naive formulation is a range join that degenerates
    on active users).

    Scale shape: one shuffle on user_id for the window, one small hash-agg
    on the 3-value channel key. Revenue sums are exact e2 integers."""
    e = load_tables(spark, sf_dir)["events"]
    ev = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("v_e2"),
        F.when(
            F.col("event_type").isin("click", "view"), F.col("event_type")
        ).alias("touch"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attr = ev.select(
        "event_type",
        "v_e2",
        F.last("touch", ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        attr.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("last_touch", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("v_e2").cast("long").alias("revenue_e2"),
        )
    )


@query(
    "q_ts_autocorr",
    oracle="""
WITH ev AS (
  SELECT event_type,
         CAST(floor(value * 100) AS BIGINT) AS x,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM events
),
lagged AS (
  SELECT e.event_type, k.k, e.x,
         lag(e.x, k.k) OVER (PARTITION BY e.event_type, k.k ORDER BY e.rn) AS y
  FROM ev e CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) k
),
m AS (
  SELECT event_type, k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sx2,
         CAST(sum(y * y) AS BIGINT) AS sy2
  FROM lagged WHERE y IS NOT NULL
  GROUP BY event_type, k
)
SELECT event_type, CAST(k AS INTEGER) AS lag_k, n,
       CAST(floor(
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy))
         * 10000) AS BIGINT) AS corr_e4
FROM m
""",
)
def q_ts_autocorr(spark, sf_dir):
    """Lag-k autocorrelation (k=1..3) of the value series per event type —
    the stationarity/seasonality diagnostic run before any forecasting
    model. All five moment sums are computed over exact e2 integers
    (products of BIGINTs summed in BIGINT — associative, so Spark's
    partitioned aggregation and DuckDB's serial one produce bit-identical
    moments), and the one Pearson evaluation is the same IEEE double
    expression over those identical integers on both engines, floored to
    e4 fixed point.

    Scale shape: one window pass for the per-type rank, one lag window per
    (type, k) — both under a single shuffle on the type key (k is a
    constant-3 generator, not data) — then a map-side-combinable moment
    aggregate. No self-join of the series against its shifted copy (the
    naive lag formulation doubles the shuffle)."""
    e = load_tables(spark, sf_dir)["events"]
    w_rank = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ev = e.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("x"),
        F.row_number().over(w_rank).alias("rn"),
    )
    # F.lag requires a literal offset, so the constant-3 lag set is
    # expanded explicitly (same three window passes the oracle runs).
    parts = []
    for k in (1, 2, 3):
        w_lag = Window.partitionBy("event_type").orderBy("rn")
        parts.append(
            ev.select(
                "event_type",
                F.lit(k).alias("k"),
                "x",
                F.lag("x", k).over(w_lag).alias("y"),
            )
        )
    lagged = parts[0]
    for p in parts[1:]:
        lagged = lagged.unionByName(p)
    m = (
        lagged.filter(F.col("y").isNotNull())
        .groupBy("event_type", "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"),
        )
    )
    corr = F.floor(
        (
            (F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (F.col("n").cast("double") * F.col("sx2") - F.col("sx").cast("double") * F.col("sx"))
                * (F.col("n").cast("double") * F.col("sy2") - F.col("sy").cast("double") * F.col("sy"))
            )
        )
        * 10000
    ).cast("long")
    return m.select(
        "event_type", F.col("k").cast("int").alias("lag_k"), "n", corr.alias("corr_e4")
    )


@query(
    "q_dq_benford",
    oracle="""
WITH d AS (
  SELECT substring(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit
  FROM events WHERE value > 0
),
cnt AS (SELECT digit, count(*) AS observed FROM d GROUP BY digit),
tot AS (SELECT CAST(sum(observed) AS BIGINT) AS total FROM cnt),
exp AS (
  SELECT unnest(['1','2','3','4','5','6','7','8','9']) AS digit,
         unnest([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]) AS exp_e6
)
SELECT e.digit,
       CAST(coalesce(c.observed, 0) AS BIGINT) AS observed,
       CAST(coalesce(c.observed, 0) * 1000000 // t.total AS BIGINT) AS obs_e6,
       CAST(e.exp_e6 AS BIGINT) AS exp_e6,
       CAST(abs(coalesce(c.observed, 0) * 1000000 // t.total - e.exp_e6) AS BIGINT) AS abs_dev_e6
FROM exp e
LEFT JOIN cnt c ON e.digit = c.digit
CROSS JOIN tot t
""",
)
def q_dq_benford(spark, sf_dir):
    """Benford's-law first-digit audit over the value column — the
    classic fabricated-data / instrumentation-bug detector (a measure
    whose leading digits stray far from log10(1+1/d) was typically
    generated, truncated, or unit-mangled). The first significant digit is
    taken from the e2 integer's decimal string (no log10 call — libm is
    not bit-identical across engines), observed shares are exact integer
    DIV fixed-point, and the nine expected shares are hardcoded e6
    constants of log10(1+1/d).

    Scale shape: one 9-key map-side-combinable count + a 1-row total
    broadcast against the constant digit table."""
    e = load_tables(spark, sf_dir)["events"]
    d = e.filter(F.col("value") > 0).select(
        F.substring(F.floor(F.col("value") * 100).cast("long").cast("string"), 1, 1).alias(
            "digit"
        )
    )
    cnt = d.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    tot = cnt.agg(F.sum("observed").cast("long").alias("total"))
    benford = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
    exp = local_rows_df(
        spark, [(str(i + 1), v) for i, v in enumerate(benford)], "digit string, exp_e6 long"
    )
    obs_share = F.expr("CAST(coalesce(observed, 0) * 1000000 DIV total AS BIGINT)")
    return (
        exp.join(cnt, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("observed", F.lit(0)).cast("long").alias("observed"),
            obs_share.alias("obs_e6"),
            F.col("exp_e6").cast("long").alias("exp_e6"),
            F.abs(obs_share - F.col("exp_e6")).cast("long").alias("abs_dev_e6"),
        )
    )


@query(
    "q_ts_cusum",
    oracle="""
WITH RECURSIVE base AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn,
         CAST(floor(value * 100) AS BIGINT) AS v_e2
  FROM events
),
k AS (
  SELECT event_type,
         CAST(CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
              // count(*) AS BIGINT) AS ref_e2
  FROM events GROUP BY event_type
),
cu AS (
  SELECT b.user_id, b.event_type, b.rn,
         CAST(greatest(0, b.v_e2 - k.ref_e2) AS BIGINT) AS s,
         CAST(greatest(0, b.v_e2 - k.ref_e2) AS BIGINT) AS peak
  FROM base b JOIN k ON b.event_type = k.event_type
  WHERE b.rn = 1
  UNION ALL
  SELECT b.user_id, b.event_type, b.rn,
         greatest(0, cu.s + b.v_e2 - k.ref_e2),
         greatest(cu.peak, greatest(0, cu.s + b.v_e2 - k.ref_e2))
  FROM base b
  JOIN cu ON b.user_id = cu.user_id AND b.event_type = cu.event_type
         AND b.rn = cu.rn + 1
  JOIN k ON b.event_type = k.event_type
),
fin AS (
  SELECT user_id, event_type, max(rn) AS n_events
  FROM cu GROUP BY user_id, event_type
)
SELECT c.user_id, c.event_type, CAST(f.n_events AS BIGINT) AS n_events,
       CAST(c.peak AS BIGINT) AS max_cusum,
       CAST(c.s AS BIGINT) AS final_cusum
FROM cu c
JOIN fin f ON c.user_id = f.user_id AND c.event_type = f.event_type
          AND c.rn = f.n_events
""",
)
def q_ts_cusum(spark, sf_dir):
    """One-sided CUSUM change-point statistic per (user, event type): the
    running excess over the type's mean, floored at zero — a sustained
    upward shift in a user's values accumulates into max_cusum while noise
    resets through the floor. The second instance of the ordered-recurrence
    operator (operators/recurrence.py, with q_ts_ema): output depends on
    the previous OUTPUT, so no window frame expresses it; the reference
    level is the exact integer per-type mean (sum DIV count), broadcast
    onto the fold input.

    Scale shape: one tiny type-mean aggregate broadcast + one shuffle on
    the (user, type) key into the applyInPandas fold — sequential within a
    series (inherent), parallel across the user×type series population,
    which is exactly how the statistic shards at corpus scale."""
    from pkg2_spark.operators.recurrence import cusum_fold

    e = load_tables(spark, sf_dir)["events"]
    v = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    k = v.groupBy("event_type").agg(
        F.expr("CAST(sum(v_e2) DIV count(*) AS BIGINT)").alias("ref_e2")
    )
    return cusum_fold(
        v.join(F.broadcast(k), "event_type"),
        ["user_id", "event_type"],
        ["ts", "event_id"],
        "v_e2",
        "ref_e2",
    )


@query(
    "q_events_markov",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM ev WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS t FROM pairs GROUP BY prev_type)
SELECT p.prev_type, p.next_type, CAST(p.n AS BIGINT) AS n_transitions,
       CAST(p.n * 10000 // t.t AS BIGINT) AS prob_bp
FROM pairs p JOIN tot t ON p.prev_type = t.prev_type
""",
)
def q_events_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences —
    the behavioral model behind funnel/attribution analysis (which action
    follows which, with what probability). One lag window per user, one
    pair count, row probabilities in exact basis points (integer DIV by
    the per-row-total), output bounded at |types|² rows.

    Scale shape: one user-key window shuffle + two map-combinable
    hash-aggs; the transition matrix itself is constant-size."""
    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        ev.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").cast("long").alias("t"))
    return pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.expr("CAST(n * 10000 DIV t AS BIGINT)").alias("prob_bp"),
    )


@query(
    "q_ts_seasonality",
    oracle="""
WITH d AS (
  SELECT event_type, CAST(dayofweek(ts) AS INTEGER) AS dow,
         CAST(floor(value * 100) AS BIGINT) AS v_e2
  FROM events
),
g AS (
  SELECT event_type, dow, count(*) AS n, CAST(sum(v_e2) AS BIGINT) AS sv
  FROM d GROUP BY event_type, dow
),
tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY event_type)
SELECT g.event_type, g.dow,
       CAST(g.n AS BIGINT) AS n_events,
       CAST(g.n * 10000 // tot.t AS BIGINT) AS share_bp,
       CAST(g.sv // g.n AS BIGINT) AS mean_value_e2
FROM g JOIN tot ON g.event_type = tot.event_type
""",
)
def q_ts_seasonality(spark, sf_dir):
    """Day-of-week seasonality profile per event type — the weekly-cycle
    fingerprint (traffic shaping, anomaly baselines, capacity planning).
    Emits each (type, weekday)'s event share in exact basis points of the
    type total and the exact integer mean value. Spark's dayofweek is
    1-based Sunday; DuckDB's is 0-based Sunday — the Spark side subtracts
    one so both emit the same 0..6 key.

    Scale shape: one 35-key map-combinable hash-agg + a per-type total
    broadcast; constant-size output."""
    e = load_tables(spark, sf_dir)["events"]
    d = e.select(
        "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.floor(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    g = d.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v_e2").cast("long").alias("sv")
    )
    tot = g.groupBy("event_type").agg(F.sum("n").cast("long").alias("t"))
    return g.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        F.col("n").cast("long").alias("n_events"),
        F.expr("CAST(n * 10000 DIV t AS BIGINT)").alias("share_bp"),
        F.expr("CAST(sv DIV n AS BIGINT)").alias("mean_value_e2"),
    )


@query(
    "q_ts_holtwinters",
    oracle="""
WITH RECURSIVE ev AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CAST(floor(value * 100) AS BIGINT) AS v_e2
  FROM events
),
hw AS (
  SELECT user_id, rn, v_e2 AS l_e2, CAST(0 AS BIGINT) AS b_e2
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT ev.user_id, ev.rn,
         (ev.v_e2 + hw.l_e2 + hw.b_e2) // 2,
         (hw.b_e2 + ((ev.v_e2 + hw.l_e2 + hw.b_e2) // 2) - hw.l_e2) // 2
  FROM ev JOIN hw ON ev.user_id = hw.user_id AND ev.rn = hw.rn + 1
),
last_rn AS (SELECT user_id, max(rn) AS n_events FROM hw GROUP BY user_id)
SELECT h.user_id, CAST(l.n_events AS BIGINT) AS n_events,
       CAST(h.l_e2 AS BIGINT) AS level_e2,
       CAST(h.b_e2 AS BIGINT) AS trend_e2,
       CAST(h.l_e2 + h.b_e2 AS BIGINT) AS forecast_e2
FROM hw h JOIN last_rn l ON h.user_id = l.user_id AND h.rn = l.n_events
""",
)
def q_ts_holtwinters(spark, sf_dir):
    """Holt double exponential smoothing per user — level AND linear trend,
    the one-step-ahead forecaster (forecast = level + trend) behind
    capacity planning and rate-limit baselines. Third instance of the
    ordered-recurrence operator (operators/recurrence.py, with q_ts_ema
    and q_ts_cusum): the trend state feeds back into the level update, so
    no window frame or closed form expresses it — it is the genuinely
    sequential case, sharded per key.

    Determinism: alpha = beta = 1/2 over floor-e2 integers with TRUNCATING
    halving (the negative-trend case is where Python's floor-// and
    SQL's truncating division diverge; the fold pins truncation — see
    holt_fold). Scale shape: the partition-level batch fold — one user-key
    shuffle, Arrow batches, flat in the key count."""
    from pkg2_spark.operators.recurrence import holt_fold

    e = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    return holt_fold(e, "user_id", ["ts", "event_id"], "v_e2").select(
        "user_id",
        "n_events",
        "level_e2",
        "trend_e2",
        (F.col("level_e2") + F.col("trend_e2")).cast("long").alias("forecast_e2"),
    )


@query(
    "q_ts_stl",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
              // count(*) AS BIGINT) AS v_e2
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
tr AS (
  SELECT event_type, day, v_e2,
         CAST(CAST(sum(v_e2) OVER w AS BIGINT) // count(*) OVER w AS BIGINT)
           AS trend_e2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
de AS (
  SELECT event_type, day, v_e2, trend_e2,
         v_e2 - trend_e2 AS det_e2,
         CAST(dayofweek(day) AS INTEGER) AS dow
  FROM tr
),
se AS (
  SELECT event_type, dow,
         CAST(CAST(sum(det_e2) AS BIGINT) // count(*) AS BIGINT) AS seasonal_e2
  FROM de GROUP BY event_type, dow
)
SELECT d.event_type, epoch_us(d.day) AS day_us,
       d.v_e2, d.trend_e2, s.seasonal_e2,
       CAST(d.det_e2 - s.seasonal_e2 AS BIGINT) AS remainder_e2
FROM de d JOIN se s ON d.event_type = s.event_type AND d.dow = s.dow
""",
)
def q_ts_stl(spark, sf_dir):
    """STL-style seasonal-trend decomposition (additive, integer-exact) of
    the per-type daily series: trend = 7-day centered moving mean,
    seasonal = day-of-week mean of the detrended series, remainder = what
    neither explains — the decomposition behind anomaly baselining and
    forecast preprocessing, here with every component an exact BIGINT
    (means as sum DIV count; detrended values go negative, so the
    truncating-DIV semantics both engines share is load-bearing — see
    holt_fold for the same contract). Spark's dayofweek is 1-based
    Sunday, DuckDB's 0-based — normalized to the same 0..6 key.

    Scale shape: one (type, day) hash-agg compacts the events, then a
    7-row frame window and a 35-key seasonal agg over the COMPACTED
    series (days × types rows, not events) — the decomposition costs one
    shuffle more than the rollup it reads."""
    e = load_tables(spark, sf_dir)["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.expr(
            "CAST(sum(CAST(floor(value * 100) AS BIGINT)) DIV count(*) AS BIGINT)"
        ).alias("v_e2")
    )
    tr = daily.select(
        "event_type",
        "day",
        "v_e2",
        F.expr(
            "CAST(sum(v_e2) OVER (PARTITION BY event_type ORDER BY day"
            " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
            " DIV count(*) OVER (PARTITION BY event_type ORDER BY day"
            " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)"
        ).alias("trend_e2"),
    )
    de = tr.select(
        "event_type",
        "day",
        "v_e2",
        "trend_e2",
        (F.col("v_e2") - F.col("trend_e2")).alias("det_e2"),
        (F.dayofweek("day") - 1).cast("int").alias("dow"),
    )
    se = de.groupBy("event_type", "dow").agg(
        F.expr("CAST(sum(det_e2) DIV count(*) AS BIGINT)").alias("seasonal_e2")
    )
    return de.join(F.broadcast(se), ["event_type", "dow"]).select(
        "event_type",
        F.unix_micros(F.col("day")).alias("day_us"),
        "v_e2",
        "trend_e2",
        "seasonal_e2",
        (F.col("det_e2") - F.col("seasonal_e2")).cast("long").alias("remainder_e2"),
    )


@query(
    "q_events_rfm",
    oracle="""
WITH agg AS (
  SELECT user_id,
         epoch_us(max(ts)) AS recency_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS monetary_e2
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
base AS (
  SELECT user_id, recency_us, frequency, monetary_e2 FROM agg
  QUALIFY row_number() OVER (
    ORDER BY md5(CAST(user_id AS VARCHAR)) ASC NULLS LAST,
             user_id ASC NULLS LAST
  ) <= 100000
)
SELECT user_id, recency_us, frequency, monetary_e2,
       ntile(5) OVER (ORDER BY recency_us ASC NULLS LAST, user_id ASC NULLS LAST) AS r_score,
       ntile(5) OVER (ORDER BY frequency ASC NULLS LAST, user_id ASC NULLS LAST) AS f_score,
       ntile(5) OVER (ORDER BY monetary_e2 ASC NULLS LAST, user_id ASC NULLS LAST) AS m_score,
       CAST(ntile(5) OVER (ORDER BY recency_us ASC NULLS LAST, user_id ASC NULLS LAST) * 100
          + ntile(5) OVER (ORDER BY frequency ASC NULLS LAST, user_id ASC NULLS LAST) * 10
          + ntile(5) OVER (ORDER BY monetary_e2 ASC NULLS LAST, user_id ASC NULLS LAST)
          AS INTEGER) AS rfm_code
FROM base
""",
)
def q_events_rfm(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary) over
    purchase events — the canonical marketing-analytics scoring: per-user
    last-purchase time, purchase count, and e2-integer spend, each mapped
    to a 1-5 quintile (5 = most recent / most frequent / highest spend)
    and composed into the 3-digit RFM code campaigns key on. ntile over a
    TOTAL order (metric, then user_id) is deterministic and identical
    across engines.

    Scale shape: one user-key hash-agg compacts events to one row per
    buyer; the three ntile windows are global by definition (quintiles of
    the whole population). This exact-ntile form is the GRADING/PANEL ARM:
    its input is BOUNDED to a deterministic fixed-size customer panel —
    the 100k buyers with the smallest md5(user_id), taken with a
    TakeOrderedAndProject top-K (parallel partial top-K per partition,
    never a global sort) — so the single-partition ntile windows see at
    most 100k rows at ANY corpus scale (r11 verdict #5: no declared plan
    may single-partition a corpus-proportional table). Below 100k buyers
    the panel is the whole population and the semantics are unchanged
    (every test scale). The scale-safe production form over the FULL
    population is q_events_rfm_thresholds (same base, broadcast
    percentile thresholds, no window anywhere in the plan); run that one
    at corpus scale."""
    e = load_tables(spark, sf_dir)["events"]
    base = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.unix_micros(F.max("ts")).alias("recency_us"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("monetary_e2"),
        )
        .orderBy(
            F.md5(F.col("user_id").cast("string")).asc_nulls_last(),
            F.col("user_id").asc_nulls_last(),
        )
        .limit(100000)
    )
    wr = Window.orderBy(
        F.col("recency_us").asc_nulls_last(), F.col("user_id").asc_nulls_last()
    )
    wf = Window.orderBy(
        F.col("frequency").asc_nulls_last(), F.col("user_id").asc_nulls_last()
    )
    wm = Window.orderBy(
        F.col("monetary_e2").asc_nulls_last(), F.col("user_id").asc_nulls_last()
    )
    scored = base.select(
        "user_id",
        "recency_us",
        "frequency",
        "monetary_e2",
        F.ntile(5).over(wr).alias("r_score"),
        F.ntile(5).over(wf).alias("f_score"),
        F.ntile(5).over(wm).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int"),
    )


@query(
    "q_events_rfm_thresholds",
    oracle="""
WITH base AS (
  SELECT user_id,
         epoch_us(max(ts)) AS recency_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS monetary_e2
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
th AS (
  SELECT quantile_cont(recency_us, [0.2, 0.4, 0.6, 0.8]) AS rt,
         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS ft,
         quantile_cont(monetary_e2, [0.2, 0.4, 0.6, 0.8]) AS mt
  FROM base
)
SELECT user_id, recency_us, frequency, monetary_e2,
       CAST(1 + (recency_us > rt[1])::INT + (recency_us > rt[2])::INT
              + (recency_us > rt[3])::INT + (recency_us > rt[4])::INT
            AS INTEGER) AS r_score,
       CAST(1 + (frequency > ft[1])::INT + (frequency > ft[2])::INT
              + (frequency > ft[3])::INT + (frequency > ft[4])::INT
            AS INTEGER) AS f_score,
       CAST(1 + (monetary_e2 > mt[1])::INT + (monetary_e2 > mt[2])::INT
              + (monetary_e2 > mt[3])::INT + (monetary_e2 > mt[4])::INT
            AS INTEGER) AS m_score,
       CAST((1 + (recency_us > rt[1])::INT + (recency_us > rt[2])::INT
               + (recency_us > rt[3])::INT + (recency_us > rt[4])::INT) * 100
          + (1 + (frequency > ft[1])::INT + (frequency > ft[2])::INT
               + (frequency > ft[3])::INT + (frequency > ft[4])::INT) * 10
          + (1 + (monetary_e2 > mt[1])::INT + (monetary_e2 > mt[2])::INT
               + (monetary_e2 > mt[3])::INT + (monetary_e2 > mt[4])::INT)
            AS INTEGER) AS rfm_code
FROM base CROSS JOIN th
""",
)
def q_events_rfm_thresholds(spark, sf_dir):
    """Scale-safe RFM scoring — the production form of q_events_rfm: the
    same per-user recency / frequency / monetary base aggregate, but the
    1-5 quintile scores come from THRESHOLD EXCEEDANCE against the exact
    20/40/60/80th-percentile cut points (score = 1 + number of cuts the
    metric exceeds), computed in ONE percentile aggregate and broadcast
    back over the per-user table — the q_dq_anomaly threshold-then-filter
    shape. Unlike ntile, equal metric values always get equal scores
    (ties are never split across quintiles), which is the semantics a
    campaign actually wants.

    This replaces q_events_rfm's three global partitionBy-less ntile
    windows (a single-partition sort of the corpus-proportional per-user
    table) with: hash-agg -> 1-row threshold agg -> broadcast join ->
    row-local CASE sums. No window anywhere in the plan (pinned by
    tests/test_plans.py::test_rfm_thresholds_has_no_window). At extreme
    scale the exact percentile (a value->count map in the final buffer,
    O(distinct metric values)) swaps for percentile_approx with identical
    downstream plumbing; exact is kept here so the thresholds are
    bit-identical to the oracle's quantile_cont (the q_agg_percentile
    discipline: identical interpolation on identical value sets, and all
    three metrics are integers < 2^53 so the double comparisons are
    exact).

    q_events_rfm (the exact-ntile form) remains the grading arm for the
    quantile-assignment contract; this query is the plan a 1000-executor
    cluster should run."""
    e = load_tables(spark, sf_dir)["events"]
    base = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.unix_micros(F.max("ts")).alias("recency_us"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("monetary_e2"),
        )
    )
    pcts = F.lit([0.2, 0.4, 0.6, 0.8])
    th = base.agg(
        F.percentile("recency_us", pcts).alias("rt"),
        F.percentile("frequency", pcts).alias("ft"),
        F.percentile("monetary_e2", pcts).alias("mt"),
    )

    def _score(metric: str, cuts: str) -> F.Column:
        s = F.lit(1)
        for i in range(4):
            s = s + (F.col(metric) > F.col(cuts)[i]).cast("int")
        return s.cast("int")

    scored = base.crossJoin(F.broadcast(th)).select(
        "user_id",
        "recency_us",
        "frequency",
        "monetary_e2",
        _score("recency_us", "rt").alias("r_score"),
        _score("frequency", "ft").alias("f_score"),
        _score("monetary_e2", "mt").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int"),
    )


_SAX_SEGMENTS = 16  # PAA word length
_SAX_ALPHABET = "abcd"  # 4 rank-quartile symbols


@query(
    "q_ts_sax",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
seg AS (
  SELECT event_type, CAST((rn * {_SAX_SEGMENTS}) // n AS INTEGER) AS seg,
         CAST(sum(v) AS BIGINT) AS seg_sum_e2, CAST(count(*) AS BIGINT) AS seg_n
  FROM d GROUP BY event_type, (rn * {_SAX_SEGMENTS}) // n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type
    ORDER BY CAST(seg_sum_e2 AS DOUBLE) / seg_n ASC NULLS LAST, seg ASC NULLS LAST
  ) AS r
  FROM seg
),
sym AS (
  SELECT event_type, seg, seg_n, seg_sum_e2,
         substr('{_SAX_ALPHABET}',
                CAST(((r - 1) * {len(_SAX_ALPHABET)}) // {_SAX_SEGMENTS} + 1 AS INTEGER),
                1) AS symbol
  FROM ranked
),
words AS (
  SELECT event_type, string_agg(symbol, '' ORDER BY seg) AS word
  FROM sym GROUP BY event_type
)
SELECT sym.event_type, seg, seg_n, seg_sum_e2, symbol, words.word
FROM sym JOIN words USING (event_type)
""",
)
def q_ts_sax(spark, sf_dir):
    """SAX symbolization (Lin et al.'s PAA + symbol coding, with
    rank-adaptive breakpoints) — the time-series fingerprint that motif
    discovery, seasonality clustering, and whole-series similarity search
    run on: each event-type series is PAA-compressed into 16 equal-count
    segments, and segment means are coded into a 4-letter alphabet by
    RANK quartile (data-adaptive breakpoints — the fixed-Gaussian variant
    assumes z-normalized data; rank coding gives the same
    equiprobable-symbol property exactly, without a variance/sqrt whose
    float accumulation would be partition-order-dependent). Output: one
    row per segment with its symbol, plus the assembled per-series word —
    two series sharing a word prefix have matching temporal shapes.

    Determinism: segment sums/counts are exact integers; the only float
    is the single division seg_sum/seg_n per segment (16 per series),
    identical text in both engines; rank ties break on segment index.

    Scale shape: one per-series ordered window assigns positions (the
    standard ts-op sort, range-partitioned by Spark); segments reduce via
    a (type, seg)-keyed map-combinable hash-agg to SEGMENTS rows per
    series; ranking and word assembly run over those 16-row groups —
    corpus-sized work is one sort + one agg, everything after is
    series-count-sized."""
    e = load_tables(spark, sf_dir)["events"]
    wpos = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = e.select(
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("v"),
        (F.row_number().over(wpos) - 1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    seg = (
        d.groupBy("event_type", F.expr(f"CAST((rn * {_SAX_SEGMENTS}) div n AS INT)").alias("seg"))
        .agg(
            F.sum("v").cast("long").alias("seg_sum_e2"),
            F.count(F.lit(1)).cast("long").alias("seg_n"),
        )
    )
    wrank = Window.partitionBy("event_type").orderBy(
        (F.col("seg_sum_e2").cast("double") / F.col("seg_n")).asc_nulls_last(),
        F.col("seg").asc_nulls_last(),
    )
    sym = seg.withColumn("r", F.row_number().over(wrank)).select(
        "event_type",
        "seg",
        "seg_n",
        "seg_sum_e2",
        F.expr(
            f"substr('{_SAX_ALPHABET}',"
            f" CAST(((r - 1) * {len(_SAX_ALPHABET)}) div {_SAX_SEGMENTS} + 1 AS INT), 1)"
        ).alias("symbol"),
    )
    wword = Window.partitionBy("event_type")
    return sym.withColumn(
        "word",
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "symbol")).over(wword)),
                lambda x: x["symbol"],
            ),
            "",
        ),
    )


@query(
    "q_ts_theil_sen",
    oracle="""
WITH grid AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           // CAST(count(*) AS BIGINT) AS m
  FROM events
  GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         CAST(floor((b.m - a.m) * 1000.0 / (b.t - a.t)) AS BIGINT) AS s
  FROM grid a JOIN grid b
    ON a.event_type = b.event_type AND a.t < b.t
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(median(s) AS DOUBLE) AS slope_milli_med,
       CAST(min(s) AS BIGINT) AS slope_milli_min,
       CAST(max(s) AS BIGINT) AS slope_milli_max
FROM slopes GROUP BY event_type
""",
)
def q_ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend estimator per event type — the
    outlier-resistant alternative to the OLS fit (q_ml_linreg): the
    slope is the MEDIAN of all pairwise slopes of the hourly mean
    series, so up to ~29% contamination cannot move it.

    Scale discipline: the O(T²) pairwise stage runs on the AGGREGATED
    hourly grid, never the raw corpus — T is bounded by the time range
    (720 points/month here), so pair volume is O(groups · T²) no matter
    how many raw events arrive; corpus size only touches the first
    map-combinable hash-agg. Determinism: hourly means are
    floor-divided e2 BIGINTs, each pairwise slope is floored to milli
    units from an exact-in-double product (|Δm|·1000 < 2^53), and the
    median of an even count interpolates identically in both engines
    ((a+b)/2 of integers is exact in double)."""
    e = load_tables(spark, sf_dir)["events"]
    grid = (
        e.groupBy(
            "event_type",
            F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias("t"),
        )
        .agg(
            F.expr(
                "sum(CAST(floor(value * 100) AS BIGINT)) div count(*)"
            ).alias("m")
        )
    )
    a = grid.select(
        "event_type", F.col("t").alias("t1"), F.col("m").alias("m1")
    )
    b = grid.select(
        F.col("event_type").alias("et2"),
        F.col("t").alias("t2"),
        F.col("m").alias("m2"),
    )
    slopes = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("t1") < F.col("t2"))
    ).select(
        "event_type",
        F.floor((F.col("m2") - F.col("m1")) * 1000.0 / (F.col("t2") - F.col("t1")))
        .cast("long")
        .alias("s"),
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.median("s").cast("double").alias("slope_milli_med"),
        F.min("s").cast("long").alias("slope_milli_min"),
        F.max("s").cast("long").alias("slope_milli_max"),
    )


# Column-profile metric spec for q_dq_profile: every orders column, with a
# null-surrogate expression (timestamps profile as epoch-µs) so the same
# spec drives Spark and the oracle.
_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _profile_oracle() -> str:
    a_parts = ["count(*) AS n"]
    rows = []
    for i, c in enumerate(_PROFILE_COLS):
        a_parts.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn{i}"
        )
        a_parts.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd{i}")
        rows.append(
            f"SELECT '{c}' AS col_name, n, nn{i} AS n_null, nd{i} AS n_distinct FROM a"
        )
    return (
        "WITH a AS (SELECT " + ", ".join(a_parts) + " FROM orders)\n"
        + "\nUNION ALL\n".join(rows)
    )


@query("q_dq_profile", oracle=_profile_oracle())
def q_dq_profile(spark, sf_dir):
    """Table profiling (the ANALYZE/data-catalog statistics pass): per
    column of the orders table, exact row count, null count, and exact
    distinct count in ONE scan — the statistics sheet a warehouse
    catalog publishes per table and the input a query optimizer's
    cardinality model wants. Complements q_profile_hist (one column's
    value DISTRIBUTION) with the all-columns summary axis.

    Scale: one pass + one shuffle — the multi-count(distinct) aggregate
    plans as Spark's standard Expand (one replica per distinct-set, 6×
    here, constant in table width not corpus size) feeding a single
    hash-agg; the per-column pivot is a row-local stack() of the 1-row
    result, not a second scan. For 100 TB catalogs the exact
    count(distinct) arms swap to approx_count_distinct row-for-row
    (q_agg_approx_cd documents that error contract)."""
    o = load_tables(spark, sf_dir)["orders"]
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(_PROFILE_COLS):
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn{i}")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"nd{i}"))
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn{i}, nd{i}" for i, c in enumerate(_PROFILE_COLS)
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col_name, n_null, n_distinct)"
        ),
        "n",
    ).select("col_name", "n", "n_null", "n_distinct")


@query(
    "q_ts_mann_kendall",
    oracle="""
WITH grid AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           // CAST(count(*) AS BIGINT) AS m
  FROM events
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.m > a.m THEN 1 WHEN b.m < a.m THEN -1 ELSE 0 END AS sgn
  FROM grid a JOIN grid b
    ON a.event_type = b.event_type AND a.t < b.t
)
SELECT event_type,
       CAST(sum(sgn) AS BIGINT) AS s_stat,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down
FROM pairs GROUP BY event_type
""",
)
def q_ts_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend TEST per event type — the non-parametric
    significance companion to q_ts_theil_sen's magnitude estimate (the
    standard pairing in environmental/ops monitoring): S = Σ sign(m_j −
    m_i) over all i<j hourly-grid pairs; S near ±n_pairs is a monotone
    trend, near 0 is noise. Pure integer counting — no variance/libm
    anywhere — so the statistic is bit-identical cross-engine.

    Scale: same posture as theil_sen — the quadratic stage runs on the
    time-bounded aggregated grid (O(groups · T²), T = hours in range),
    corpus size touches only the first map-combinable hash-agg."""
    e = load_tables(spark, sf_dir)["events"]
    grid = (
        e.groupBy(
            "event_type",
            F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias("t"),
        )
        .agg(
            F.expr(
                "sum(CAST(floor(value * 100) AS BIGINT)) div count(*)"
            ).alias("m")
        )
    )
    a = grid.select("event_type", F.col("t").alias("t1"), F.col("m").alias("m1"))
    b = grid.select(
        F.col("event_type").alias("et2"),
        F.col("t").alias("t2"),
        F.col("m").alias("m2"),
    )
    sgn = (
        F.when(F.col("m2") > F.col("m1"), F.lit(1))
        .when(F.col("m2") < F.col("m1"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    pairs = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("t1") < F.col("t2"))
    ).select("event_type", sgn.alias("sgn"))
    return pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).cast("long").alias("n_up"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).cast("long").alias("n_down"),
    )


@query(
    "q_events_survival",
    oracle="""
WITH RECURSIVE o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
),
i AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
s AS (
  SELECT user_id, sid,
         CAST(floor(epoch_us(max(ts) - min(ts)) / 60000000) AS BIGINT) AS dur,
         max(ts) AS last_ts
  FROM i GROUP BY user_id, sid
),
w AS (SELECT max(ts) AS wmax FROM events),
lt AS (
  SELECT dur, (last_ts >= wmax - INTERVAL 30 MINUTE) AS censored FROM s, w
),
exits AS (
  SELECT dur AS t, CAST(count(*) AS BIGINT) AS n_exit,
         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
  FROM lt GROUP BY dur
),
grid AS (
  SELECT t, n_dead,
         CAST(sum(n_exit) OVER (ORDER BY t DESC
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
  FROM exits
),
ranked AS (SELECT *, row_number() OVER (ORDER BY t ASC) AS rn FROM grid),
km AS (
  SELECT rn, t, n_risk, n_dead,
         CAST((1000000 * (n_risk - n_dead)) // n_risk AS BIGINT) AS surv_e6
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.t, r.n_risk, r.n_dead,
         CAST((km.surv_e6 * (r.n_risk - r.n_dead)) // r.n_risk AS BIGINT)
  FROM ranked r JOIN km ON r.rn = km.rn + 1
)
SELECT t AS dur_min, n_risk, n_dead, surv_e6 FROM km
""",
)
def q_events_survival(spark, sf_dir):
    """Kaplan–Meier survival curve over SESSION durations with honest
    right-censoring — the time-to-event analysis behind retention and
    durability questions: sessions (30-min-gap islands, the
    q_ts_sessionize definition) "die" at their observed duration; a
    session whose last event falls inside the final 30 minutes of the
    observation window may still be open, so it is CENSORED — it leaves
    the risk set without counting as a death (the estimator's whole
    point; plain empirical survival would bias those sessions dead).
    S(t) = Π_{u≤t} (n_risk − n_dead)/n_risk as e6-scaled integers with
    floor division at every step, folded in duration order.

    Determinism/scale: sessionization is one user-keyed shuffle +
    ordered windows; the duration grid is bounded by the maximum session
    length in MINUTES (≈60 rows — time-range-bounded like the theil_sen
    grid), so the desc-cumulative risk window and the per-row prefix
    fold (slice + aggregate over the collected grid array, all JVM
    expression code) run over O(grid) rows regardless of corpus size.
    The oracle replays the identical integer recurrence as a recursive
    CTE."""
    e = load_tables(spark, sf_dir)["events"]
    wlag = Window.partitionBy("user_id").orderBy("ts")
    brk = (
        F.when(
            F.lag("ts").over(wlag).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wlag))
                > 1_800_000_000  # 30 min in µs — exact, matches the oracle's
                # INTERVAL comparison (a seconds-cast would truncate the gap)
            ),
            1,
        )
        .otherwise(0)
    )
    o = e.select("user_id", "ts", brk.alias("brk"))
    i = o.withColumn(
        "sid",
        F.sum("brk").over(
            wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    s = i.groupBy("user_id", "sid").agg(
        F.floor(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 60000000
        )
        .cast("long")
        .alias("dur"),
        F.max("ts").alias("last_ts"),
    )
    wmax = e.agg(F.max("ts").alias("wmax"))
    lt = s.crossJoin(F.broadcast(wmax)).select(
        "dur",
        (
            F.col("last_ts")
            >= F.col("wmax") - F.expr("INTERVAL 30 MINUTES")
        ).alias("censored"),
    )
    exits = lt.groupBy(F.col("dur").alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("n_exit"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("n_dead"),
    )
    wrisk = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grid = exits.select(
        "t",
        "n_dead",
        F.sum("n_exit").over(wrisk).cast("long").alias("n_risk"),
    )
    one = grid.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "n_risk", "n_dead"))
        ).alias("arr")
    )
    return one.select(
        F.explode(
            F.expr(
                """
                transform(sequence(1, size(arr)), i -> struct(
                  arr[i-1].t AS dur_min,
                  arr[i-1].n_risk AS n_risk,
                  arr[i-1].n_dead AS n_dead,
                  aggregate(slice(arr, 1, i), CAST(1000000 AS BIGINT),
                            (s, x) -> (s * (x.n_risk - x.n_dead)) div x.n_risk)
                    AS surv_e6))
                """
            )
        ).alias("r")
    ).select("r.*")


@query(
    "q_ts_rolling_median",
    oracle="""
WITH ev AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value * 100) AS BIGINT) AS v_e2
  FROM events WHERE user_id < 10
)
SELECT event_type, epoch_us(ts) AS ts_us, v_e2,
       CAST(median(v_e2) OVER (
         PARTITION BY event_type ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS med5_e2
FROM ev
""",
)
def q_ts_rolling_median(spark, sf_dir):
    """Rolling MEDIAN denoiser (5-event window per event type) — the
    robust smoothing dual of the q_win_sliding mean: a median filter
    kills spike outliers a moving average smears. Spark's median() and
    DuckDB's are both exact order statistics over the frame; inputs are
    floor-e2 BIGINTs, and an even-count frame interpolates (a+b)/2 of
    integers — exact in double — so every smoothed point hash-matches.

    Scale: one shuffle on the series key, then a bounded ROWS frame
    (5 rows of state per position) evaluated in a single window pass —
    the streaming-safe sliding shape, no self-join of the series."""
    e = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, Window.currentRow)
    )
    return (
        e.select(
            "event_type",
            "ts",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("v_e2"),
        )
        # Spark refuses inverse-distribution functions (median/percentile)
        # over a ROWS frame; the exact equivalent is a sorted frame array +
        # order-statistic arithmetic — still one window pass, ≤5 elements
        # of state, and the same (a+b)/2 interpolation the oracle's
        # median() applies.
        .withColumn("_fr", F.sort_array(F.collect_list("v_e2").over(w)))
        .withColumn(
            "med5_e2",
            F.expr(
                """CASE WHEN size(_fr) % 2 = 1
                        THEN CAST(_fr[CAST(size(_fr) div 2 AS INT)] AS DOUBLE)
                        ELSE (CAST(_fr[CAST(size(_fr) div 2 AS INT) - 1] AS DOUBLE)
                              + CAST(_fr[CAST(size(_fr) div 2 AS INT)] AS DOUBLE)) / 2
                   END"""
            ),
        )
        .select(
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "v_e2",
            "med5_e2",
        )
    )


@query(
    "q_ts_changepoint",
    oracle="""
WITH grid AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS t,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, CAST(sum(x) AS BIGINT) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM grid GROUP BY event_type
),
resid AS (
  SELECT g.event_type, g.t,
         CAST(g.x * tot.n - tot.sx AS BIGINT) AS r
  FROM grid g JOIN tot ON g.event_type = tot.event_type
),
cum AS (
  SELECT event_type, t,
         CAST(sum(r) OVER (PARTITION BY event_type ORDER BY t ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
  FROM resid
)
SELECT event_type, t AS cp_hour, CAST(abs(s) AS BIGINT) AS cusum_abs
FROM cum
QUALIFY row_number() OVER (
  PARTITION BY event_type ORDER BY abs(s) DESC, t ASC
) = 1
""",
)
def q_ts_changepoint(spark, sf_dir):
    """Change-point detection — one binary-segmentation step per event
    type: the split point is argmax_t |CUSUM_t| of the mean-centered
    hourly series (the classic AMOC/CUSUM estimator; q_ts_cusum tracks
    drift against a reference, this LOCATES the level shift). Residuals
    are scaled by n before centering (r = x·n − Σx) so every value stays
    an exact integer — no mean division anywhere — and the argmax
    tie-breaks on the earlier hour.

    Scale: one map-combinable hash-agg to the bounded hourly grid, a
    grid-sized rollup join, one event_type-partitioned cumulative window
    and one ranking window — all O(groups · T) with T bounded by the
    time range."""
    e = load_tables(spark, sf_dir)["events"]
    grid = e.groupBy(
        "event_type",
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias("t"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("x"))
    tot = grid.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    resid = grid.join(tot, "event_type").select(
        "event_type",
        "t",
        (F.col("x") * F.col("n") - F.col("sx")).cast("long").alias("r"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = resid.select(
        "event_type", "t", F.sum("r").over(wcum).cast("long").alias("s")
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("t").asc()
    )
    return (
        cum.withColumn("_rn", F.row_number().over(wrank))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            F.col("t").alias("cp_hour"),
            F.abs(F.col("s")).cast("long").alias("cusum_abs"),
        )
    )


@query(
    "q_events_ab_test",
    oracle="""
WITH u AS (
  SELECT user_id,
         substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '8000' AS is_a,
         CAST(CASE WHEN 5 * sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) > count(*)
                   THEN 1 ELSE 0 END AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
c AS (
  SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_a THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE converted END) AS BIGINT) AS conv_b
  FROM u
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST((1000 * conv_a) // n_a AS BIGINT) AS rate_a_milli,
       CAST((1000 * conv_b) // n_b AS BIGINT) AS rate_b_milli,
       round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4) AS z_score
FROM c
""",
)
def q_events_ab_test(spark, sf_dir):
    """A/B-experiment readout — the two-proportion z-test every
    experimentation platform serves: users are split 50/50 by the
    hash-stable bucket (the q_llm_split assignment discipline, so a
    user's arm never changes as data grows), conversion = the user's
    purchase SHARE exceeds the 1/5 uniform baseline (a scale-invariant
    per-user rate — absolute-count or value thresholds degenerate to
    all-convert or none-convert as events-per-user grows, putting the
    pooled rate at 0 or 1 where the z statistic is 0/0), and the
    pooled-variance z statistic compares the arms.
    Counts are exact integers; the one z evaluation is the same IEEE
    double expression over those identical integers in both engines
    (sqrt is IEEE-exact), rounded to 4dp — the q_ts_autocorr posture.

    Scale: one user-keyed hash-agg (map-combinable max) + one global
    4-counter rollup; the z arithmetic runs on a single row."""
    e = load_tables(spark, sf_dir)["events"]
    u = e.groupBy("user_id").agg(
        F.when(
            5
            * F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("converted")
    ).select(
        (
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4)
            < F.lit("8000")
        ).alias("is_a"),
        "converted",
    )
    c = u.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(F.col("converted")))
        .cast("long")
        .alias("conv_b"),
    )
    z = F.expr(
        """round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 4)"""
    )
    return c.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("(1000 * conv_a) div n_a").cast("long").alias("rate_a_milli"),
        F.expr("(1000 * conv_b) div n_b").cast("long").alias("rate_b_milli"),
        z.alias("z_score"),
    )
