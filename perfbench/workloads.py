"""The benchmark's workloads and the end-to-end and per-layer numbers they yield.

Each workload is one closed loop from one process against one SparkSession
(``session.get_session``), and every operation is fresh: it calls into the
program anew and collects the result.

- ``pipeline_build``: three query functions whose Python build fires Spark
  jobs eagerly, over generated sf0.05 tables (see ``gen.make_tables``; at
  sf0.01 and sf0.1 the queries fire the same jobs and return nearly the
  same rows as on the driver's testdata, which ``calibrate.py`` shows); one
  untimed warm pass, then whole passes in a seeded order.
- ``acid_commit``: writes beside reads on one logged table, through both
  ACID cores (``tableformat.Table`` and the ``pkg2acid`` data source), in
  whole rounds of eight operations.
- ``service_mix``: two HTTP clients against ``service.make_http_server`` over
  a generated APKINDEX, with a fixed endpoint mix.

Every operation's output is checked: against a warm pass (and the DuckDB
oracle) for queries, against a Python model for the table, against the
generator's ground truth for the service. A failed check counts as a failed
operation.

With tracing on, spans and Spark counters are recorded at every layer call
the benchmark makes, and the run yields the per-layer metrics instead.
"""

from __future__ import annotations

import json
import os
import random
import resource
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
import zlib
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor, as_completed

import gen
from tracing import SparkProbe, Tracer, make_stream_listener, plan_phases_ms


# ---------------------------------------------------------------- run state
class Run:
    """State of one workload run: latencies, failures, set-up time and
    the per-layer values gathered along the way."""

    def __init__(self, work: str, seed: int, seconds: float, traced: bool):
        self.work, self.seed, self.seconds, self.traced = work, seed, seconds, traced
        self.tracer = Tracer(traced)
        self.probe: SparkProbe | None = None
        self.lat: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.window_s = 0.0
        self.session_s = 0.0
        self.setup_s = 0.0  # the workload's own set-up after the session
        self.rss_base_mb = 0.0  # this process's peak RSS once inputs exist
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        # per-op Spark statistics gathered in traced runs, by phase kind
        self.phase_stats: dict[str, list[dict]] = defaultdict(list)
        self.by_kind: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._ops = 0

    def next_op(self, kind: str) -> str:
        with self._lock:
            self._ops += 1
            return f"{kind}#{self._ops}"

    def done(self, kind: str, seconds: float, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            self.lat.append(seconds)
            self.by_kind[kind].append(seconds)
            if not ok:
                self.failed += 1
                if len(self.failures) < 10:
                    self.failures.append(what)

    def fail(self, what: str) -> None:
        """Mark an operation already counted as failed by a later check."""
        with self._lock:
            self.failed = min(self.failed + 1, self.attempted)
            if len(self.failures) < 10:
                self.failures.append(what)

    def inputs_ready(self) -> None:
        """Mark that the workload's inputs exist; peak RSS counts from here."""
        self.rss_base_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def phase(self, label: str):
        """(context manager, stats): probes the Spark work of one phase into
        stats. Callers add the stats to ``phase_stats`` once the phase has
        completed."""
        out: dict = {}
        return self.probe.group(label, out), out

    def rounds(self, one_round) -> None:
        """Run whole rounds until the measured time reaches ``seconds``.
        ``one_round`` returns the seconds it spent outside operations
        (input generation, checks), which the window excludes."""
        t0 = time.perf_counter()
        excluded = 0.0
        while True:
            excluded += one_round()
            if time.perf_counter() - t0 - excluded >= self.seconds:
                break
        self.window_s = time.perf_counter() - t0 - excluded


def _tail(run: Run) -> tuple[float, str]:
    """(seconds, definition) of the latency tail. With at least 25 samples
    it is the highest percentile with ten samples above it. Fewer samples
    leave no percentile above p60 with ten beyond it, so the tail is then
    the median latency of the slowest kind of operation."""
    s = sorted(run.lat)
    n = len(s)
    if n >= 25:
        return s[n - 11], f"p{100.0 * (n - 10) / n:.1f}"
    kind, secs = max(((k, statistics.median(v)) for k, v in run.by_kind.items()), key=lambda kv: kv[1])
    return secs, f"median of {kind}"


def _peak_rss_mb(run: Run, spark) -> float:
    """Peak RSS of the JVM child plus the growth of this process's peak
    RSS since the workload's inputs were generated, so the benchmark's own
    inputs, models and ground truth are left out."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 - run.rss_base_mb
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        jvm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return jvm / 1024.0 + max(0.0, own)


def end_to_end(run: Run, spark) -> dict[str, float]:
    tail, run.info["lat_tail"] = _tail(run)
    run.info["samples"] = len(run.lat)
    run.info["median_ms"] = {k: round(statistics.median(v) * 1e3, 1) for k, v in run.by_kind.items()}
    run.layer["process.peak_rss_mb"] = _peak_rss_mb(run, spark)
    return {
        "setup_s": run.session_s + run.setup_s,
        "ops_per_s": len(run.lat) / run.window_s,
        "lat_p50_ms": statistics.median(run.lat) * 1e3,
        "lat_tail_ms": tail * 1e3,
    }


# ----------------------------------------------------------- shared set-up
def start_session(run: Run):
    from pkg2_spark.session import get_session

    t0 = time.perf_counter()
    with run.tracer.span("session.get_session", op="setup"):
        spark = get_session(app_name="perfbench")
    run.session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run.layer["session.start_s"] = run.session_s
    if run.traced:
        run.probe = SparkProbe(spark)
    run.info["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return spark


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _exec_layer(run: Run, kinds: list[str]) -> None:
    """spark.exec.* per-layer values over the probed phases of ``kinds``."""
    rows = [s for k in kinds for s in run.phase_stats.get(k, [])]
    if not rows:
        return
    wall = sum(s["wall_ms"] for s in rows)
    jobs = sum(s["jobs"] for s in rows)
    cores = run.probe.cores
    run.layer.update(
        {
            "spark.exec.collect_ms": _mean(s["wall_ms"] for s in rows),
            "spark.exec.jobs": jobs / len(rows),
            "spark.exec.stages": _mean(s["stages"] for s in rows),
            "spark.exec.tasks": _mean(s["tasks"] for s in rows),
            "spark.exec.ms_per_job": wall / jobs if jobs else 0.0,
            "spark.exec.busy_frac": sum(s["run_ms"] for s in rows) / (wall * cores) if wall else 0.0,
            "spark.exec.shuffle_read_bytes": _mean(s["shuffle_read"] for s in rows),
            "spark.exec.shuffle_write_bytes": _mean(s["shuffle_write"] for s in rows),
            "spark.exec.spill_bytes": _mean(s["spill"] for s in rows),
            "spark.exec.result_rows": _mean(s["rows"] for s in rows if "rows" in s),
        }
    )


# ------------------------------------------------------------ pipeline_build
# Queries whose build fires Spark jobs (q_stream_rt_join's run as streaming
# micro-batches). Each pass runs every query PASS_REPEATS times.
PIPELINE = [
    "q_llm_dedup_resolve",
    "q_pkg_resolve",
    "q_stream_rt_join",
]
PASS_REPEATS = 2
PIPELINE_SF = 0.05


def result_key(pdf) -> int:
    """Order-insensitive value hash of a collected result."""
    from pkg2_spark.compare import _canon

    return hash((tuple(sorted(pdf.columns)), tuple(_canon(pdf))))


def fresh_query(run: Run, spark, sf_dir: str, name: str, probe: bool):
    """One fresh invocation: build the DataFrame with the registered query
    function, then plan, execute and collect it. Returns (seconds, pandas).
    With ``probe``, the build and collect phases are traced separately."""
    import pkg2_spark.queries  # noqa: F401 — registers every query
    from pkg2_spark.registry import QUERIES

    fn = QUERIES[name]
    if not probe:
        t0 = time.perf_counter()
        pdf = fn(spark, sf_dir).toPandas()
        return time.perf_counter() - t0, pdf
    op = run.next_op(name)
    t0 = time.perf_counter()
    with run.tracer.span(f"queries.{name}", op=op):
        group, build = run.phase(name)
        with run.tracer.span("queries.build"), group:
            df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        group, collect = run.phase(name)
        with run.tracer.span("spark.collect"), group:
            pdf = df.toPandas()
    t2 = time.perf_counter()
    build["wall_ms"], collect["wall_ms"] = (t1 - t0) * 1e3, (t2 - t1) * 1e3
    collect["rows"] = len(pdf)
    collect["plan"] = plan_phases_ms(df)
    run.phase_stats["build"].append(build)
    run.phase_stats["collect"].append(collect)
    return t2 - t0, pdf


def _oracle_matches(con, name: str, pdf) -> bool:
    """Whether a warm result equals the DuckDB oracle's, as the driver
    compares them (pkg2_spark.compare)."""
    from pkg2_spark.compare import _canon
    from pkg2_spark.registry import ORACLES

    oracle = con.execute(ORACLES[name]).fetchdf()
    return sorted(oracle.columns) == sorted(pdf.columns) and _canon(oracle) == _canon(pdf)


def pipeline_build(run: Run, spark) -> None:
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.streaming import harness

    sf_dir = os.path.join(run.work, f"bench_sf{PIPELINE_SF}")
    run.info["tables"] = gen.make_tables(sf_dir, sf=PIPELINE_SF)
    run.inputs_ready()
    before = run.probe.ungrouped_jobs() if run.traced else set()
    t0 = time.perf_counter()
    with run.tracer.span("catalog.load_tables", op="setup"):
        load_tables(spark, sf_dir)  # registers the views and ANALYZEs the tables
    run.setup_s = run.layer["catalog.load_s"] = time.perf_counter() - t0
    if run.traced:
        # the ANALYZE jobs run on the catalog's own threads, outside any group
        run.layer["catalog.jobs"] = len(run.probe.ungrouped_jobs() - before)

    # Warm pass: fills the engine's fixtures and memos and compiles the
    # generated code; its results are the reference for every fresh one.
    # The queries share no state, so each warms on its own thread, and each
    # result's oracle check starts on a side thread as soon as it is in.
    from pkg2_spark.compare import duckdb_connect
    from pkg2_spark.registry import ORACLES

    def warm(name: str):
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
        return fresh_query(run, spark, sf_dir, name, probe=False)

    ref, oracle = {}, {}
    t0 = time.perf_counter()
    con = duckdb_connect(sf_dir)
    try:
        with ThreadPoolExecutor(len(PIPELINE)) as pool, ThreadPoolExecutor(1) as checks:
            warming = {pool.submit(warm, name): name for name in PIPELINE}
            for done in as_completed(warming):
                name = warming[done]
                secs, pdf = done.result()
                run.info.setdefault("warm_query_s", {})[name] = round(secs, 3)
                ref[name] = result_key(pdf)
                if name in ORACLES:
                    oracle[name] = checks.submit(_oracle_matches, con, name, pdf)
            bad = [n for n, f in oracle.items() if not f.result()]
    finally:
        con.close()
    if bad:
        raise RuntimeError(f"warm results differ from the DuckDB oracle: {bad}")
    run.info["oracle_checked"] = sorted(oracle)
    run.info["warm_s"] = time.perf_counter() - t0

    run.tracer.wrap(harness, "run_to_memory", "streaming.harness.run_to_memory")
    run.tracer.wrap(harness, "events_stream", "streaming.harness.events_stream")
    listener = None
    if run.traced:
        listener = make_stream_listener(run.tracer)
        spark.streams.addListener(listener)
    rng = random.Random(run.seed)

    def one_pass() -> float:
        checks = 0.0
        for name in rng.sample(PIPELINE * PASS_REPEATS, len(PIPELINE) * PASS_REPEATS):
            try:
                secs, pdf = fresh_query(run, spark, sf_dir, name, probe=run.traced)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                run.done(name, 0.0, False, f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            t = time.perf_counter()
            ok = result_key(pdf) == ref[name]
            checks += time.perf_counter() - t
            run.done(name, secs, ok, "result differs from warm pass")
        return checks

    run.rounds(one_pass)
    if listener is not None:
        spark.streams.removeListener(listener)
        n = run.tracer.counts.get("streaming.batches", 0)
        runs = sum(1 for s in run.tracer.spans if s[1] == "queries.q_stream_rt_join")
        run.layer["streaming.batches"] = n / runs if runs else 0.0
        run.layer["streaming.trigger_ms"] = run.tracer.counts.get("streaming.trigger_ms", 0) / n if n else 0.0
        run.layer["streaming.state_rows"] = run.tracer.counts.get("streaming.state_rows", 0) / n if n else 0.0
    if run.traced:
        builds, collects = run.phase_stats["build"], run.phase_stats["collect"]
        bw = sum(b["wall_ms"] for b in builds)
        run.layer["queries.build_ms"] = _mean(b["wall_ms"] for b in builds)
        run.layer["queries.build_jobs"] = _mean(b["jobs"] for b in builds)
        run.layer["queries.build_share"] = bw / (bw + sum(c["wall_ms"] for c in collects))
        for phase in ("analysis", "optimization", "planning"):
            run.layer[f"spark.plan.{phase}_ms"] = _mean(c["plan"][phase] for c in collects)
        _exec_layer(run, ["collect"])


# --------------------------------------------------------------- acid_commit
# Rows in the created table, in each append, in each merge (half updates),
# and the id span of each filtered read.
ACID_SIZES = {"base": 50_000, "append": 5_000, "merge": 2_500, "read_span": 10_000}
# The ops of one round, in order: (kind, layer). Later ops depend on the
# commits of earlier ones, so a round always runs all of them.
ACID_OPS = [
    ("append", "tableformat"), ("ds_append", "acid_datasource"),
    ("merge", "tableformat"), ("delete_dv", "tableformat"),
    ("read", "tableformat"), ("ds_read", "acid_datasource"),
    ("changes", "tableformat"), ("change_feed", "acid_datasource"),
]
# The snapshot digest: Spark aggregates and model_digest compute the same sums.
_DIGEST_EXPRS = (
    "count(*) AS n",
    "sum(id) AS s_id",
    "sum(id * grp) AS s_grp",
    "sum(CAST(round(amount * 100) AS BIGINT) * (id % 1000 + 1)) AS s_amt",
    "sum(crc32(tag) % 65521 * (id % 997 + 1)) AS s_tag",
)


def model_digest(rows) -> tuple:
    n = s_id = s_grp = s_amt = s_tag = 0
    for i, g, a, t in rows:
        n += 1
        s_id += i
        s_grp += i * g
        s_amt += int(round(a * 100)) * (i % 1000 + 1)
        s_tag += zlib.crc32(t.encode()) % 65521 * (i % 997 + 1)
    return (n, s_id, s_grp, s_amt, s_tag)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class AcidRounds:
    """One logged table and the rounds of operations run against it."""

    def __init__(self, run: Run, spark, path: str, seed: int, sizes: dict):
        from pkg2_spark.tableformat import Table

        self.run, self.spark, self.path, self.sizes = run, spark, path, sizes
        self.batches = gen.AcidBatches(seed)
        self.inputs = path + "-batches"
        os.makedirs(self.inputs)
        self.table = Table(spark, path, stats_cols=["id"], cluster_by="id", num_files=4)
        self.rounds = 0
        self.batch_bytes = 0

    def _batch(self, kind: str, rows: list[tuple]) -> str:
        f = os.path.join(self.inputs, f"{kind}-{self.rounds}.parquet")
        self.batch_bytes += gen.AcidBatches.write(rows, f)
        return f

    def create(self) -> float:
        """Create the table from a generated base batch; returns the
        seconds ``Table.create`` took."""
        rows = self.batches.new_rows(self.sizes["base"])
        f = self._batch("base", rows)
        self.batches.upsert(rows)
        t0 = time.perf_counter()
        with self.run.tracer.span("tableformat.create", op="setup"):
            self.table.create(self.spark.read.parquet(f))
        return time.perf_counter() - t0

    def _op(self, kind: str, layer: str, fn, check):
        """Time one operation, then check its output outside the timing.
        Returns the seconds spent checking."""
        run = self.run
        t0 = time.perf_counter()
        if run.traced:
            group, stats = run.phase(kind)
            with run.tracer.span(f"{layer}.{kind}", op=run.next_op(kind)), group:
                out = fn()
            stats["wall_ms"] = (time.perf_counter() - t0) * 1e3
            if isinstance(out, dict):  # the change feed's rows by change type
                stats["rows"] = sum(out.values())
            elif hasattr(out, "columns"):  # a collected read; writes return no rows
                stats["rows"] = len(out)
            run.phase_stats[kind].append(stats)
        else:
            out = fn()
        secs = time.perf_counter() - t0
        ok, what = check(out)
        run.done(kind, secs, ok, f"round {self.rounds}: {what}")
        return time.perf_counter() - t0 - secs

    def round(self) -> float:
        """Run the eight operations once, each checked against the model;
        returns the seconds spent outside the operations."""
        import pyspark.sql.functions as F

        from pkg2_spark.tableformat import latest_version

        spark, table, path, b, size = self.spark, self.table, self.path, self.batches, self.sizes
        t = time.perf_counter()
        self.rounds += 1
        rows = {
            "append": b.new_rows(size["append"]),
            "ds_append": b.new_rows(size["append"]),
            "merge": b.merge_rows(size["merge"]),
        }
        files = {k: self._batch(k, v) for k, v in rows.items()}
        pred, match = b.delete_predicate()
        lo = random.Random(self.run.seed * 1000 + self.rounds).randrange(0, b.next_id - size["read_span"])
        hi = lo + size["read_span"] - 1
        v_start = latest_version(path)
        state: dict = {}
        excluded = time.perf_counter() - t

        def after_append(_):
            b.upsert(rows["append"])
            b.mark()  # the snapshot Table.changes diffs from
            return True, ""

        def after_ds_append(_):
            b.upsert(rows["ds_append"])
            state["updated"] = sum(1 for r in rows["merge"] if r[0] in b.model)
            return True, ""

        def after_merge(_):
            b.upsert(rows["merge"])
            return True, ""

        def after_delete(_):
            state["deleted"] = b.delete(match)
            state["in_range"] = sum(1 for k in b.model if lo <= k <= hi)
            return True, ""

        def rows_in_range(pdf):
            return len(pdf) == state["in_range"], f"{len(pdf)} rows, model has {state['in_range']}"

        def changes_match(pdf):
            want = b.diff_since_mark()
            got = pdf["change_type"].value_counts().to_dict()
            return got == want, f"{got} != {want}"

        def feed_match(got):
            # per-commit images: every appended and merged row is an insert;
            # each merge update's old image and each DV-deleted row a delete
            want = {
                "insert": 2 * size["append"] + size["merge"],
                "delete": state["updated"] + state["deleted"],
            }
            return got == want, f"{got} != {want}"

        def change_feed():
            counts: dict = defaultdict(int)

            def drain(batch_df, _epoch):
                for r in batch_df.groupBy("change_type").count().collect():
                    counts[r[0]] += r[1]

            q = (
                spark.readStream.format("pkg2acid")
                .option("change_feed", "true")
                .option("starting_version", str(v_start + 1))
                .load(path)
                .writeStream.foreachBatch(drain)
                .option("checkpointLocation", f"{path}-cdf-{self.rounds}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            state["feed_group"] = str(q.runId)
            return dict(counts)

        in_range = F.col("id").between(lo, hi)
        ops = {
            "append": (lambda: table.append(spark.read.parquet(files["append"])), after_append),
            "ds_append": (
                lambda: spark.read.parquet(files["ds_append"]).write.format("pkg2acid").mode("append").save(path),
                after_ds_append,
            ),
            "merge": (lambda: table.merge(spark.read.parquet(files["merge"]), key="id"), after_merge),
            "delete_dv": (lambda: table.delete_where_dv(pred), after_delete),
            "read": (lambda: table.read().filter(in_range).toPandas(), rows_in_range),
            "ds_read": (
                lambda: spark.read.format("pkg2acid").load(path).filter(in_range).toPandas(),
                rows_in_range,
            ),
            "changes": (
                lambda: table.changes(latest_version(path) - 3, latest_version(path)).toPandas(),
                changes_match,
            ),
            "change_feed": (change_feed, feed_match),
        }
        for kind, layer in ACID_OPS:
            fn, check = ops[kind]
            excluded += self._op(kind, layer, fn, check)
        if self.run.traced:
            # the change feed's micro-batches run under its stream's job group
            feed = self.run.phase_stats["change_feed"][-1]
            jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(state["feed_group"])
            for k, v in self.run.probe.job_stats(jobs).items():
                feed[k] += v

        t = time.perf_counter()
        got = tuple(0 if v is None else int(v) for v in table.read().selectExpr(*_DIGEST_EXPRS).collect()[0])
        want = model_digest(b.model.values())
        if got != want:
            self.run.fail(f"round {self.rounds}: snapshot digest {got} != model {want}")
        return excluded + time.perf_counter() - t


def _warm_acid(spark, work: str) -> None:
    """Run each kind of ACID operation once on tiny tables, in three
    parallel lanes. Cold, the Python data-source workers, the streaming
    engine and the generated code of merge and changes cost seconds each;
    the measured rounds should not pay that."""
    from pkg2_spark.tableformat import Table

    def lane(i: int) -> None:
        # Python data sources resolve through the thread's active session,
        # which a new thread does not have
        spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
        path = os.path.join(work, f"lane{i}")
        t = Table(spark, path, stats_cols=["id"], cluster_by="id", num_files=2)
        rows = spark.range(0, 400).selectExpr(
            "id", "CAST(id % 100 AS INT) AS grp", "CAST(id AS DOUBLE) AS amount", "CAST(id AS STRING) AS tag"
        )
        t.create(rows)
        more = rows.selectExpr("id + 1000 AS id", "grp", "amount", "tag")
        upd = rows.filter("id < 50").selectExpr("id", "grp", "amount + 1 AS amount", "tag")
        if i == 0:
            t.delete_where_dv("id % 7 = 0")
            more.write.format("pkg2acid").mode("append").save(path)
            for _ in range(2):
                spark.read.format("pkg2acid").load(path).filter("id < 100").toPandas()
        else:
            t.append(more)
            t.merge(upd, key="id")
            t.delete_where_dv("id % 7 = 0")
        if i == 1:
            t.changes(0, 3).toPandas()
            t.read().filter("id < 100").toPandas()
        elif i == 2:
            q = (
                spark.readStream.format("pkg2acid").option("change_feed", "true").load(path)
                .writeStream.foreachBatch(lambda df, _: df.groupBy("change_type").count().collect())
                .option("checkpointLocation", path + "-cdf")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    with ThreadPoolExecutor(3) as pool:
        for f in [pool.submit(lane, i) for i in range(3)]:
            f.result()


def acid_commit(run: Run, spark) -> None:
    from pkg2_spark.acid_datasource import register_acid_source
    from pkg2_spark.tableformat import dv_state, snapshot_files

    register_acid_source(spark)
    acid = AcidRounds(run, spark, os.path.join(run.work, "table"), run.seed, ACID_SIZES)
    run.setup_s = acid.create()
    run.inputs_ready()
    run.info["rows"] = ACID_SIZES
    t0 = time.perf_counter()
    _warm_acid(spark, os.path.join(run.work, "warm"))
    run.info["warm_s"] = time.perf_counter() - t0

    bytes_before = _dir_bytes(acid.path)
    run.rounds(acid.round)
    measured = acid.rounds

    live = snapshot_files(acid.path)
    dvs = [os.path.join(acid.path, e["path"]) for e in dv_state(acid.path)]
    total = _dir_bytes(acid.path)
    run.info["rounds"] = measured
    run.info["batch_bytes"] = acid.batch_bytes
    run.layer["tableformat.space_amp"] = total / sum(os.path.getsize(f) for f in live + dvs)
    run.layer["tableformat.bytes_added"] = (total - bytes_before) / measured
    run.layer["tableformat.live_files"] = len(live)
    merges = [c for c in acid.table.history() if c.get("op") == "merge"]
    run.layer["tableformat.merge_pruned_files"] = _mean(c["meta"].get("pruned_files", 0) for c in merges)
    run.layer["tableformat.merge_rewritten_files"] = _mean(c["meta"].get("rewritten_files", 0) for c in merges)
    if run.traced:
        for kind, layer in ACID_OPS:
            name = f"{layer}.{kind.removeprefix('ds_')}"
            stats = run.phase_stats.get(kind, [])
            run.layer[f"{name}_ms"] = _mean(s["wall_ms"] for s in stats)
            run.layer[f"{name}_jobs"] = _mean(s["jobs"] for s in stats)
        run.layer["acid_datasource.read_tasks"] = _mean(s["tasks"] for s in run.phase_stats["ds_read"])
        _exec_layer(run, [k for k, _ in ACID_OPS])


# --------------------------------------------------------------- service_mix
# Requests per deck of 20 by endpoint: search 30%, whatprovides 20%,
# whatdepends 15%, resolve 15%, sql 10%, latest 5%, table 5%. Each client
# plays whole decks in a seeded order, so every run has the same mix.
SERVICE_DECK = [
    ("search", 6), ("whatprovides", 4), ("whatdepends", 3), ("resolve", 3),
    ("sql", 2), ("latest", 1), ("table", 1),
]
SERVICE_PACKAGES = 20_000
SERVICE_CLIENTS = 2


class TimedService:
    """Wraps the QueryService handed to the HTTP server: each ``handle`` runs
    under a span and a job group, and its time rides back in the envelope so
    the client can split off the HTTP overhead."""

    def __init__(self, svc, run: Run):
        self.svc, self.run = svc, run

    def endpoints(self):
        return self.svc.endpoints()

    def handle(self, endpoint, params=None):
        run = self.run
        group, stats = run.phase(endpoint)
        t0 = time.perf_counter()
        with run.tracer.span(f"service.{endpoint}"), group:
            out = self.svc.handle(endpoint, params)
        stats["wall_ms"] = (time.perf_counter() - t0) * 1e3
        stats["truncated"] = bool(out.get("truncated"))
        stats["rows"] = out.get("row_count", 0)
        with run._lock:
            run.phase_stats[f"service.{endpoint}"].append(stats)
        return {**out, "_handle_ms": stats["wall_ms"]}


def _request(rng: random.Random, idx: gen.PackageIndex, ep: str):
    """Seeded parameters for one request to ``ep``, and the check of its
    response against the generator's ground truth: (params, check). The
    ground truth is computed when the check runs."""
    n = len(idx.names)
    if ep == "search":
        if rng.random() < 0.2:
            pattern = rng.choice(["lib%", "py3-%", "%pkg1%"])
        else:
            pattern = f"%pkg{rng.randrange(n // 10):04d}_"
        return {"pattern": pattern}, lambda r: _check_rows(r, {x["name"] for x in r["rows"]}, idx.search(pattern))
    if ep == "whatprovides":
        i = rng.randrange(n)
        cap = rng.choice(idx.provides[i] + [idx.names[i]])
        return {"capability": cap}, lambda r: _check_rows(
            r, {x["provider"] for x in r["rows"]}, idx.whatprovides(cap)
        )
    if ep == "whatdepends":
        pkg = idx.names[rng.randrange(n)]
        return {"package": pkg}, lambda r: _check_rows(
            r, {(x["dependent"], x["capability"]) for x in r["rows"]}, idx.whatdepends(pkg)
        )
    if ep == "resolve":
        pkg = idx.names[rng.randrange(n // 2, n)]

        def check(r):
            ordered = sorted(idx.resolve(pkg).items(), key=lambda kv: (kv[1], kv[0]))
            got = [(x["node"], x["depth"]) for x in r["rows"]]
            return got == ordered[: len(got)] and len(got) == min(len(ordered), 200)

        return {"package": pkg}, check
    if ep == "sql":
        stem = rng.choice(["lib", "py3-", "perl-", "font-", "x11-", "go-", "rust-"])
        q = f"SELECT count(*) AS n FROM packages WHERE name LIKE '{stem}%'"
        return {"query": q}, lambda r: r["rows"] == [{"n": len(idx.search(f"{stem}%"))}]
    if ep == "latest":
        return {}, lambda r: r["row_count"] == 200 and r["truncated"]
    return {"name": "packages"}, lambda r: r["row_count"] == 200 and r["truncated"]


def _check_rows(resp: dict, got: set, truth: set) -> bool:
    if resp["truncated"]:
        return len(got) == resp["row_count"] and got <= truth and len(truth) > resp["row_count"]
    return got == truth


def service_mix(run: Run, spark) -> None:
    from pkg2_spark.engine import Engine
    from pkg2_spark.service import QueryService, make_http_server

    index_path = os.path.join(run.work, "APKINDEX")
    idx, sizes = gen.make_apkindex(index_path, run.seed, SERVICE_PACKAGES)
    run.info["index"] = sizes
    run.inputs_ready()
    t0 = time.perf_counter()
    with run.tracer.span("engine.ingest_apkindex", op="setup"):
        engine = Engine(spark)
        n = engine.ingest_apkindex(index_path).count()
    run.setup_s = run.layer["engine.ingest_s"] = time.perf_counter() - t0
    if n != SERVICE_PACKAGES:
        raise RuntimeError(f"ingested {n} packages, generated {SERVICE_PACKAGES}")

    svc = QueryService(engine)
    server = make_http_server(TimedService(svc, run) if run.traced else svc)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()

    def call(ep: str, params: dict):
        url = f"http://127.0.0.1:{port}/{ep}?" + urllib.parse.urlencode(params)
        with urllib.request.urlopen(url, timeout=120) as resp:
            return json.loads(resp.read())

    deck = [ep for ep, k in SERVICE_DECK for _ in range(k)]

    def client(cid: int, deadline: float) -> list:
        """Play whole seeded decks until the deadline; returns (ep, params,
        check, seconds, response or error) per request. Responses are
        checked after the window, so the clients spend it on requests."""
        rng = random.Random(run.seed * 100 + cid)
        out = []
        while time.perf_counter() < deadline:
            for ep in rng.sample(deck, len(deck)):
                params, check = _request(rng, idx, ep)
                t0 = time.perf_counter()
                try:
                    body = call(ep, params)
                except (urllib.error.URLError, OSError, ValueError) as exc:
                    body = exc
                out.append((ep, params, check, time.perf_counter() - t0, body))
        return out

    try:
        # warm-up: every endpoint twice, results unchecked
        warm_rng = random.Random(run.seed)
        for ep, _ in SERVICE_DECK * 2:
            call(ep, _request(warm_rng, idx, ep)[0])
        run.phase_stats.clear()
        t0 = time.perf_counter()
        deadline = t0 + run.seconds
        with ThreadPoolExecutor(SERVICE_CLIENTS) as pool:
            results = [f.result() for f in [pool.submit(client, c, deadline) for c in range(SERVICE_CLIENTS)]]
        run.window_s = time.perf_counter() - t0
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)

    overhead = []
    for ep, params, check, secs, body in (r for res in results for r in res):
        if isinstance(body, Exception):
            run.done(ep, secs, False, f"{params}: {body}"[:300])
            continue
        run.done(ep, secs, check(body), f"{params}: wrong result")
        if "_handle_ms" in body:
            overhead.append(secs * 1e3 - body["_handle_ms"])

    if run.traced:
        trunc = []
        for ep, _ in SERVICE_DECK:
            stats = run.phase_stats.get(f"service.{ep}", [])
            run.layer[f"service.{ep}.ms"] = _mean(s["wall_ms"] for s in stats)
            run.layer[f"service.{ep}.jobs"] = _mean(s["jobs"] for s in stats)
            trunc += [s["truncated"] for s in stats]
        run.layer["service.http_overhead_ms"] = statistics.median(overhead) if overhead else 0.0
        run.layer["service.truncated_frac"] = _mean(trunc)
        _exec_layer(run, [k for k in run.phase_stats if k.startswith("service.")])


WORKLOADS = {
    "pipeline_build": pipeline_build,
    "acid_commit": acid_commit,
    "service_mix": service_mix,
}
