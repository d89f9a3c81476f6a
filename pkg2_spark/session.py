"""SparkSession factory.

The engine runs on any SparkSession (the verification driver passes its own),
but sessions built here carry the verified config set from SURVEY.md §1.3/§4.2:
- ``spark.sql.legacy.parquet.nanosAsLong`` — events.parquet stores
  TIMESTAMP(NANOS) which Spark 4.x refuses to read natively.
- UTC session timezone — cross-engine timestamp agreement.
- AQE on — runtime partition coalescing / skew handling at scale.

``ensure_runtime_confs`` applies the runtime-settable subset to a foreign
session (verified: nanosAsLong works via ``spark.conf.set`` before the first
read of the affected file).
"""

from __future__ import annotations

import os
import threading
import warnings
from collections import OrderedDict

from pyspark.sql import SparkSession

RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # Arrow-batched toPandas/createDataFrame — the verification driver
    # round-trips every query result through pandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Cost-based optimization over the ANALYZE stats the catalog collects at
    # ingest (catalog.py::_ensure_stats_tables — SURVEY.md §4.1 obligation):
    # join reordering on the 5-6 table composites rides on these instead of
    # AQE alone.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply required runtime-settable confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    # A foreign session left at Spark's static default of 200 shuffle
    # partitions pays ~200 task launches per exchange regardless of data
    # size; AQE only coalesces down to advisoryPartitionSize targets. If the
    # conf is the untouched default, right-size it to the session's core
    # count (deliberate non-default settings are preserved; non-numeric
    # values like Databricks' "auto" fall through untouched).
    try:
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(int(cores), 8)))
    except Exception:
        pass
    return spark


def get_session(
    app_name: str = "pkg2_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's verified config.

    local[N] defaults come from $SPARK_GRAFT_CPUS, else the cores this
    process may run on (its affinity set, which a container or taskset
    narrows below os.cpu_count()); shuffle partitions default to the core
    count (small data — SURVEY.md §4.2 benches used 8 at sf0.1; at real
    scale leave AQE to coalesce).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity")  # Linux only
        else os.cpu_count()
    )
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else cpus),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)


class BuildOnce:
    """A dict whose values are built on first get, exactly once.

    Each key has its own build lock, taken with a double check, so
    concurrent first gets of one key run ``build`` once, and a build of
    one key never waits on the build of another: a seconds-long IVF tree
    build does not stall the load_tables hits every query makes. A warm
    hit takes only the short guard, which no build holds. A build that
    raises stores nothing, so the next get builds again. With
    ``max_entries`` the dict is an LRU of that size."""

    def __init__(self, max_entries: int | None = None):
        self._values: OrderedDict = OrderedDict()
        self._building: dict = {}
        self._guard = threading.Lock()
        self._max = max_entries

    def get(self, key, build):
        with self._guard:
            if key in self._values:
                self._values.move_to_end(key)
                return self._values[key]
            lock = self._building.setdefault(key, threading.Lock())
        with lock:
            with self._guard:
                if key in self._values:
                    return self._values[key]
            try:
                value = build()
                with self._guard:
                    self._values[key] = value
                    while self._max is not None and len(self._values) > self._max:
                        self._values.popitem(last=False)
            finally:
                with self._guard:
                    self._building.pop(key, None)
            return value

    def drop(self, match) -> None:
        """Forget every entry whose key satisfies ``match``."""
        with self._guard:
            for key in [k for k in self._values if match(k)]:
                del self._values[key]


# Session-derived state of the whole process: registered tables and
# frames derived from them. Every key starts with the JVM session's
# sessionUUID, which is shared by every frame of one session and new
# after newSession() and after stop(): a frame built on one session, or
# checkpointed into a stopped context's block manager, is never handed
# to another. An LRU bound keeps a long-lived process (service, bench, a
# driver that restarts its session) from growing. Measured, the whole
# registry makes 7 entries per scale factor (tables, co-supply edges, two
# IVF corpora's ks and trees, one cell-slot map) and one view pointer per
# session: two scale factors in one session fit in 16 without a rebuild.
SESSION_MEMO_ENTRIES = 16
_SESSION_MEMO = BuildOnce(SESSION_MEMO_ENTRIES)


def session_memo(spark: SparkSession, key: tuple, build):
    """``build()`` once per (session, key); ``key[0]`` is its tag."""
    return _SESSION_MEMO.get((spark._jsparkSession.sessionUUID(), *key), build)


def plan_memo(df, tag: str, build):
    """``build()`` once per (session, tag, plan of ``df``).

    The key is the canonicalized analyzed plan, not the Py4J object:
    callers that derive their input per invocation (``base =
    e.filter(...)``) get a fresh ``_jdf`` every call, and an id() key
    missed every time (q_vec_ivf_incr rebuilt its IVF tree on each call,
    12 s warm instead of ~3 s). A canonical file scan prints without its
    path, so the input files join the key: sf0.001 and sf0.01 in one
    session must not share a tree. An in-memory plan does not print its
    rows either (two createDataFrame corpora canonicalize alike), so it
    keys on the frame's identity; the entry keeps ``df`` alive, so that
    identity cannot be reused while the entry exists."""
    plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    if any(s in plan for s in ("LocalRelation", "LogicalRDD", "ExistingRDD")):
        key = id(df._jdf)
    else:
        key = (plan, tuple(sorted(df.inputFiles())))
    return session_memo(df.sparkSession, (tag, key), lambda: (df, build()))[1]


def drop_session_memo(*tags: str) -> None:
    """Forget every session's entries with one of ``tags``."""
    _SESSION_MEMO.drop(lambda key: key[1] in tags)


def local_rows_df(spark, rows, schema):
    """Bounded driver-side row list → DataFrame shipped as ONE Arrow batch.

    ``createDataFrame(list_of_tuples)`` pickles each row and spreads even a
    few thousand rows over defaultParallelism slices — 32 single-row tasks
    locally, and a pickle round-trip everywhere. Routing through pandas uses
    the session's Arrow path (one batch, one partition): measured 0.43 s →
    0.13 s for the dedup local-finish group-by at sf0.1. Callers guarantee
    boundedness (hybrid-finish thresholds), so one partition is the right
    layout at any scale. The Arrow path still slices the batch across
    defaultParallelism partitions, so the frame is coalesced to one: a
    single partition satisfies any required distribution, and a sort or
    group-by over it runs in one job with no exchange (a global sort over
    the sliced frame paid a range-sampling job and a shuffle).
    ``schema`` is a DDL string or StructType."""
    import pandas as pd

    if isinstance(schema, str):
        names = [c.strip().split()[0] for c in schema.split(",")]
    else:
        names = schema.fieldNames()
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def fan_out_scan(df):
    """Spread a small scan across the session's cores before a heavy
    per-row compute stage (tokenize/md5/decode) that would otherwise run
    single-threaded.

    Guide §2.5 "input skew": one unsplittable input (a single parquet row
    group, a gzip file) gives the scan ONE task, serializing every
    pre-shuffle expression above it — repartition immediately after the
    read. Scale-adaptive, not a constant: when the scan already carries at
    least defaultParallelism partitions (any real corpus; a cluster), this
    is a no-op and adds NO exchange — only the under-split small-file case
    pays one round-robin shuffle of the raw rows, which is exactly the case
    where that shuffle is tiny. (The partition probe plans the scan but
    runs no job.)"""
    sc = df.sparkSession.sparkContext
    target = max(int(sc.defaultParallelism), 1)
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return df.repartition(target)


def truncate_lineage(df):
    """Cut a DataFrame's lineage inside an iterative fixpoint — the
    primitive every convergence loop in the engine (near-dup contraction,
    BFS resolve, k-core peeling, the IVF tree memo) applies once per
    round so the logical plan stays O(1) instead of doubling per
    iteration (unchecked, the driver OOMs analyzing round ~20's plan).

    Posture seam (r9 verdict #3): which checkpoint primitive is right
    depends on where the engine runs.

    - **Cluster** (a checkpoint dir has been set via
      ``sc.setCheckpointDir`` — reliable storage: HDFS/S3): use
      ``df.checkpoint(eager=True)``. Blocks are recomputable from
      durable files, so losing an executor mid-iteration costs a re-read,
      not the job. Pair with
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
      out-of-scope checkpoints are reaped.
    - **Local / single-JVM** (no checkpoint dir — this sandbox, CI): use
      ``df.localCheckpoint()``. Executor-local block-manager storage,
      no filesystem round-trip; executor loss equals JVM loss here, so
      durability buys nothing.

    ``spark.pkg2_spark.lineageTruncate`` overrides the autodetect:
    ``local`` forces localCheckpoint even when a checkpoint dir exists
    (e.g. a dir set by unrelated streaming code), ``reliable`` fails
    fast if no dir is set. Applied via ``.transform(truncate_lineage)``
    at every call site, so the loop code itself is posture-free.
    """
    return _checkpoint(df, eager=True)


def _checkpoint(df, eager):
    """The checkpoint posture behind truncate_lineage and
    truncate_lineage_lazy: reliable checkpoint() when a dir is set and the
    mode allows it, localCheckpoint() otherwise."""
    spark = df.sparkSession
    mode = spark.conf.get("spark.pkg2_spark.lineageTruncate", "auto")
    has_dir = spark.sparkContext.getCheckpointDir() is not None
    if mode == "reliable" and not has_dir:
        raise ValueError(
            "spark.pkg2_spark.lineageTruncate=reliable requires "
            "sc.setCheckpointDir(<reliable storage path>)"
        )
    reliable = has_dir and mode != "local"
    if reliable and mode != "reliable":
        _warn_if_checkpoints_unreaped(spark)
    return df.checkpoint(eager=eager) if reliable else df.localCheckpoint(eager=eager)


_UNREAPED_CHECKPOINTS_WARNED = False


def _warn_if_checkpoints_unreaped(spark: SparkSession) -> None:
    """One-time warning when AUTO mode promotes to reliable checkpoint().

    checkpoint() files under the dir are reaped by the ContextCleaner only
    if the STATIC conf ``spark.cleaner.referenceTracking.cleanCheckpoints``
    was true at context build (default false; not settable at runtime). A
    host session whose checkpoint dir was set for unrelated reasons (e.g.
    streaming state) would otherwise accumulate per-round checkpoint files
    indefinitely across fixpoint loops with no signal. Users who set
    ``lineageTruncate=reliable`` explicitly opted into managing the dir;
    the warning covers the silent auto promotion only."""
    global _UNREAPED_CHECKPOINTS_WARNED
    if _UNREAPED_CHECKPOINTS_WARNED:
        return
    _UNREAPED_CHECKPOINTS_WARNED = True
    clean = spark.sparkContext.getConf().get(
        "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
    )
    if str(clean).lower() != "true":
        warnings.warn(
            "pkg2_spark: a checkpoint dir is set, so lineageTruncate=auto "
            "is promoting iterative loops to reliable checkpoint(), but "
            "spark.cleaner.referenceTracking.cleanCheckpoints is false "
            "(static conf, default) — checkpoint files will NOT be reaped "
            "until you delete them. Set that conf at session build, clean "
            f"{spark.sparkContext.getCheckpointDir()!r} yourself, or pin "
            "spark.pkg2_spark.lineageTruncate=local.",
            stacklevel=4,
        )


def truncate_lineage_lazy(df):
    """truncate_lineage with LAZY materialization (no action of its own) —
    for loop states whose NEXT Spark action provably computes EVERY
    partition, e.g. an ordered-limit argmax or a full aggregate over the
    state (the BPE train loop: the round's TakeOrderedAndProject scans all
    partitions, populating the checkpoint blocks in the same job). Saves
    one eager action per round vs truncate_lineage. Do NOT use when the
    next action may compute only a partition subset (isEmpty, unordered
    limit): the missing-partition repair job makes lazy SLOWER — that trap
    is why truncate_lineage_counted pairs the lazy mark with count().
    Posture seam (local vs reliable checkpoint) identical to
    truncate_lineage."""
    return _checkpoint(df, eager=False)


def truncate_lineage_counted(df):
    """truncate_lineage + row count in ONE Spark action — for fixpoint loops
    whose round boundary is an emptiness test (the closure kernel,
    operators/graph_ops.py::reachability). The r9 shape paid two driver actions per BFS
    round (eager checkpoint, then isEmpty), and on local[32] each action
    costs ~0.25 s of fixed job latency regardless of data. A LAZY
    checkpoint mark followed by count() folds them: count computes every
    partition, so the local-checkpoint persist blocks are all populated
    by the same job (no missing-partition repair job — the trap that
    makes lazy persist + isEmpty SLOWER, since isEmpty computes only
    partition 0) and the count answers the round's emptiness question
    for free. Returns (checkpointed df, row count).

    Reliable posture (checkpoint dir set): checkpoint(eager=False) +
    count — Spark recomputes the plan once more when writing the
    durable files (standard reliable-checkpoint behavior); the cluster
    trades that latency for executor-loss recovery.
    """
    out = truncate_lineage_lazy(df)
    return out, out.count()
