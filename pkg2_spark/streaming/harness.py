"""Streaming harness: run the events table through real Structured Streaming.

The events parquet is replayed through ``readStream`` (file source) with the
same nanos→µs shim as the batch catalog, so every batch-validated window
query has a streaming twin. ``availableNow`` + complete-mode memory sink
makes the result deterministic and equal to the batch answer — the
batch/stream parity contract (SURVEY.md §2.10).

Watermark/late-data behavior (append mode, multi-batch replay) is exercised
in tests/test_streaming.py, where file arrival order is controlled.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import TimestampType

from pkg2_spark.queries.relational import IO_DIR
from pkg2_spark.session import BuildOnce, ensure_runtime_confs

# Metadata only (a StructType, no rows, no session state), so it is keyed
# by file identity alone and kept apart from the session memo's frames.
# A handful of scales per run; the LRU bound keeps it small.
_EVENTS_SCHEMAS = BuildOnce(8)


def _events_schema(spark: SparkSession, src: str):
    """The events file's schema, read once per file identity (path, size,
    mtime in ns): every streaming query calls events_stream at least once
    per invocation (the stream-stream joins twice), and each call paid a
    batch parquet footer read (~0.1 s of driver latency) for a schema
    that cannot change unless the file does; a regenerated file has a new
    size or mtime."""
    try:
        st = os.stat(src)
    except OSError:
        return spark.read.parquet(src).schema
    return _EVENTS_SCHEMAS.get(
        (src, st.st_size, st.st_mtime_ns), lambda: spark.read.parquet(src).schema
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table (file source, availableNow-ready).

    The file-source needs a directory; the single events.parquet is linked
    into a scratch dir. Schema is taken from the batch reader (ts arrives as
    bigint nanos under the legacy flag) and shimmed identically to batch.
    """
    ensure_runtime_confs(spark)
    src = os.path.join(sf_dir, "events.parquet")
    src_dir = os.path.join(IO_DIR, "stream_src", os.path.basename(os.path.normpath(sf_dir)))
    if os.path.isdir(src):
        # Spark-written table (the synthetic decade replicas): already a
        # directory of part files — stream straight from it, no copy.
        src_dir = src
    else:
        os.makedirs(src_dir, exist_ok=True)
        dst = os.path.join(src_dir, "events.parquet")
        # Re-copy when the source file changed (the driver regenerates
        # testdata between rounds; a stale copy would diverge from the
        # schema read below).
        if (
            not os.path.exists(dst)
            or os.path.getsize(dst) != os.path.getsize(src)
            or os.path.getmtime(dst) < os.path.getmtime(src)
        ):
            shutil.copyfile(src, dst)
    schema = _events_schema(spark, src)
    raw = spark.readStream.schema(schema).parquet(src_dir)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if dtypes.get("ts") == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    # parquet timestamp[us] with isAdjustedToUTC=false infers as TIMESTAMP_NTZ,
    # which streaming window()/withWatermark/unix_micros reject. Session TZ is
    # pinned UTC, so an explicit LTZ cast preserves the instant (same shim as
    # catalog.read_table). TimestampType() — not the "timestamp" type string,
    # which resolves through spark.sql.timestampType and could stay NTZ.
    for fname, ftype in dtypes.items():
        if ftype == "timestamp_ntz":
            raw = raw.withColumn(fname, F.col(fname).cast(TimestampType()))
    return raw


# Every stream the engine starts goes through ``replay``, which switches two
# settings on the shared session for the span of ``start()`` alone. The lock
# keeps a concurrent start from cloning the session while they are switched.
_START_LOCK = threading.Lock()

# State partitions per stateful operator: one task wave on small hosts, and
# never above the 8 that stay fixed on larger ones.
_MAX_STATE_PARTITIONS = 8


def final_batch_emits(stream_df: DataFrame, mode: str) -> bool:
    """Whether the watermark-only batch that ends a replay can add output.

    When the watermark advanced in the last data batch, Spark runs one more
    batch with no input to evict state. It emits only what eviction
    finalizes: closed windows of an append-mode aggregate, the null rows
    of an outer join, and the timeout output of a ``…WithState`` operator.
    Anything else (inner joins, dedup, complete and update mode) only drops
    state that a finished replay throws away anyway."""
    stack = [stream_df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if (
            "WithState" in name
            or (name == "Aggregate" and mode == "append")
            or (name == "Join" and node.joinType().sql() != "INNER")
        ):
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def replay(
    stream_df: DataFrame,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    mode: str = "append",
) -> StreamingQuery:
    """Run ``stream_df`` to completion as an availableNow replay in output
    ``mode`` and return the finished query; ``sink`` adds the format, name
    and options to the writer.

    ``start()`` clones the session, and the query reads two settings from
    that clone, so they are set only across the call:
    - ``spark.sql.shuffle.partitions`` is the number of state partitions,
      baked into the checkpoint: ``min(8, defaultParallelism)``, never more
      partitions than cores;
    - ``spark.sql.streaming.noDataMicroBatches.enabled`` is off unless
      ``final_batch_emits``, so a replay whose last batch would only evict
      state runs its data batches alone."""
    spark = stream_df.sparkSession
    width = min(_MAX_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    confs = {
        "spark.sql.shuffle.partitions": str(width),
        "spark.sql.streaming.noDataMicroBatches.enabled": str(
            final_batch_emits(stream_df, mode)
        ).lower(),
    }
    writer = sink(stream_df.writeStream.outputMode(mode).trigger(availableNow=True))
    conf = spark.conf
    with _START_LOCK:
        # A setting that already holds the value is left alone, so batch
        # queries on other threads see no flip of it.
        saved = {k: conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                if saved[k] != v:
                    conf.set(k, v)
            q = writer.start()
        finally:
            for k, old in saved.items():
                if old is None:
                    conf.unset(k)
                elif old != confs[k]:
                    conf.set(k, old)
    q.awaitTermination()
    return q


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Replay ``stream_df`` to completion into a memory sink and return its
    rows; availableNow processes all existing files then stops, so the
    replay is deterministic. ``replay`` sets the state width and whether
    the final watermark-only batch runs.

    The returned frame holds the sink's rows through its resolved plan, so
    the sink's session-global temp view is dropped before returning: the
    rows live as long as the frame does, not as long as the session."""
    spark = stream_df.sparkSession
    # Unique sink/checkpoint per run: memory sinks are session-global.
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(IO_DIR, "checkpoints", qname)
    try:
        replay(
            stream_df,
            lambda w: w.format("memory").queryName(qname).option("checkpointLocation", ckpt),
            mode,
        )
        out = spark.table(qname)
    finally:
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def replay_to_checkpoint(stream_df: DataFrame, name: str) -> str:
    """Replay a stateful stream to the noop sink, KEEPING the checkpoint —
    the fixture for state-store observability (the ``statestore`` /
    ``state-metadata`` readers point at this path). The checkpoint is
    wiped first so every invocation re-derives state from the CURRENT
    source files (a stale checkpoint from a prior testdata generation
    would silently diverge); the name is fixed per caller+scale, so the
    scratch dir holds one live checkpoint per fixture, not one per run.
    ``replay`` sets the state width, so the store has
    ``min(8, defaultParallelism)`` partitions."""
    ckpt = os.path.join(IO_DIR, "checkpoints", name)
    shutil.rmtree(ckpt, ignore_errors=True)
    replay(stream_df, lambda w: w.format("noop").option("checkpointLocation", ckpt))
    return ckpt
