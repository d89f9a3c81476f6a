"""In-memory tracing for the benchmark's traced runs.

``Tracer`` records spans (name, start, end, parent span, op id) and counts at
the layer boundaries the benchmark calls into; nothing is written until the
run ends. A disabled tracer is a no-op, so untraced runs pay one attribute
check per boundary.

``SparkProbe`` reads what Spark itself knows about an operation: jobs through
a job group set on the calling thread and ``StatusTracker``, and per-stage
task time, shuffle bytes and spill from the application status store.
``make_stream_listener`` builds a ``StreamingQueryListener``: micro-batch
jobs escape job groups, so streaming counts come from progress events.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, start, end, parent, op)
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent_id, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        op = op if op is not None else parent_op
        stack.append((sid, op))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent_id, op))

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span, so
        calls the program makes into that function are attributed too."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child: dict[int, float] = defaultdict(float)
        for _, _, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, name, t0, t1, _, _ in self.spans:
            out[name] += max(0.0, (t1 - t0) - child[sid])
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        rec = {
            "spans": [
                {"id": s[0], "name": s[1], "start": s[2], "end": s[3], "parent": s[4], "op": s[5]}
                for s in self.spans
            ],
            "counts": dict(self.counts),
            "self_s": self.self_times(),
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(rec, fh)


class SparkProbe:
    """Counts the Spark work of one operation, attributed by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = int(self.sc.defaultParallelism)
        self._seq = itertools.count()

    @contextmanager
    def group(self, label: str, out: dict):
        """Run the body under a fresh job group on this thread; on exit fill
        ``out`` with jobs, stages, tasks, task run ms, shuffle and spill."""
        gid = f"perfbench-{label}-{next(self._seq)}"
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            out.update(self.job_stats(self.sc.statusTracker().getJobIdsForGroup(gid)))

    def job_stats(self, job_ids) -> dict:
        st = self.sc.statusTracker()
        stats = dict(jobs=len(job_ids), stages=0, tasks=0, run_ms=0.0,
                     shuffle_read=0, shuffle_write=0, spill=0)
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self.store.lastStageAttempt(int(sid))
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                stats["stages"] += 1
                stats["tasks"] += sd.numCompleteTasks()
                stats["run_ms"] += sd.executorRunTime()
                stats["shuffle_read"] += sd.shuffleReadBytes()
                stats["shuffle_write"] += sd.shuffleWriteBytes()
                stats["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return stats

    def ungrouped_jobs(self) -> set[int]:
        """Jobs without a job group, such as those fired from worker threads."""
        return set(self.sc.statusTracker().getJobIdsForGroup(None))


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of the DataFrame's last execution."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    return {
        key: float(phases.apply(key).durationMs()) if phases.contains(key) else 0.0
        for key in ("analysis", "optimization", "planning")
    }


def make_stream_listener(tracer: Tracer):
    """A StreamingQueryListener that counts micro-batches, trigger time and
    state rows into ``tracer``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            tracer.count("streaming.batches")
            tracer.count("streaming.trigger_ms", float((p.durationMs or {}).get("triggerExecution", 0)))
            tracer.count("streaming.state_rows", float(sum(s.numRowsTotal for s in p.stateOperators)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()
