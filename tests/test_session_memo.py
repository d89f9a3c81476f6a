"""The build-once memo (session.BuildOnce) and the session-keyed state on it.

Session-derived state (registered tables, the IVF tree, the co-supply
edges) is keyed by the JVM session, so a frame built or checkpointed on one
session is never served to another, nor after its context stopped. Side
effects that must happen once (q_sink_bucketed's table write) are recorded
in the catalog, not in the evicting memo.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading

from pkg2_spark.session import BuildOnce

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_concurrent_first_gets_build_once():
    # More threads than cores, released together under a shortened switch
    # interval, all ask for one key: one build, one shared value.
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        memo = BuildOnce()
        n = max(4, len(os.sched_getaffinity(0)) + 1)
        barrier = threading.Barrier(n)
        builds = []
        got: list = [None] * n

        def build():
            builds.append(1)
            for _ in range(10_000):  # stay in the build across switches
                pass
            return object()

        def client(i: int) -> None:
            barrier.wait()
            got[i] = memo.get("k", build)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(old)
    assert len(builds) == 1
    assert all(v is got[0] for v in got)


def test_a_slow_build_blocks_neither_hits_nor_other_builds():
    memo = BuildOnce()
    memo.get("b", lambda: "warm")
    started, release = threading.Event(), threading.Event()

    def slow():
        started.set()
        release.wait(30)
        return "a"

    first = threading.Thread(target=lambda: memo.get("a", slow))
    first.start()
    try:
        assert started.wait(10)
        done: dict = {}
        other = threading.Thread(
            target=lambda: done.update(b=memo.get("b", lambda: "rebuilt"),
                                       c=memo.get("c", lambda: "c"))
        )
        other.start()
        other.join(5)
        assert done == {"b": "warm", "c": "c"}  # returned while "a" builds
    finally:
        release.set()
        first.join()
    assert memo.get("a", lambda: "again") == "a"


def test_failed_build_stores_nothing_and_the_bound_evicts_oldest():
    memo = BuildOnce(max_entries=2)

    def fail():
        raise RuntimeError("build failed")

    try:
        memo.get("x", fail)
    except RuntimeError:
        pass
    assert not memo._building  # a failed key leaves no build lock behind
    assert memo.get("x", lambda: 1) == 1
    memo.get("y", lambda: 2)
    memo.get("x", lambda: -1)  # hit: x is now the newest entry
    memo.get("z", lambda: 3)  # evicts y
    assert memo.get("x", lambda: -1) == 1
    assert memo.get("y", lambda: 4) == 4
    assert not memo._building


def test_plan_memo_tells_file_inputs_apart(spark, tmp_path):
    # Two parquet corpora of one schema canonicalize to the same plan
    # string (a file scan prints without its path), so only their input
    # files keep one from being served the other's build.
    from pkg2_spark.session import drop_session_memo, plan_memo

    paths = []
    for n in (3, 5):
        paths.append(str(tmp_path / f"corpus{n}"))
        spark.range(n).write.parquet(paths[-1])
    a, b = (spark.read.parquet(p) for p in paths)
    try:
        assert plan_memo(a, "test_count", a.count) == 3
        assert plan_memo(b, "test_count", b.count) == 5
        again = spark.read.parquet(paths[0])
        assert plan_memo(again, "test_count", lambda: -1) == 3  # a hit
    finally:
        drop_session_memo("test_count")


def test_memoized_queries_follow_a_new_session(spark, sf_dir):
    # The co-supply edges and the IVF tree are memoized per session: on a
    # newSession() both queries build frames of THAT session, with the
    # same rows.
    from pkg2_spark.registry import all_queries

    s2 = spark.newSession()
    try:
        for name in ("q_graph_triangles", "q_llm_ann_ivf"):
            q = all_queries()[name]
            first = sorted(q(spark, sf_dir).collect())
            df = q(s2, sf_dir)
            assert df.sparkSession is s2, name
            assert sorted(df.collect()) == first, name
    finally:
        _drop_session(s2)


def test_bucketed_tables_are_written_once_past_the_memo_bound(spark, sf_dir):
    # The catalog, not a memo entry, records that q_sink_bucketed wrote
    # its tables: once the session memo has evicted every entry of this
    # session, a call must read the tables, not clear and rewrite them.
    from urllib.parse import urlparse

    from pkg2_spark.queries.relational import bucketed_tables
    from pkg2_spark.registry import all_queries
    from pkg2_spark.session import SESSION_MEMO_ENTRIES, session_memo

    q = all_queries()["q_sink_bucketed"]
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def files():
        return {
            n: sorted(os.listdir(os.path.join(warehouse, n)))
            for n in bucketed_tables(sf_dir)
        }

    first = sorted(q(spark, sf_dir).collect())
    written = files()
    filler = spark.newSession()
    try:
        for i in range(SESSION_MEMO_ENTRIES):
            session_memo(filler, ("filler", i), object)
        assert sorted(q(spark, sf_dir).collect()) == first
        assert sorted(q(filler, sf_dir).collect()) == first
        assert files() == written
    finally:
        _drop_session(filler)


def _drop_session(s) -> None:
    """Forget the memo entries of ``s``, a throwaway newSession()."""
    from pkg2_spark.session import _SESSION_MEMO

    uuid = s._jsparkSession.sessionUUID()
    _SESSION_MEMO.drop(lambda key: key[0] == uuid)


def test_memoized_query_survives_a_session_restart(tmp_path, sf_dir):
    # stop() discards the context whose block manager held the memoized,
    # checkpointed edge list; the next session must rebuild it rather
    # than serve the dead blocks. Run in a subprocess so the suite's
    # shared session stays up.
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        from pkg2_spark.registry import all_queries
        from pkg2_spark.session import get_session

        q = all_queries()["q_graph_triangles"]
        spark = get_session(app_name="memo_restart")
        spark.sparkContext.setLogLevel("ERROR")
        before = sorted(q(spark, {sf_dir!r}).collect())
        spark.stop()
        spark = get_session(app_name="memo_restart")
        after = sorted(q(spark, {sf_dir!r}).collect())
        assert before and after == before, (len(before), len(after))
        spark.stop()
        print("restart ok")
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "restart ok" in out.stdout
