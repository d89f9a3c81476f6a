"""Property-based spot checks (SURVEY.md §5.2.4) for the custom operators.

Hypothesis generates adversarial small inputs (ties, duplicates, empty
sides, boundary timestamps); each property is checked against an
independent reference implementation (pandas.merge_asof, Python sort).
Example counts are kept small — every example is a real Spark job — but
hypothesis shrinks failures to minimal cases, which unit goldens can't.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pkg2_spark.engine import version_key
from pkg2_spark.operators.asof import asof_join
from pkg2_spark.operators.sampling import hash_split

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# (key, ts) pairs from tiny domains to force collisions and ties
_row = st.tuples(st.integers(0, 2), st.integers(0, 20))
_rows = st.lists(_row, min_size=0, max_size=12)


@settings(**_SETTINGS)
@given(left_rows=_rows, right_rows=_rows)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)] or [(0, 0, 0)],
        "k long, ts long, lid long",
    )
    # unique right values so ties on (k, ts) have a deterministic max
    right = spark.createDataFrame(
        [(k, t, i * 10) for i, (k, t) in enumerate(right_rows)] or [(0, -100, 0)],
        "k long, ts long, rv long",
    )
    got = (
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            payload={"rv": "rv"}, right_order=["rv"],
        )
        .select("k", "ts", "lid", "rv")
        .toPandas()
        .sort_values(["k", "ts", "lid"])
        .reset_index(drop=True)
    )

    lp = left.toPandas().sort_values(["ts", "k"]).reset_index(drop=True)
    # reference: merge_asof backward (rv <= ts); break right (k, ts) ties by
    # max rv to mirror right_order
    rp = (
        right.toPandas()
        .sort_values(["k", "ts", "rv"])
        .groupby(["k", "ts"], as_index=False)
        .last()
        .sort_values(["ts", "k"])
        .reset_index(drop=True)
    )
    want = (
        pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        .sort_values(["k", "ts", "lid"])
        .reset_index(drop=True)
    )
    got_t = [tuple(-1 if pd.isna(v) else int(v) for v in r) for r in got.itertuples(index=False)]
    want_t = [tuple(-1 if pd.isna(v) else int(v) for v in r) for r in want.itertuples(index=False)]
    assert got_t == want_t


@settings(**_SETTINGS)
@given(
    versions=st.lists(
        st.lists(st.integers(0, 999), min_size=1, max_size=4).map(
            lambda parts: ".".join(map(str, parts))
        ),
        min_size=1,
        max_size=10,
    )
)
def test_version_key_orders_like_numeric_tuples(spark, versions):
    df = spark.createDataFrame([(v,) for v in versions], "v string")
    got = [r["v"] for r in df.select("v").orderBy(version_key(F.col("v")), "v").collect()]
    want = sorted(versions, key=lambda v: (tuple(int(p) for p in v.split(".")), v))
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=15
    )
)
def test_resolve_components_matches_union_find(spark, edges):
    # adversarial tiny graphs: self-loops dropped, chains/cycles/duplicate
    # edges kept — the reference is a plain union-find with min-id labels.
    from pkg2_spark.operators.dedup import resolve_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["node"], r["component"]) for r in resolve_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict[int, set[int]] = {}
    for n in parent:
        members.setdefault(find(n), set()).add(n)
    want = {(n, min(ms)) for ms in members.values() for n in ms}
    assert got == want


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=30, unique=True))
def test_hash_split_is_a_stable_partition(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.collect()
    assert len(rows) == len(ids)  # partition: every row labeled exactly once
    assignment = {r["doc_id"]: r["split"] for r in rows}
    # subset-stability: the assignment of an id is independent of which other
    # ids are present (no RNG, no ordering dependence)
    sub = ids[: max(1, len(ids) // 2)]
    sub_rows = hash_split(
        spark.createDataFrame([(i,) for i in sub], "doc_id long"),
        "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
    ).collect()
    for r in sub_rows:
        assert assignment[r["doc_id"]] == r["split"]


@settings(**_SETTINGS)
@given(left_rows=_rows, right_rows=_rows)
def test_asof_forward_matches_pandas_merge_asof(spark, left_rows, right_rows):
    from pkg2_spark.operators.asof import asof_join_forward

    # dedupe right (k, ts): pandas and the operator break exact ties
    # differently; uniqueness makes the expected match unambiguous
    seen = set()
    rr = []
    for k, t in right_rows:
        if (k, t) not in seen:
            seen.add((k, t))
            rr.append((k, t))
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)] or [(0, 0, 0)],
        "k long, ts long, lid long",
    )
    right = spark.createDataFrame(
        [(k, t, i * 10) for i, (k, t) in enumerate(rr)] or [(0, -100, 0)],
        "k long, ts long, rv long",
    )
    # seconds-typed timestamps so the operator's INTERVAL tolerance applies
    lts = left.select("lid", "k", F.timestamp_seconds("ts").alias("ts"))
    rts = right.select("k", F.timestamp_seconds("ts").alias("rts"), "rv")
    got = (
        asof_join_forward(
            lts, rts, on="k", left_ts="ts", right_ts="rts",
            payload={"rts": "m_ts", "rv": "rv"}, tolerance="5 SECONDS",
        )
        .select("lid", "k", F.unix_seconds("ts").alias("ts"), "rv")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)] or [(0, 0, 0)],
        columns=["k", "ts", "lid"],
    ).sort_values(["ts", "lid"]).reset_index(drop=True)
    rp = pd.DataFrame(
        [(k, t, i * 10) for i, (k, t) in enumerate(rr)] or [(0, -100, 0)],
        columns=["k", "ts", "rv"],
    ).sort_values(["ts", "rv"]).reset_index(drop=True)
    want = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="forward", tolerance=5
    ).sort_values("lid").reset_index(drop=True)
    got_m = {r.lid: (None if pd.isna(r.rv) else int(r.rv)) for r in got.itertuples()}
    want_m = {r.lid: (None if pd.isna(r.rv) else int(r.rv)) for r in want.itertuples()}
    assert got_m == want_m


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=0,
        max_size=120,
    )
)
@settings(max_examples=200, deadline=None)
def test_local_union_find_matches_bfs_reference(edges):
    # The driver-local finish of resolve_components must assign every node
    # the MIN member of its undirected component — checked against a plain
    # BFS on arbitrary random graphs (self-loops and duplicates included).
    from pkg2_spark.operators.dedup import _local_components

    pairs = [(a, b) for a, b in edges if a != b]
    got = _local_components(pairs)

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp: set[int] = set()
        frontier = [start]
        while frontier:
            nxt = []
            for x in frontier:
                if x in comp:
                    continue
                comp.add(x)
                nxt.extend(adj[x])
            frontier = nxt
        m = min(comp)
        for x in comp:
            want[x] = m
        seen |= comp
    assert got == want


@given(st.integers(min_value=0, max_value=10**15))
@settings(max_examples=500, deadline=None)
def test_icbrt_is_exact_integer_cube_root(m):
    # The IVF k-derivation depends on icbrt being EXACT in both engines:
    # the pow(m, 1/3) seed may round either way, and the integer cube
    # comparisons must correct it. Property: k^3 <= m < (k+1)^3.
    from pkg2_spark.operators.ivf import _icbrt

    k = _icbrt(m)
    assert k >= 0
    assert k**3 <= m
    assert (k + 1) ** 3 > m
