"""Engine facade tests — pkg2's programmatic surface (pkg2_spark/engine.py)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from pkg2_spark.engine import Engine
from pkg2_spark.queries.packages import _APKINDEX_PATH, _PACKAGES_PATH


@pytest.fixture(scope="module")
def apk(spark):
    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    return eng


@pytest.fixture(scope="module")
def deb(spark):
    eng = Engine(spark)
    eng.ingest_debian_packages(_PACKAGES_PATH)
    return eng


def test_ingest_archdesc_normalizes_like_other_formats(spark):
    from pkg2_spark.queries.packages import _ARCHDESC_PATH

    eng = Engine(spark)
    p = eng.ingest_archdesc(_ARCHDESC_PATH)
    rows = {r["name"]: r for r in p.collect()}
    assert set(rows) == {"zlib", "glibc", "openssl", "python", "filesystem", "expat"}
    assert rows["glibc"]["depends"] == ["filesystem", "linux-api-headers", "tzdata"]
    assert rows["filesystem"]["depends"] == []  # empty %DEPENDS% section
    assert rows["openssl"]["provides"] == ["libcrypto.so=3-64", "libssl.so=3-64"]
    assert rows["glibc"]["size"] == 10874880
    # the normalized schema feeds the same downstream surface
    assert {r["provider"] for r in eng.whatprovides("libssl.so").collect()} == {"openssl"}
    deps = {r["dependent"] for r in eng.whatdepends("zlib").collect()}
    assert deps == {"openssl", "python"}


def test_ingest_rpm_primary_normalizes_like_other_formats(spark):
    from pkg2_spark.queries.packages import _RPMPRIMARY_PATH

    eng = Engine(spark)
    p = eng.ingest_rpm_primary(_RPMPRIMARY_PATH)
    rows = {r["name"]: r for r in p.collect()}
    assert len(rows) == 11
    assert rows["glibc"]["version"] == "2.38-18.fc39"  # epoch 0: no prefix
    # nonzero epoch is prepended rpm-style (epoch:ver-rel) so downstream
    # version ordering sees it — bind carries epoch 32 in real Fedora
    assert rows["bind"]["version"] == "32:9.18.21-1.fc39"
    assert rows["glibc"]["size"] == 2215936
    assert rows["basesystem"]["depends"] == []  # empty rpm:requires section
    assert rows["zlib-ng-compat"]["provides"] == [
        "libz.so.1()(64bit)", "zlib", "zlib-ng-compat",
    ]
    # capability resolution through provides works on the normalized schema
    prov = {r["provider"] for r in eng.whatprovides("libz.so.1()(64bit)").collect()}
    assert prov == {"zlib-ng-compat", "zlib-legacy"}
    deps = {r["dependent"] for r in eng.whatdepends("openssl-libs").collect()}
    assert deps == {"python3", "curl", "bind"}
    closure = {r["node"] for r in eng.resolve("python3").collect()}
    assert {"bash", "glibc", "zlib-ng-compat", "openssl-libs", "basesystem"} <= closure


def test_pkg_search_federates_all_four_formats(spark, sf_dir):
    from pkg2_spark.registry import all_queries

    out = all_queries()["q_pkg_search"](spark, sf_dir).collect()
    by_mode = {}
    for r in out:
        by_mode.setdefault(r["mode"], set()).add((r["distro"], r["name"]))
    # 'openssl' exists under that exact name in alpine, debian and arch
    assert by_mode["exact"] == {
        ("alpine", "openssl"), ("debian", "openssl"), ("arch", "openssl"),
    }
    assert ("debian", "libc6") in by_mode["prefix"]
    # arch filter keeps x86_64/amd64 only; fedora's openssl-libs is x86_64
    assert ("fedora", "openssl-libs") in by_mode["wildcard"]


def test_search_packages(apk):
    names = {r.name for r in apk.search_packages("b%").collect()}
    assert names == {"busybox"}
    assert apk.search_packages("%ssl%").count() == 1
    n_x86 = apk._pkgs().filter(F.col("arch") == "x86_64").count()  # noqa: SLF001
    assert apk.search_packages("%", arch="x86_64").count() == n_x86 > 0
    assert apk.search_packages("%", arch="riscv64").count() == 0


def test_whatprovides_capability_and_self(apk):
    # capability provided via a p: entry
    prov = {r.provider for r in apk.whatprovides("so:libz.so.1").collect()}
    assert prov == {"zlib"}
    # every package provides its own name
    assert {r.provider for r in apk.whatprovides("musl").collect()} == {"musl"}


def test_latest_versions_numeric_ordering(apk):
    latest = {r.name: r.version for r in apk.latest_versions().collect()}
    # 1.36.1-r2 > 1.35.0-r17 numerically (lexicographic would also pass) and
    # 3.11.4 > 3.10.13 numerically (lexicographic would NOT: '10' < '11'
    # textually is true, but '3.9' vs '3.10' style inversions are the trap)
    assert latest["busybox"] == "1.36.1-r2"
    assert latest["python3"] == "3.11.4-r1"


def test_latest_versions_handles_dotted_inversion(spark):
    eng = Engine(spark)
    df = spark.createDataFrame(
        [("p", "3.9.1", "x", 0, "d", [], []), ("p", "3.10.0", "x", 0, "d", [], [])],
        "name string, version string, arch string, size long, description string, "
        "depends array<string>, provides array<string>",
    )
    # Direct injection for the edge case: installs the frame as the index
    # state without registering the shared `packages` view.
    from pkg2_spark.engine import _IndexState

    eng._index = _IndexState(df)  # noqa: SLF001
    latest = eng.latest_versions().collect()
    assert latest[0].version == "3.10.0"  # lexicographic would pick 3.9.1


def test_resolve_closure_with_cycle(deb):
    out = {r.node: r.depth for r in deb.resolve("python3.11").collect()}
    # libc6 <-> libgcc-s1 is a cycle; BFS must terminate with minimal depths
    assert out == {"libc6": 1, "libssl3": 1, "libgcc-s1": 2, "gcc-12-base": 3}


def test_resolve_hybrid_local_matches_distributed(deb, monkeypatch):
    # The r10 hybrid finish: under LOCAL_FINISH_EDGES the closure comes
    # from a driver-local BFS over the collected (bounded) edge set; force
    # the distributed one-job-per-depth loop and pin exact equality on a
    # CYCLIC fixture (libc6 <-> libgcc-s1) for both resolvers.
    from pkg2_spark.operators import graph_ops

    local = {(r["node"], r["depth"]) for r in deb.resolve("python3.11").collect()}
    localc = {tuple(r) for r in deb.resolve_constrained("python3.11").collect()}
    monkeypatch.setattr(graph_ops, "LOCAL_FINISH_EDGES", 0)
    dist = {(r["node"], r["depth"]) for r in deb.resolve("python3.11").collect()}
    distc = {tuple(r) for r in deb.resolve_constrained("python3.11").collect()}
    assert local == dist and local
    assert localc == distc and localc


def test_reingest_replaces_every_derived_frame(spark):
    # The derived frames (dependency edges, resolve's edge set, latest
    # versions) belong to one ingest: after a warm pass over the APKINDEX
    # sample, ingesting the Debian sample on the SAME engine must answer
    # every lookup from the Debian index, exactly as a fresh engine does.
    def answers(eng):
        return (
            {tuple(r) for r in eng.whatdepends("libc6").collect()},
            {tuple(r) for r in eng.resolve("python3.11").collect()},
            {tuple(r) for r in eng.latest_versions().select("name", "version").collect()},
            eng.sql("SELECT count(*) AS n FROM packages").first()["n"],
        )

    fresh = Engine(spark)
    fresh.ingest_debian_packages(_PACKAGES_PATH)
    want = answers(fresh)
    assert want[0] and want[1]

    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    warm = answers(eng)
    assert {r[0] for r in eng.whatdepends("musl").collect()}
    eng.ingest_debian_packages(_PACKAGES_PATH)
    assert answers(eng) == want != warm


def test_resolve_missing_deps_are_skipped(deb):
    # coreutils depends on libacl1 which is not in the index -> not resolved
    out = {r.node for r in deb.resolve("coreutils").collect()}
    assert "libacl1" not in out
    assert "libc6" in out


def test_sql_and_table_surface(apk, sf_dir):
    apk.load_tables(sf_dir)
    n = apk.sql("SELECT count(*) AS n FROM region").collect()[0]["n"]
    assert n == 5
    assert apk.table("nation").count() == 25


def test_ingested_table_registered_for_sql(deb):
    got = deb.sql(
        "SELECT name FROM packages WHERE arch = 'arm64'"
    ).collect()
    assert {r.name for r in got} == {"curl"}


def test_depends_constraint_stripping(deb):
    rows = {r.name: r.depends for r in deb._pkgs().collect()}  # noqa: SLF001
    assert rows["coreutils"] == ["libacl1", "libc6"]  # sorted, constraints gone


def test_llm_pipeline_facade(spark, sf_dir):
    from pkg2_spark.engine import Engine

    eng = Engine(spark)
    t = eng.load_tables(sf_dir)
    docs = t["documents"]
    n_docs = docs.count()

    deduped = eng.dedup_exact(docs)
    assert 0 < deduped.count() <= n_docs

    split = eng.split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert split.count() == n_docs
    assert set(r["split"] for r in split.select("split").distinct().collect()) <= {"train", "val", "test"}

    samp = eng.sample(docs, "doc_id", 0.1)
    assert samp.count() < n_docs

    strat = eng.stratified_sample(docs, "lang", "doc_id", 3)
    per_lang = {r["lang"]: r["n"] for r in strat.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(v <= 3 for v in per_lang.values())

    e = t["embeddings"]
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_embedding")
    )
    knn = eng.knn(e.select("vec_id", "embedding"), probes, k=2)
    assert knn.count() == probes.count() * 2


def test_pipeline_demo_stage_invariants(spark, sf_dir):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from pipeline_demo import build_pipeline

    stages, final = build_pipeline(spark, sf_dir)
    counts = {name: df.count() for name, df in stages.items()}
    # every stage can only shrink the corpus
    order = ["raw", "lang", "quality", "repetition", "gopher", "dedup", "neardup", "final"]
    for a, b in zip(order, order[1:]):
        assert counts[b] <= counts[a], (a, b, counts)
    assert counts["final"] == counts["neardup"]  # split adds a column, not rows
    # split labels form a partition of the survivors
    split_counts = {
        r["split"]: r["n"]
        for r in final.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(split_counts.values()) == counts["final"]
    assert set(split_counts) <= {"train", "val", "test"}
    # bloom gate: zero false negatives — every train doc whose normalized
    # text also appears in the test split MUST be flagged
    th = F.md5(F.lower(F.col("text")))
    test_th = final.filter(F.col("split") == "test").select(th.alias("th")).distinct()
    true_dups = (
        final.filter(F.col("split") == "train")
        .select("doc_id", th.alias("th"))
        .join(test_th, "th", "semi")
    )
    missed = true_dups.join(
        stages["bloom_flagged"].select("doc_id"), "doc_id", "left_anti"
    ).count()
    assert missed == 0


def test_pipeline_demo_agrees_with_registry_queries(spark, sf_dir):
    # The demo's stages must agree with the standalone registry operators on
    # the SAME corpus — the Engine facade and the queries() surface are two
    # views of one engine, not two engines.
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from pipeline_demo import build_pipeline

    from pkg2_spark.operators.sampling import hash_split

    stages, final = build_pipeline(spark, sf_dir)

    # 1. Split stability (the q_llm_split property): a doc's split label is a
    # pure function of doc_id, so the demo's labels must agree row-for-row
    # with hash_split over the RAW corpus — filtering upstream cannot move a
    # surviving doc between splits (the no-test-set-leakage guarantee).
    raw_split = hash_split(
        stages["raw"], "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", F.col("split").alias("raw_split"))
    disagree = (
        final.select("doc_id", "split")
        .join(raw_split, "doc_id")
        .filter(F.col("split") != F.col("raw_split"))
        .count()
    )
    assert disagree == 0

    # 2. Exact-dedup postcondition (q_llm_dedup_exact semantics): no two
    # surviving docs share a normalized content hash.
    n_final = final.count()
    n_hashes = (
        final.select(F.md5(F.lower(F.trim("text"))).alias("h")).distinct().count()
    )
    assert n_hashes == n_final

    # 3. Near-dup postcondition: re-running the SAME candidate+verify stages
    # (Engine.lsh_candidate_pairs at the demo's band settings, Jaccard >=
    # 0.8) over the survivors finds zero remaining verified pairs — every
    # cluster kept exactly its canonical member.
    from pkg2_spark.engine import Engine
    from pkg2_spark.operators.text import tokenize_distinct

    eng = Engine(spark)
    cand = eng.lsh_candidate_pairs(final, num_hashes=4, rows_per_band=2)
    toks = tokenize_distinct(final)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    inter = (
        cand.join(toks.select(F.col("doc_id").alias("doc_a"), "token"), "doc_a")
        .join(toks.select(F.col("doc_id").alias("doc_b"), "token"), ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    survivors = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb")),
            "doc_b",
        )
        .filter(
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")) >= 0.8
        )
        .count()
    )
    assert survivors == 0


def test_recurrence_and_graph_facade(spark, sf_dir):
    # The late-round-5 facade methods delegate to the verified operators:
    # cusum/holt agree with the registry queries' shapes on real data, and
    # connected_components resolves a known two-component edge list.
    import pyspark.sql.functions as F

    from pkg2_spark.catalog import load_tables
    from pkg2_spark.engine import Engine

    eng = Engine(spark)
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    k = e.groupBy("event_type").agg(
        F.expr("CAST(sum(v_e2) DIV count(*) AS BIGINT)").alias("ref_e2")
    )
    cu = eng.cusum(
        e.join(F.broadcast(k), "event_type"),
        ["user_id", "event_type"], ["ts", "event_id"], "v_e2", "ref_e2",
    ).collect()
    assert cu and all(r["max_cusum"] >= r["final_cusum"] >= 0 for r in cu)

    ho = eng.holt(e, "user_id", ["ts", "event_id"], "v_e2").collect()
    assert ho and all(r["n_events"] > 0 for r in ho)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    cc = {
        r["node"]: r["component"]
        for r in eng.connected_components(edges).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_resolve_constrained_semantics(spark):
    # The ground-truth closure for the multi-version fixture, asserted
    # independently of the DuckDB oracle (engine == oracle alone could
    # share a parse bug): constraints select among versions, '=' pins one,
    # an unsatisfiable atom drops the subtree, and depth is minimal.
    import os

    from pkg2_spark.engine import Engine
    from pkg2_spark.queries.packages import _MULTIVER_PATH

    eng = Engine(spark)
    eng.ingest_debian_packages(_MULTIVER_PATH)
    got = {
        (r["name"], r["version"]): r["depth"]
        for r in eng.resolve_constrained("webapp").collect()
    }
    assert got == {
        ("libweb", "1.4-2"): 1,
        ("libweb", "1.5-1"): 1,
        ("librt", "2.1-3"): 1,
        ("zlib1", "1.9-1"): 2,      # via both libweb edges; << 2.0 admits it
        ("zlib1", "2.1-1"): 2,      # only via the unconstrained 1.4-2 edge
        ("libc0", "1.1-1"): 2,      # librt (>= 1.0); zlib1 2.1-1's >= 2.0 fails
    }
    # tlslib's only version 1.0-5 fails 'tlslib (>= 1.1)' — absent entirely
    assert not any(n == "tlslib" for n, _ in got)


def test_ingest_index_cache_matches_plaintext(spark, tmp_path):
    # The compressed-cache ingest must normalize to EXACTLY the plaintext
    # parse: same rows for APKINDEX.tar.gz as ingest_apkindex on the .txt.
    import gzip
    import io
    import tarfile

    from pkg2_spark.engine import Engine
    from pkg2_spark.queries.relational import _APKINDEX_PATH

    data = open(_APKINDEX_PATH, "rb").read()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        ti = tarfile.TarInfo("APKINDEX")
        ti.size = len(data)
        tf.addfile(ti, io.BytesIO(data))
    (tmp_path / "APKINDEX.tar.gz").write_bytes(gzip.compress(buf.getvalue(), mtime=0))

    eng = Engine(spark)
    plain = eng.ingest_apkindex(_APKINDEX_PATH).orderBy("name").collect()
    cached = (
        eng.ingest_index_cache(str(tmp_path))
        .drop("distro")
        .orderBy("name")
        .collect()
    )
    assert cached == plain


def test_audit_apkindex_quarantine_counts(spark):
    # Negative-path fixture: exact per-reason counts, and the 'ok' subset
    # must be exactly the stanzas the ingest projection can parse fully.
    from pkg2_spark.engine import Engine
    from pkg2_spark.queries.packages import _MALFORMED_PATH

    eng = Engine(spark)
    audit = eng.audit_apkindex(_MALFORMED_PATH)
    counts = {r["reason"]: 0 for r in audit.collect()}
    for r in audit.collect():
        counts[r["reason"]] = counts.get(r["reason"], 0) + 1
    assert counts == {"ok": 2, "missing_name": 1, "missing_version": 2, "bad_size": 1}
    ok_names = {
        r["name"]
        for r in Engine._apk_project(
            audit.filter("reason = 'ok'").select("stanza")
        ).collect()
    }
    assert ok_names == {"musl", "ok2"}


def test_audit_clean_index_is_all_ok(spark):
    from pkg2_spark.engine import Engine
    from pkg2_spark.queries.relational import _APKINDEX_PATH

    eng = Engine(spark)
    reasons = {r["reason"] for r in eng.audit_apkindex(_APKINDEX_PATH).collect()}
    assert reasons == {"ok"}


def test_resolve_constrained_apk_inline_atoms(spark, tmp_path):
    # Alpine depends carry INLINE constraints ('musl>=1.2.4', no parens) —
    # the atom parser auto-detects the form per atom and the closure
    # honors them with the same version-key comparison.
    from pkg2_spark.engine import Engine

    idx = tmp_path / "APKINDEX"
    idx.write_text(
        "P:app\n"
        "V:1.0-r0\n"
        "A:x86_64\n"
        "S:10\n"
        "T:app\n"
        "D:musl>=1.2 so:libfoo.so.1<2.0 ghost>=9\n"
        "\n"
        "P:musl\nV:1.1-r0\nA:x86_64\nS:1\nT:old musl\nD:\n"
        "\n"
        "P:musl\nV:1.2.4-r0\nA:x86_64\nS:1\nT:musl\nD:\n"
        "\n"
        "P:so:libfoo.so.1\nV:1.5-r0\nA:x86_64\nS:1\nT:provider ok\nD:\n"
        "\n"
        "P:so:libfoo.so.1\nV:2.1-r0\nA:x86_64\nS:1\nT:provider too new\nD:\n"
        "\n"
        "P:ghost\nV:1.0-r0\nA:x86_64\nS:1\nT:never satisfies\nD:\n"
    )
    eng = Engine(spark)
    eng.ingest_apkindex(str(idx))
    got = {
        (r["name"], r["version"])
        for r in eng.resolve_constrained("app").collect()
    }
    assert got == {
        ("musl", "1.2.4-r0"),            # >=1.2 excludes 1.1
        ("so:libfoo.so.1", "1.5-r0"),    # <2.0 excludes 2.1
    }


def test_audit_debian_quarantine(spark, tmp_path):
    # The Debian twin of the APKINDEX audit: same reason taxonomy over
    # Packages stanzas, including a truncated block and a bad size.
    from pkg2_spark.engine import Engine

    p = tmp_path / "Packages"
    p.write_text(
        "Package: good\nVersion: 1.0-1\nArchitecture: amd64\n"
        "Installed-Size: 10\nDescription: fine\n"
        "\n"
        "Version: 2.0-1\nArchitecture: amd64\nDescription: nameless\n"
        "\n"
        "Package: truncated\n"
        "\n"
        "Package: badsize\nVersion: 1.0-1\nInstalled-Size: lots\nDescription: x\n"
    )
    eng = Engine(spark)
    counts = {}
    for r in eng.audit_debian_packages(str(p)).collect():
        counts[r["reason"]] = counts.get(r["reason"], 0) + 1
    assert counts == {"ok": 1, "missing_name": 1, "missing_version": 1, "bad_size": 1}


def test_dedup_index_facade(spark, sf_dir, tmp_path):
    import pyspark.sql.functions as F

    from pkg2_spark.catalog import load_tables
    from pkg2_spark.engine import Engine

    eng = Engine(spark)
    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    state = str(tmp_path / "v0")
    eng.dedup_index_build(base, state)
    pairs = eng.dedup_index_apply(state, delta, e)
    comp = eng.near_dup_components(pairs.filter(F.col("cos") >= 0.3), "id_a", "id_b")
    assert comp.count() > 0


def test_depends_atoms_nospace_and_legacy_ops(spark, tmp_path):
    # dpkg accepts constraints without whitespace ('libweb (>=1.4)') and
    # the legacy bare '>'/'<' mean INCLUSIVE >=/<= in Debian syntax; both
    # must parse instead of silently degrading to match-any (op = '').
    from pkg2_spark.engine import Engine

    p = tmp_path / "Packages"
    p.write_text(
        "Package: app\nVersion: 1.0-1\nArchitecture: amd64\n"
        "Installed-Size: 10\n"
        "Depends: tight (>=1.4), legacy-hi (> 2.0), legacy-lo (< 3.0), "
        "spaced ( >= 5.1 ), pinned(=7)\n"
        "Description: constraint syntax corpus\n"
    )
    eng = Engine(spark)
    eng.ingest_debian_packages(str(p))
    atoms = {
        r["dep_name"]: (r["op"], r["dver"])
        for r in eng.depends_atoms().collect()
    }
    assert atoms == {
        "tight": (">=", "1.4"),
        "legacy-hi": (">=", "2.0"),   # dpkg legacy '>' == '>='
        "legacy-lo": ("<=", "3.0"),   # dpkg legacy '<' == '<='
        "spaced": (">=", "5.1"),
        "pinned": ("=", "7"),
    }


def test_depends_atoms_legacy_ops_select_boundary_versions(spark, tmp_path):
    # Behavioral check of the legacy mapping: '> 1.0' admits version 1.0
    # itself in Debian syntax, while apk's inline 'dep>1.0' stays strict.
    from pkg2_spark.engine import Engine

    p = tmp_path / "Packages"
    p.write_text(
        "Package: app\nVersion: 1.0-1\nArchitecture: amd64\n"
        "Installed-Size: 10\nDepends: dep (> 1.0)\nDescription: a\n"
        "\n"
        "Package: dep\nVersion: 1.0\nArchitecture: amd64\n"
        "Installed-Size: 1\nDescription: boundary version\n"
    )
    eng = Engine(spark)
    eng.ingest_debian_packages(str(p))
    got = {
        (r["name"], r["version"])
        for r in eng.resolve_constrained("app").collect()
    }
    assert got == {("dep", "1.0")}


def test_ingest_collection_keeps_cache_distros_and_raw_atoms(spark, tmp_path):
    # An index_cache source holds several wire formats: the collection
    # ingest must keep the per-format distro tags the cache reader derives
    # (not relabel everything with the config's one distro), and must carry
    # depends_raw through so resolve_constrained works after a collection
    # ingest.
    import gzip
    import io
    import json
    import tarfile

    from pkg2_spark.engine import Engine
    from pkg2_spark.queries.packages import _MULTIVER_PATH
    from pkg2_spark.queries.relational import _APKINDEX_PATH

    cache = tmp_path / "cache"
    cache.mkdir()
    data = open(_APKINDEX_PATH, "rb").read()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        ti = tarfile.TarInfo("APKINDEX")
        ti.size = len(data)
        tf.addfile(ti, io.BytesIO(data))
    (cache / "APKINDEX.tar.gz").write_bytes(gzip.compress(buf.getvalue(), mtime=0))
    (cache / "Packages.gz").write_bytes(
        gzip.compress(open(_MULTIVER_PATH, "rb").read(), mtime=0)
    )
    cfg = tmp_path / "collection.json"
    cfg.write_text(json.dumps({
        "collection": "t",
        "sources": [
            {"distro": "mislabel-me", "format": "index_cache", "path": "cache"},
        ],
    }))
    eng = Engine(spark)
    out = eng.ingest_collection(str(cfg))
    distros = {r["distro"] for r in out.select("distro").distinct().collect()}
    assert distros == {"alpine", "debian"}     # derived, not the config label
    # depends_raw survived the shared-column normalization:
    got = {
        (r["name"], r["version"])
        for r in eng.resolve_constrained("webapp").collect()
    }
    assert ("libweb", "1.4-2") in got and ("libweb", "1.2-1") not in got


def test_starlark_collection_equals_json_collection(spark):
    # pkg2 configured collections in Starlark; the .star path (restricted
    # literal-subset evaluator, no code execution) must produce exactly
    # the table the equivalent JSON config produces.
    import os

    from pkg2_spark.engine import Engine
    from pkg2_spark.queries.packages import _COLLECTION_PATH

    star_path = os.path.join(os.path.dirname(_COLLECTION_PATH),
                             "collection_sample.star")
    rows_json = {
        (r["distro"], r["name"], r["version"], r["arch"])
        for r in Engine(spark).ingest_collection(_COLLECTION_PATH).collect()
    }
    rows_star = {
        (r["distro"], r["name"], r["version"], r["arch"])
        for r in Engine(spark).ingest_collection(star_path).collect()
    }
    assert rows_star == rows_json and rows_star


def test_starlark_collection_rejects_code():
    # The evaluator is a config reader, not an interpreter: calls,
    # imports/load(), and control flow must be rejected by name, and
    # nothing may execute (a call to print/open would be the leak).
    import pytest as _pytest

    from pkg2_spark.engine import Engine

    ev = Engine._eval_starlark_config
    env = ev('a = 1\nb = [a, 2]\nc = b + [3]\nd = {"k": c}\n', "t.star")
    assert env == {"a": 1, "b": [1, 2], "c": [1, 2, 3], "d": {"k": [1, 2, 3]}}
    for bad in (
        "x = open('/etc/passwd')",
        "load('foo.star', 'x')",
        "def f():\n    pass",
        "import os",
        "x = __import__('os')",
        "for i in [1]:\n    x = i",
        "x = 1 if True else 2",
        "x = {**y}",  # dict unpacking → the named ValueError, not TypeError
        "x = {[1]: 2}",  # unhashable literal key → same named rejection
    ):
        with _pytest.raises((ValueError, SyntaxError)):
            ev(bad, "t.star")
    # r11: rejections carry the offending LINE and targeted guidance —
    # load() points at inlining, generic calls at computing upstream.
    with _pytest.raises(ValueError, match=r"t\.star:2.*load\(\).*inline"):
        ev("a = 1\nb = load('x.star', 'y')", "t.star")
    with _pytest.raises(ValueError, match=r"t\.star:1.*call to glob\(\)"):
        ev("a = glob('*.txt')", "t.star")
    with _pytest.raises(ValueError, match=r"t\.star:3.*undefined name 'zz'"):
        ev("a = 1\nb = 2\nc = zz", "t.star")


def test_fetch_to_cache_roundtrip_and_negative_paths(spark, tmp_path):
    # file:// fetch round trip: bytes land atomically and identically; a
    # missing URL raises (urllib), and a corrupt .gz payload (HTML error
    # page, truncated download) is refused instead of poisoning the cache.
    import gzip
    import urllib.error

    import pytest as _pytest

    from pkg2_spark.engine import Engine

    src = tmp_path / "remote"
    src.mkdir()
    payload = gzip.compress(b"P:demo\nV:1.0-r0\nA:x86_64\nS:1\nT:d\nD:\n", mtime=0)
    (src / "APKINDEX.tar.gz").write_bytes(payload)

    eng = Engine(spark)
    cache = tmp_path / "cache"
    got = eng.fetch_to_cache([f"file://{src}/APKINDEX.tar.gz"], str(cache))
    assert [p.split("/")[-1] for p in got] == ["APKINDEX.tar.gz"]
    assert (cache / "APKINDEX.tar.gz").read_bytes() == payload
    assert not list(cache.glob("*.tmp"))

    with _pytest.raises(urllib.error.URLError):
        eng.fetch_to_cache([f"file://{src}/missing.gz"], str(cache))

    (src / "corrupt.gz").write_text("<html>503 Service Unavailable</html>")
    with _pytest.raises(ValueError, match="not gzip"):
        eng.fetch_to_cache([f"file://{src}/corrupt.gz"], str(cache))
    assert not (cache / "corrupt.gz").exists()


def test_fetch_to_cache_over_real_http_socket(spark, tmp_path, sf_dir):
    # r11 verdict #4: q_pkg_fetch exercises the urllib path via file://
    # only; drive the IDENTICAL branch over a real HTTP socket (stdlib
    # http.server in-process, no new dependency): the four-format
    # fetch -> ingest round trip plus the corrupt-gz refusal, all over
    # http://127.0.0.1.
    import shutil
    import threading
    import urllib.error
    from functools import partial
    from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

    import pytest as _pytest

    from pkg2_spark.engine import Engine
    from pkg2_spark.queries.packages import _GZ_CACHE_FILES, _ensure_gz_cache

    # Copy the shared four-format fixture into a private docroot — the
    # fixture dir itself is ingested by q_pkg_gzindex, so the corrupt
    # payload must never be written there.
    remote = _ensure_gz_cache(sf_dir)
    docroot = tmp_path / "docroot"
    docroot.mkdir()
    for f in _GZ_CACHE_FILES:
        shutil.copy(os.path.join(remote, f), docroot / f)

    srv = ThreadingHTTPServer(
        ("127.0.0.1", 0),
        partial(SimpleHTTPRequestHandler, directory=str(docroot)),
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        eng = Engine(spark)
        cache = tmp_path / "cache"
        got = eng.fetch_to_cache(
            [f"{base}/{f}" for f in _GZ_CACHE_FILES], str(cache)
        )
        assert sorted(p.split("/")[-1] for p in got) == sorted(_GZ_CACHE_FILES)
        for f in _GZ_CACHE_FILES:  # byte-identical over the wire
            assert (cache / f).read_bytes() == (docroot / f).read_bytes()
        assert not list(cache.glob("*.tmp"))
        # The HTTP-fetched cache ingests through the same normalized
        # pipeline: all four wire formats parse to their distros.
        pkgs = eng.ingest_index_cache(str(cache))
        assert {r["distro"] for r in pkgs.select("distro").distinct().collect()} == {
            "alpine", "debian", "fedora", "arch"
        }
        # Corrupt payload (an error page served with 200) is refused at
        # the gzip-magic gate, not cached.
        (docroot / "corrupt.gz").write_text("<html>503 Service Unavailable</html>")
        with _pytest.raises(ValueError, match="not gzip"):
            eng.fetch_to_cache([f"{base}/corrupt.gz"], str(cache))
        assert not (cache / "corrupt.gz").exists()
        # A genuinely missing URL surfaces as the transport's HTTPError.
        with _pytest.raises(urllib.error.HTTPError):
            eng.fetch_to_cache([f"{base}/missing.gz"], str(cache))
    finally:
        srv.shutdown()
        srv.server_close()


def test_fetch_to_cache_basename_collisions_do_not_overwrite(spark, tmp_path):
    # Distinct repo URLs sharing a basename are the norm (every Alpine
    # repo/arch index is APKINDEX.tar.gz); each must land as its own cache
    # file — within one call AND across calls — and ingest must see the
    # union, never a silent last-writer-wins.
    import gzip

    from pkg2_spark.engine import Engine

    payloads = {}
    for repo, pkg in [("main", "alpha"), ("community", "beta"), ("testing", "gamma")]:
        d = tmp_path / repo / "x86_64"
        d.mkdir(parents=True)
        payloads[repo] = gzip.compress(
            f"P:{pkg}\nV:1.0-r0\nA:x86_64\nS:1\nT:d\nD:\n".encode(), mtime=0
        )
        (d / "APKINDEX.tar.gz").write_bytes(payloads[repo])

    eng = Engine(spark)
    cache = tmp_path / "cache"
    # Two colliding URLs in ONE call, a third collision in a LATER call.
    got1 = eng.fetch_to_cache(
        [f"file://{tmp_path}/main/x86_64/APKINDEX.tar.gz",
         f"file://{tmp_path}/community/x86_64/APKINDEX.tar.gz"],
        str(cache),
    )
    got2 = eng.fetch_to_cache(
        [f"file://{tmp_path}/testing/x86_64/APKINDEX.tar.gz"], str(cache)
    )
    names = [p.split("/")[-1] for p in got1 + got2]
    assert len(set(names)) == 3, names
    assert "APKINDEX.tar.gz" in names  # first claimant keeps the plain name
    stored = sorted(p.read_bytes() for p in cache.glob("APKINDEX*"))
    assert stored == sorted(payloads.values())

    # Re-fetching the SAME url refreshes in place — no new file.
    again = eng.fetch_to_cache(
        [f"file://{tmp_path}/main/x86_64/APKINDEX.tar.gz"], str(cache)
    )
    assert again == [got1[0]]
    assert len(list(cache.glob("APKINDEX*"))) == 3

    # The manifest sidecar is underscore-prefixed, so the binaryFile scan
    # (and thus ingest) never sees it; all three packages parse.
    pkgs = eng.ingest_index_cache(str(cache))
    assert sorted(r["name"] for r in pkgs.select("name").collect()) == [
        "alpha", "beta", "gamma"
    ]


def test_index_delta_classification(spark):
    # Hand-derivable ground truth over the two committed APKINDEX
    # snapshots: upgrade rides the numeric version key (1.37.0-r1 >
    # 1.36.1-r5 > 1.36.1-r2), openssl is the downgrade branch, python3
    # moves per-arch (aarch64 removed, x86_64 upgraded), and unchanged
    # rows (alpine-baselayout, curl) must NOT appear in the feed.
    from pkg2_spark.queries.packages import _APKINDEX_V2_PATH

    eng = Engine(spark)
    old = eng.ingest_apkindex(_APKINDEX_PATH)
    new = eng.ingest_apkindex(_APKINDEX_V2_PATH)
    rows = {
        (r["name"], r["arch"]): (r["old_version"], r["new_version"], r["change"])
        for r in eng.index_delta(old, new).collect()
    }
    assert rows[("musl", "x86_64")] == ("1.2.4-r0", "1.2.4-r2", "upgraded")
    # old side's latest busybox build is 1.36.1-r2; v2's is 1.37.0-r1
    assert rows[("busybox", "x86_64")] == ("1.36.1-r2", "1.37.0-r1", "upgraded")
    assert rows[("openssl", "x86_64")] == ("3.1.2-r0", "3.0.10-r0", "downgraded")
    assert rows[("python3", "aarch64")] == ("3.11.4-r1", None, "removed")
    assert rows[("python3", "x86_64")] == ("3.10.13-r0", "3.12.0-r0", "upgraded")
    assert rows[("libffi", "x86_64")] == (None, "3.4.4-r2", "added")
    assert rows[("ca-certificates", "x86_64")] == (None, "20230506-r0", "added")
    assert ("alpine-baselayout", "x86_64") not in rows
    assert ("curl", "aarch64") not in rows
    assert len(rows) == 8


def test_match_advisories_classification(spark):
    # Hand-derived ground truth: numeric-aware comparisons (8.2.1-r0 <
    # 8.10.0-r0, NOT lexicographic), equal version = patched, multi-build
    # packages get one verdict per build, multi-advisory packages one per
    # CVE, and unadvised packages emit nothing.
    from pkg2_spark.queries.packages import _ADVISORIES_PATH

    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    rows = {
        (r["name"], r["arch"], r["version"], r["cve"]): r["status"]
        for r in eng.match_advisories(_ADVISORIES_PATH).collect()
    }
    assert rows[("musl", "x86_64", "1.2.4-r0", "CVE-2024-0001")] == "vulnerable"
    # two busybox builds, one verdict each against the same CVE
    assert rows[("busybox", "x86_64", "1.35.0-r17", "CVE-2024-0002")] == "vulnerable"
    assert rows[("busybox", "x86_64", "1.36.1-r2", "CVE-2024-0002")] == "patched"
    # one openssl build, two advisories: patched vs one, vulnerable to the next
    assert rows[("openssl", "x86_64", "3.1.2-r0", "CVE-2024-0003")] == "patched"
    assert rows[("openssl", "x86_64", "3.1.2-r0", "CVE-2024-0004")] == "vulnerable"
    # numeric-aware: 8.2.1 < 8.10.0 (lexicographic would say patched)
    assert rows[("curl", "aarch64", "8.2.1-r0", "CVE-2024-0007")] == "vulnerable"
    # fixed_version == installed -> patched
    assert rows[("alpine-baselayout", "x86_64", "3.4.3-r1", "CVE-2024-0008")] == "patched"
    # null fixed_version (no fix released yet) must NOT fail open to
    # 'patched' — it is a distinct 'unfixed' verdict.
    assert rows[("musl", "x86_64", "1.2.4-r0", "CVE-2024-0009")] == "unfixed"
    assert len(rows) == 11


def test_q_pkg_fetch_fetches_into_a_fresh_cache(spark, sf_dir, tmp_path):
    # A cache dir pre-filled from the same archives under another root
    # claims their basenames in its manifest; q_pkg_fetch must clear it,
    # not add a hashed-name copy of every archive (twice the rows).
    import shutil

    from pkg2_spark.queries.packages import _GZ_CACHE_FILES, _ensure_gz_cache
    from pkg2_spark.queries.relational import fixture_path
    from pkg2_spark.registry import all_queries

    q = all_queries()["q_pkg_fetch"]
    fresh = q(spark, sf_dir).count()
    mirror = tmp_path / "mirror"
    shutil.copytree(_ensure_gz_cache(sf_dir), mirror)
    Engine(spark).fetch_to_cache(
        [f"file://{mirror}/{f}" for f in _GZ_CACHE_FILES],
        fixture_path("pkg_fetched_cache", sf_dir),
    )
    assert fresh > 0
    assert q(spark, sf_dir).count() == fresh
