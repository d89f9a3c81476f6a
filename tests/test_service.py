"""QueryService — the programmatic serving surface (pkg2's service analog).

Covers: endpoint dispatch, parameter validation, server-side row bounding
(LIMIT in the plan, not driver-side truncation), JSON-safe encoding, and
error behavior for unknown endpoints / missing params.
"""

from __future__ import annotations

import json
import os

import pytest

from pkg2_spark.engine import Engine
from pkg2_spark.service import QueryService, ServiceError, demo_requests

_DATA = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "pkg2_spark", "data")


@pytest.fixture(scope="module")
def svc(spark):
    eng = Engine(spark)
    eng.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
    return QueryService(eng, max_rows=5)


def test_all_demo_requests_round_trip_json(spark, svc):
    # Re-ingest per endpoint family as the demo expects debian for resolve
    eng = svc.engine
    for endpoint, params in demo_requests():
        if endpoint in ("resolve",):
            eng.ingest_debian_packages(os.path.join(_DATA, "packages_sample.txt"))
        else:
            eng.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
        resp = svc.handle(endpoint, params)
        # every response must survive a JSON round trip untouched
        assert json.loads(json.dumps(resp)) == resp
        assert resp["endpoint"] == endpoint
        assert resp["row_count"] == len(resp["rows"])
        for row in resp["rows"]:
            assert set(row) == set(resp["columns"])


def test_row_bound_is_in_the_plan(spark, svc):
    svc.engine.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
    resp = svc.handle("sql", {"query": "SELECT * FROM packages"})
    assert resp["row_count"] <= 5
    assert resp["truncated"] is True


def test_search_filters_by_arch(spark, svc):
    svc.engine.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
    resp = svc.handle("search", {"pattern": "%", "arch": "x86_64"})
    assert resp["rows"]
    assert all(r["arch"] == "x86_64" for r in resp["rows"])


def test_constrained_resolution_endpoint(spark, svc):
    svc.engine.ingest_debian_packages(
        os.path.join(_DATA, "packages_multiver_sample.txt")
    )
    resp = svc.handle("resolve_constrained", {"package": "webapp"})
    got = {(r["name"], r["version"]) for r in resp["rows"]}
    assert ("libweb", "1.2-1") not in got    # below the >= 1.4 constraint
    assert ("libweb", "1.4-2") in got
    assert not any(n == "tlslib" for n, _ in got)  # unsatisfiable atom


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted with a job group and the status
    tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_requests_run_only_their_filter(spark):
    # Ingest parses once and each ingest derives its serving frames once;
    # a warm request then pays only its own filter over in-memory blocks.
    # When every request re-parsed the index, a traced service run measured
    # resolve at 8.3 jobs per request, whatdepends at 3.8 and latest at 2.
    eng = Engine(spark)
    eng.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
    svc = QueryService(eng, max_rows=5)
    pins = {
        "search": ({"pattern": "py%"}, 1),
        "whatprovides": ({"capability": "so:libz.so.1"}, 1),
        "whatdepends": ({"package": "musl"}, 2),
        "resolve": ({"package": "python3"}, 3),
        "latest": ({}, 1),
        "table": ({"name": "packages"}, 1),
    }
    for endpoint, (params, limit) in pins.items():
        first = svc.handle(endpoint, params)
        assert first["rows"], endpoint
        n = _jobs_of(spark, lambda: svc.handle(endpoint, params))
        assert 1 <= n <= limit, (endpoint, n)


def test_concurrent_first_requests_derive_state_once(spark, monkeypatch):
    # At least four threads, more than there are cores, send their first
    # requests at the same moment with a shortened switch interval: they
    # all get the same answers, and each derived frame is built exactly
    # once (its build lock, not a race, decides who builds it).
    import collections
    import sys
    import threading

    from pkg2_spark import engine as engine_mod

    builds = collections.Counter()

    class CountingBuildOnce(engine_mod.BuildOnce):
        def get(self, key, build):
            def counted():
                builds[key] += 1
                return build()

            return super().get(key, counted)

    # The ingest below builds its _IndexState's memo from this class.
    monkeypatch.setattr(engine_mod, "BuildOnce", CountingBuildOnce)
    eng = Engine(spark)
    eng.ingest_debian_packages(os.path.join(_DATA, "packages_sample.txt"))
    svc = QueryService(eng)
    n = max(4, len(os.sched_getaffinity(0)) + 1)
    barrier = threading.Barrier(n)
    answers: list = [None] * n

    def client(i: int) -> None:
        barrier.wait()
        answers[i] = (
            svc.handle("resolve", {"package": "python3.11"})["rows"],
            svc.handle("whatdepends", {"package": "libc6"})["rows"],
        )

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert all(a is not None for a in answers)
    assert all(a == answers[0] for a in answers)
    assert answers[0][0] and answers[0][1]
    assert builds["package_edges"] == 1 and builds["dependency_edges"] == 1
    assert set(builds.values()) == {1}


def test_unknown_endpoint_and_missing_param_raise(spark, svc):
    with pytest.raises(ServiceError, match="unknown endpoint"):
        svc.handle("nope", {})
    with pytest.raises(ServiceError, match="missing required parameter"):
        svc.handle("search", {})
    with pytest.raises(ServiceError, match="invalid table name"):
        svc.handle("table", {"name": "x; drop"})


def test_sql_endpoint_is_select_only_by_default(spark, svc):
    svc.engine.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
    for bad in [
        "DROP TABLE packages",
        "INSERT INTO packages VALUES (1)",
        "CREATE TABLE t AS SELECT 1",
        "SELECT 1; DROP TABLE packages",
        "SET spark.sql.shuffle.partitions=1",
        "SELECT * FROM parquet.`/etc/passwd`",
    ]:
        with pytest.raises(ServiceError):
            svc.handle("sql", {"query": bad})
    # query-shaped statements still pass
    ok = svc.handle("sql", {"query": "WITH t AS (SELECT 1 AS x) SELECT x FROM t"})
    assert ok["rows"] == [{"x": 1}]
    # trusted embedders can opt out of the gate
    unsafe = QueryService(svc.engine, max_rows=5, allow_unsafe_sql=True)
    resp = unsafe.handle("sql", {"query": "SELECT 'DROP' AS created_at"})
    assert resp["rows"] == [{"created_at": "DROP"}]


def test_truncated_flag_exact_boundary(spark, svc):
    # A result with exactly max_rows rows is complete — truncated False;
    # one more row flips it. The sentinel fetch is limit(max_rows + 1).
    svc.engine.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
    exact = svc.handle("sql", {"query": (
        "SELECT id FROM (SELECT explode(sequence(1, 5)) AS id)"
    )})
    assert exact["row_count"] == 5 and exact["truncated"] is False
    over = svc.handle("sql", {"query": (
        "SELECT id FROM (SELECT explode(sequence(1, 6)) AS id)"
    )})
    assert over["row_count"] == 5 and over["truncated"] is True


def test_http_transport_round_trip(spark, svc):
    # The stdlib transport: GET with query params, POST with JSON body,
    # endpoint listing, and the error mapping (ServiceError -> 400 with a
    # JSON error; unknown endpoint is a ServiceError too).
    import threading
    import urllib.error
    import urllib.request

    from pkg2_spark.service import make_http_server

    svc.engine.ingest_apkindex(os.path.join(_DATA, "apkindex_sample.txt"))
    server = make_http_server(svc)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        eps = json.loads(urllib.request.urlopen(f"{base}/endpoints").read())
        assert "search" in eps["endpoints"]

        resp = json.loads(
            urllib.request.urlopen(f"{base}/search?pattern=%25lib%25").read()
        )
        assert resp["endpoint"] == "search" and resp["row_count"] >= 1

        req = urllib.request.Request(
            f"{base}/sql",
            data=json.dumps({"query": "SELECT 1 AS one"}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        resp = json.loads(urllib.request.urlopen(req).read())
        assert resp["rows"] == [{"one": 1}]

        for bad_url in (f"{base}/search", f"{base}/nope", f"{base}/sql?query=DROP%20TABLE%20x"):
            try:
                urllib.request.urlopen(bad_url)
                raise AssertionError(f"{bad_url} should have failed")
            except urllib.error.HTTPError as e:
                assert e.code == 400
                assert "error" in json.loads(e.read())

        # The browsable UI: GET / serves the page, and the page's own
        # round trip (fetch /endpoints, then /search?pattern=...) is the
        # exact request sequence already asserted above — so serving the
        # page + the working endpoints IS the UI contract.
        for ui_url in (f"{base}/", f"{base}/ui"):
            page = urllib.request.urlopen(ui_url)
            assert page.headers.get_content_type() == "text/html"
            html = page.read().decode("utf-8")
            assert "pkg2_spark query service" in html
            # the page drives the same endpoints the API test exercised
            assert 'fetch("endpoints")' in html and "textContent" in html
    finally:
        server.shutdown()
        server.server_close()


@pytest.fixture(scope="module")
def llm_svc(spark, sf_dir):
    # The LLM serving surface needs the corpus tables registered (the
    # endpoints read the documents/embeddings views, not ingested
    # packages); max_rows sized for multi-probe top-k results.
    eng = Engine(spark, sf_dir)
    return QueryService(eng, max_rows=100)


def test_ann_search_endpoint_serves_topk_with_audit(spark, llm_svc):
    # r12 verdict #6: /ann_search takes request probes + k/n_probe params
    # and returns top-k rows PLUS the audit outcome (served path, measured
    # recall, escalation ladder) in the response envelope.
    src = llm_svc.engine.table("embeddings").orderBy("vec_id").limit(3).collect()
    probes = [
        {"probe_id": 1000 + i, "embedding": list(r["embedding"])}
        for i, r in enumerate(src)
    ]
    resp = llm_svc.handle("ann_search", {"probes": probes, "k": 4})
    assert json.loads(json.dumps(resp)) == resp
    assert resp["row_count"] == 12  # 3 probes x k=4
    ann = resp["ann"]
    assert ann["k"] == 4 and ann["min_recall"] == 0.8
    assert ann["path"] == "ivf" or ann["path"].startswith("ivf(n_probe=") or (
        ann["path"] == "bruteforce"
    )
    assert isinstance(ann["escalation"], list) and ann["escalation"]
    assert 0.0 <= ann["recall"] <= 1.0
    # Each probe IS a corpus vector: its top hit must be that vector.
    by_probe: dict = {}
    for row in resp["rows"]:
        by_probe.setdefault(row["probe_id"], []).append(row)
    for i, r in enumerate(src):
        hits = by_probe[1000 + i]
        assert hits[0]["vec_id"] == r["vec_id"]
        assert hits[0]["cos"] == 1.0
        assert [h["cos"] for h in hits] == sorted(
            (h["cos"] for h in hits), reverse=True
        )


def test_ann_search_endpoint_low_recall_fallback_visible(spark, llm_svc):
    # The degraded path must be VISIBLE in the payload: with an
    # unreachable bar the ladder exhausts, the service serves the exact
    # brute-force answer, and the envelope says so.
    eng = llm_svc.engine
    prev_bar, prev_ladder = eng.ann_min_recall, eng.ann_escalation_ladder
    eng.ann_min_recall = 1.01  # recall <= 1.0 by construction: always misses
    eng.ann_escalation_ladder = (8,)
    import warnings

    try:
        r0 = eng.table("embeddings").orderBy("vec_id").limit(1).collect()[0]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            resp = llm_svc.handle(
                "ann_search",
                {"probes": [{"probe_id": 7, "embedding": list(r0["embedding"])}],
                 "k": 3},
            )
    finally:
        eng.ann_min_recall, eng.ann_escalation_ladder = prev_bar, prev_ladder
    assert resp["ann"]["path"] == "bruteforce"
    assert resp["ann"]["min_recall"] == 1.01
    assert len(resp["ann"]["escalation"]) == 2  # base beam + the one rung
    assert resp["row_count"] == 3
    assert json.loads(json.dumps(resp)) == resp


def test_quality_gate_endpoint_verdicts(spark, llm_svc):
    # Per-doc verdicts with per-stage booleans: a 2-token doc dies at the
    # length gate; a one-character-repetition doc dies at the entropy gate
    # (and the OOV-token LM gate); kept is the conjunction of all stages.
    corpus_text = (
        llm_svc.engine.table("documents").orderBy("doc_id").first()["text"]
    )
    docs = [
        {"doc_id": 1, "text": corpus_text},
        {"doc_id": 2, "text": "hi there"},
        {"doc_id": 3, "text": "zz zz zz zz zz zz"},
    ]
    resp = llm_svc.handle("quality_gate", {"docs": docs})
    assert json.loads(json.dumps(resp)) == resp
    assert resp["row_count"] == 3
    rows = {r["doc_id"]: r for r in resp["rows"]}
    assert rows[2]["n_tokens"] == 2
    assert rows[2]["pass_length"] is False and rows[2]["kept"] is False
    assert rows[3]["pass_length"] is True
    assert rows[3]["pass_entropy"] is False and rows[3]["pass_lm"] is False
    assert rows[3]["kept"] is False
    for r in rows.values():
        assert r["kept"] == (
            r["pass_length"] and r["pass_alpha"]
            and bool(r["pass_entropy"]) and bool(r["pass_lm"])
        )


def test_bpe_encode_endpoint_inference(spark, llm_svc):
    # Tokenizer INFERENCE over the service: request docs are encoded
    # under the corpus-trained k=8 merge table (memoized per instance).
    # Corpus-like text compresses (trained pairs fire); an OOV word made
    # of untrained pairs stays at character granularity; responses are
    # deterministic across calls.
    corpus_text = (
        llm_svc.engine.table("documents").orderBy("doc_id").first()["text"]
    )
    resp = llm_svc.handle("bpe_encode", {"docs": [
        {"doc_id": 1, "text": corpus_text},
        {"doc_id": 2, "text": "zzqx"},
    ]})
    assert json.loads(json.dumps(resp)) == resp
    rows = {r["doc_id"]: r for r in resp["rows"]}
    r1 = rows[1]
    assert r1["n_words"] <= r1["n_bpe_tokens"] <= r1["n_word_chars"]
    assert r1["n_bpe_tokens"] < r1["n_word_chars"]  # trained merges fired
    assert r1["compress_e3"] == r1["n_word_chars"] * 1000 // r1["n_bpe_tokens"]
    r2 = rows[2]
    assert r2["n_words"] == 1 and r2["n_word_chars"] == 4
    assert r2["n_bpe_tokens"] == 4  # no trained pair occurs in 'zzqx'
    resp2 = llm_svc.handle(
        "bpe_encode", {"docs": [{"doc_id": 1, "text": corpus_text}]}
    )
    assert resp2["rows"][0] == r1
    with pytest.raises(ServiceError):
        llm_svc.handle("bpe_encode", {"docs": []})


def test_llm_endpoints_reject_bad_requests(spark, llm_svc):
    vec = [0.1] * 4
    for ep, params in [
        ("ann_search", {}),
        ("ann_search", {"probes": []}),
        ("ann_search", {"probes": [{"probe_id": 1}]}),
        ("ann_search", {"probes": [{"probe_id": "x", "embedding": vec}]}),
        ("ann_search", {"probes": [{"probe_id": 1, "embedding": []}]}),
        ("ann_search", {"probes": [
            {"probe_id": 1, "embedding": [0.1]},
            {"probe_id": 2, "embedding": [0.1, 0.2]},
        ]}),
        ("ann_search", {"probes": [
            {"probe_id": 1, "embedding": vec},
            {"probe_id": 1, "embedding": vec},
        ]}),
        ("ann_search", {"probes": [{"probe_id": 1, "embedding": vec}],
                        "k": "999"}),
        ("quality_gate", {}),
        ("quality_gate", {"docs": []}),
        ("quality_gate", {"docs": [{"doc_id": 1}]}),
        ("quality_gate", {"docs": [{"doc_id": 1, "text": ""}]}),
        ("quality_gate", {"docs": [{"doc_id": 1, "text": 7}]}),
        ("quality_gate", {"docs": [
            {"doc_id": 1, "text": "a b"}, {"doc_id": 1, "text": "c d"},
        ]}),
    ]:
        with pytest.raises(ServiceError):
            llm_svc.handle(ep, params)


def test_llm_endpoints_over_http_post(spark, llm_svc):
    # The generic transport serves the new endpoints with nested JSON
    # bodies — no endpoint-specific HTTP code.
    import threading
    import urllib.request

    from pkg2_spark.service import make_http_server

    server = make_http_server(llm_svc)
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        r0 = llm_svc.engine.table("embeddings").orderBy("vec_id").first()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/ann_search",
            data=json.dumps({
                "probes": [{"probe_id": 1, "embedding": list(r0["embedding"])}],
                "k": 2,
            }).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        resp = json.loads(urllib.request.urlopen(req).read())
        assert resp["row_count"] == 2 and "ann" in resp
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/quality_gate",
            data=json.dumps(
                {"docs": [{"doc_id": 5, "text": "one two three four five six"}]}
            ).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        resp = json.loads(urllib.request.urlopen(req).read())
        assert resp["row_count"] == 1 and resp["rows"][0]["doc_id"] == 5
    finally:
        server.shutdown()
        server.server_close()


def test_handle_param_fuzz_raises_only_service_errors(spark, svc):
    # Property: handle() either answers or raises ServiceError — a garbage
    # parameter must never surface as a bare ValueError/TypeError (a
    # transport maps ServiceError to 400; anything else becomes a 500).
    from hypothesis import HealthCheck, given, settings, strategies as st

    svc.engine.ingest_debian_packages(os.path.join(_DATA, "packages_sample.txt"))
    scalar = st.one_of(
        st.none(), st.booleans(), st.integers(), st.floats(allow_nan=False),
        st.text(max_size=20), st.lists(st.integers(), max_size=3),
    )
    params_st = st.dictionaries(
        st.sampled_from(["pattern", "arch", "package", "capability",
                         "max_depth", "name", "query", "junk"]),
        scalar, max_size=4,
    )

    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(endpoint=st.sampled_from(["search", "whatprovides", "whatdepends",
                                     "resolve", "resolve_constrained",
                                     "latest", "table", "nonsense"]),
           params=params_st)
    def run(endpoint, params):
        try:
            resp = svc.handle(endpoint, params)
            assert resp["row_count"] == len(resp["rows"])
        except ServiceError:
            pass

    run()


class TestCli:
    """python -m pkg2_spark — the one-shot CLI over the same service path."""

    def _run(self, spark, argv):
        import io

        from pkg2_spark.__main__ import main
        from pkg2_spark.engine import Engine

        buf = io.StringIO()
        rc = main(argv, engine=Engine(spark), out=buf)
        return rc, buf.getvalue()

    def test_search_renders_table(self, spark):
        idx = os.path.join(_DATA, "apkindex_sample.txt")
        rc, out = self._run(spark, ["search", "mus%", "--index", idx])
        assert rc == 0
        lines = out.splitlines()
        assert lines[0].split()[:2] == ["name", "version"]
        assert any(line.startswith("musl") for line in lines[2:])

    def test_json_envelope_matches_service(self, spark):
        idx = os.path.join(_DATA, "apkindex_sample.txt")
        rc, out = self._run(spark, ["--json", "sql",
                                    "SELECT count(*) AS n FROM packages",
                                    "--index", idx])
        assert rc == 0
        env = json.loads(out)
        assert env["endpoint"] == "sql" and env["columns"] == ["n"]
        assert env["rows"][0]["n"] > 0 and env["truncated"] is False

    def test_bad_request_is_exit_2_not_traceback(self, spark):
        idx = os.path.join(_DATA, "apkindex_sample.txt")
        rc, _ = self._run(spark, ["table", "0", "--index", idx])
        assert rc == 2

    def test_bad_index_path_is_exit_2_not_traceback(self, spark, capsys):
        # Ingest failures ride the same one-line error envelope as request
        # errors — a nonexistent --index must not dump a Spark traceback.
        rc, _ = self._run(
            spark, ["search", "mus%", "--index", "/nonexistent/APKINDEX"]
        )
        assert rc == 2
        err = capsys.readouterr().err
        assert err.startswith("error: ingest failed:")
        assert "\n" == err[-1] and err.count("\n") == 1

    def test_serve_answers_a_request(self, spark, monkeypatch):
        # `serve` blocks in serve_forever on the port it prints; a request
        # gets answered, and stopping the loop closes the socket.
        import threading
        import urllib.request

        import pkg2_spark.service as service

        servers = []
        real_make = service.make_http_server

        def capture(*a, **k):
            servers.append(real_make(*a, **k))
            return servers[-1]

        monkeypatch.setattr(service, "make_http_server", capture)
        idx = os.path.join(_DATA, "apkindex_sample.txt")
        result = {}
        t = threading.Thread(
            target=lambda: result.update(
                rc=self._run(spark, ["serve", "--index", idx, "--port", "0"])
            ),
            daemon=True,
        )
        t.start()
        for _ in range(600):
            if servers or not t.is_alive():
                break
            t.join(0.1)
        assert servers, "serve did not start a server"
        server = servers[0]
        port = server.server_address[1]
        try:
            url = f"http://127.0.0.1:{port}/search?pattern=mus%25"
            with urllib.request.urlopen(url, timeout=60) as resp:
                body = json.loads(resp.read())
        finally:
            server.shutdown()
            t.join(timeout=60)
        assert not t.is_alive()
        assert [r["name"] for r in body["rows"]] == ["musl"]
        rc, out = result["rc"]
        assert rc == 0 and f":{port}/ui" in out
        assert server.socket.fileno() == -1  # closed on the way out

    def test_query_subcommand_runs_registry_entry(self, spark):
        rc, out = self._run(spark, ["--json", "query", "q_llm_vocab_coverage",
                                    "--sf-dir", "/root/testdata/sf0.001",
                                    "--max-rows", "5"])
        assert rc == 0
        env = json.loads(out)
        assert env["columns"][0] == "rank" and env["row_count"] == 5

    def test_queries_listing(self, spark):
        rc, out = self._run(spark, ["queries"])
        assert rc == 0
        names = out.split()
        assert "q_llm_bm25" in names and len(names) >= 250


def test_artifact_lifecycle_serves_without_corpus_or_training(
    spark, llm_svc, tmp_path_factory
):
    # r13 verdict #5: the corpus-derived serving state (BPE merges, LM
    # counts) is a deploy-time ARTIFACT, not a first-request job. Train
    # once on the corpus-backed service, persist, then boot a service on
    # an engine with NO corpus tables registered at all — training is
    # impossible there, so serving bpe_encode/quality_gate proves the
    # first-request path ran zero training jobs; answers must match the
    # trained instance exactly.
    art = str(tmp_path_factory.mktemp("svc_artifacts"))
    info = llm_svc.warmup()
    assert info["bpe_merges"] >= 1 and info["lm_total_tokens"] > 0
    llm_svc.save_artifacts(art)

    corpus_text = (
        llm_svc.engine.table("documents").orderBy("doc_id").first()["text"]
    )
    docs = {"docs": [{"doc_id": 1, "text": corpus_text}]}
    want_bpe = llm_svc.handle("bpe_encode", docs)["rows"]
    want_gate = llm_svc.handle("quality_gate", docs)["rows"]

    bare = QueryService(Engine(spark), max_rows=100, artifact_dir=art)
    assert bare._bpe_merges is not None and bare._lm_state is not None
    assert [tuple(m) for m in bare._bpe_merges] == [
        tuple(m) for m in llm_svc._bpe_merges
    ]
    # Poison the trainers: any attempt to run a training job from the
    # artifact-booted service's request path must fail the test loudly
    # (the corpus views are session-global, so only this proves the
    # serve path never trains).
    import pkg2_spark.operators.text as _text
    import pkg2_spark.queries.training as _training

    def _boom(*a, **k):
        raise AssertionError("request path ran a training job")

    real_train, real_tok = _training.bpe_train_merges, _text.tokenize
    _training.bpe_train_merges, _text.tokenize = _boom, _boom
    try:
        assert bare.handle("bpe_encode", docs)["rows"] == want_bpe
        assert bare.handle("quality_gate", docs)["rows"] == want_gate
    finally:
        _training.bpe_train_merges, _text.tokenize = real_train, real_tok
