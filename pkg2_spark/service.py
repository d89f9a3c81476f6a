"""Query service — the programmatic serving surface over the Engine.

pkg2 exposed its query engine behind a service with a web UI [SURVEY.md
§1.1, Tier C]: named endpoints taking simple scalar parameters and
returning rows. This module is that surface re-expressed Spark-native,
minus the HTTP transport (no web framework ships in this container, and
the transport is the trivial part): a request/response dispatch layer
with named endpoints, validated parameters, bounded row counts, and
JSON-safe row encoding. Wiring it to any HTTP server is
`handle(endpoint, params)` per request.

Design points that matter at scale:

- Every endpoint returns AT MOST ``max_rows`` rows (server-side LIMIT
  pushed into the plan, not a driver-side truncation) — a service must
  never ship an unbounded result to a UI.
- The SparkSession, catalog registrations, and ingested package tables
  are session-scoped and reused across requests. Ingest parses the index
  once, and the frames every lookup derives from it (capability map,
  dependency edges, latest versions) are built once per ingest; a request
  pays only its own filter over in-memory blocks, never a re-parse.
  ``resolve`` and ``resolve_constrained`` over a bounded edge set also
  reuse the driver-side adjacency the ingest's first resolve collected:
  a warm request runs its BFS on the driver and one job to collect the
  result, none when the closure is empty.
- Results are encoded to JSON-safe primitives (timestamps -> ISO strings,
  arrays -> lists) so the response can cross any transport.
"""

from __future__ import annotations

import datetime
import threading
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pkg2_spark.engine import Engine
from pkg2_spark.session import local_rows_df, truncate_lineage

DEFAULT_MAX_ROWS = 200


class ServiceError(ValueError):
    """Bad request: unknown endpoint or invalid/missing parameter."""


def _json_safe(v: Any) -> Any:
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [_json_safe(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if hasattr(v, "asDict"):  # Row / struct
        return {k: _json_safe(x) for k, x in v.asDict().items()}
    return v


class QueryService:
    """Named-endpoint dispatch over an :class:`Engine`.

    >>> svc = QueryService(engine)
    >>> svc.handle("search", {"pattern": "lib%"})
    {"endpoint": "search", "columns": [...], "rows": [...], "row_count": N}
    """

    def __init__(
        self,
        engine: Engine,
        max_rows: int = DEFAULT_MAX_ROWS,
        allow_unsafe_sql: bool = False,
        artifact_dir: str | None = None,
    ):
        self.engine = engine
        self.max_rows = max_rows
        # The sql endpoint is SELECT-only by default: a transport-exposed
        # service must not accept DDL/DML (INSERT OVERWRITE, DROP, path-based
        # reads) from untrusted parameters. Opt in explicitly for trusted
        # embedders.
        self.allow_unsafe_sql = allow_unsafe_sql
        self._endpoints = {
            "search": self._search,
            "whatprovides": self._whatprovides,
            "whatdepends": self._whatdepends,
            "resolve": self._resolve,
            "resolve_constrained": self._resolve_constrained,
            "latest": self._latest,
            "sql": self._sql,
            "table": self._table,
            "ann_search": self._ann_search,
            "quality_gate": self._quality_gate,
            "bpe_encode": self._bpe_encode,
        }
        # Corpus-derived serving state memoized per service instance
        # (unigram LM counts for quality_gate, the trained BPE merge
        # table for bpe_encode). Lifecycle (r13 verdict #5): train once
        # with warmup() — at deploy time, NOT on the first request —
        # persist with save_artifacts(dir), and construct later service
        # instances with artifact_dir to LOAD the small parquet/JSON
        # artifacts instead of re-running the training jobs; a service
        # booted from artifacts serves bpe_encode/quality_gate with no
        # corpus table registered at all (pinned by test_service.py).
        # Lazy first-request training remains the fallback when neither
        # happened; concurrent first requests train once, under _lock.
        self._lock = threading.Lock()
        self._lm_state: tuple[DataFrame, int] | None = None
        self._bpe_merges: list[tuple[str, str]] | None = None
        if artifact_dir is not None:
            self.load_artifacts(artifact_dir)

    # ------------------------------------------------------------ dispatch
    def endpoints(self) -> list[str]:
        return sorted(self._endpoints)

    def handle(self, endpoint: str, params: dict[str, Any] | None = None) -> dict:
        """Execute one request; returns a JSON-safe response envelope."""
        params = dict(params or {})
        fn = self._endpoints.get(endpoint)
        if fn is None:
            raise ServiceError(
                f"unknown endpoint {endpoint!r}; available: {self.endpoints()}"
            )
        # Plan + execute under a bad-request boundary: an analysis/parse
        # error here means the PARAMETERS were bad in a way the per-endpoint
        # validators didn't anticipate (the query shapes themselves are
        # fixed and tested) — that is a 400, not a 500. Genuinely internal
        # failures (Py4J faults, executor loss) are not Analysis errors and
        # still propagate to the transport's 500 path.
        from pyspark.errors import AnalysisException, ParseException

        try:
            res = fn(params)
            # Endpoints may return (df, extra) — extra is merged into the
            # response envelope (e.g. ann_search's audit outcome).
            df, extra = res if isinstance(res, tuple) else (res, {})
            # Fetch one sentinel row past the cap so `truncated` is exact: a
            # result with exactly max_rows rows is complete, not truncated.
            limited = df.limit(self.max_rows + 1)
            fetched = limited.collect()
        except ServiceError:
            raise
        except (AnalysisException, ParseException) as exc:
            # getCondition (4.x) / getErrorClass (3.x) name the error class
            # without the full internal message — enough for the client,
            # nothing leaked.
            cond = getattr(exc, "getCondition", getattr(exc, "getErrorClass", lambda: None))()
            raise ServiceError(
                f"invalid request to {endpoint!r}: {cond or type(exc).__name__}"
            ) from exc
        rows = [
            {k: _json_safe(v) for k, v in r.asDict().items()}
            for r in fetched[: self.max_rows]
        ]
        return {
            "endpoint": endpoint,
            "columns": limited.columns,
            "rows": rows,
            "row_count": len(rows),
            "truncated": len(fetched) > self.max_rows,
            **{k: _json_safe(v) for k, v in extra.items()},
        }

    # ----------------------------------------------------------- endpoints
    @staticmethod
    def _require(params: dict, key: str) -> Any:
        if key not in params or params[key] in (None, ""):
            raise ServiceError(f"missing required parameter {key!r}")
        v = params[key]
        if not isinstance(v, str):
            raise ServiceError(f"parameter {key!r} must be a string, got {type(v).__name__}")
        return v

    @staticmethod
    def _int_param(params: dict, key: str, default: int, lo: int, hi: int) -> int:
        """Bounded integer parameter: a transport hands everything over as
        strings, so coerce — and refuse garbage or out-of-range values as a
        BAD REQUEST (ServiceError), never a bare ValueError/500."""
        raw = params.get(key, default)
        try:
            v = int(raw)
        except (TypeError, ValueError):
            raise ServiceError(f"parameter {key!r} must be an integer, got {raw!r}")
        if not (lo <= v <= hi):
            raise ServiceError(f"parameter {key!r} must be in [{lo}, {hi}], got {v}")
        return v

    def _search(self, p: dict) -> DataFrame:
        pattern = self._require(p, "pattern")
        # A dangling escape ('abc\') is an invalid LIKE pattern — Spark
        # raises at EXECUTION time, which a transport would surface as a
        # 500; reject it here as the bad request it is.
        if (len(pattern) - len(pattern.rstrip("\\"))) % 2 == 1:
            raise ServiceError("parameter 'pattern' ends with a dangling escape")
        arch = p.get("arch")
        if arch is not None and not isinstance(arch, str):
            raise ServiceError(f"parameter 'arch' must be a string, got {type(arch).__name__}")
        return self.engine.search_packages(pattern, arch=arch).select(
            "name", "version", "arch", "description"
        )

    def _whatprovides(self, p: dict) -> DataFrame:
        return self.engine.whatprovides(self._require(p, "capability"))

    def _whatdepends(self, p: dict) -> DataFrame:
        return self.engine.whatdepends(self._require(p, "package"))

    def _resolve(self, p: dict) -> DataFrame:
        return self.engine.resolve(
            self._require(p, "package"),
            max_depth=self._int_param(p, "max_depth", 10, 1, 100),
        ).orderBy("depth", "node")

    def _resolve_constrained(self, p: dict) -> DataFrame:
        return self.engine.resolve_constrained(
            self._require(p, "package"),
            max_depth=self._int_param(p, "max_depth", 10, 1, 100),
        ).orderBy("depth", "name", "version")

    def _latest(self, p: dict) -> DataFrame:
        return self.engine.latest_versions().select("name", "version", "arch")

    # Statement forms allowed through the sql endpoint (query-only). Spark
    # SQL queries start with one of these after comments are stripped.
    _QUERY_HEADS = ("select", "with", "values", "table", "from", "(")
    # Mutating / session-changing verbs rejected anywhere in the statement
    # (word-bounded, so column names like `created_at` don't trip it).
    _FORBIDDEN = (
        "insert", "update", "delete", "merge", "drop", "create", "alter",
        "truncate", "grant", "revoke", "set", "reset", "add", "load",
        "analyze", "cache", "uncache", "refresh", "msck", "use",
        # Escape hatches out of pure-relational SQL: reflect()/java_method()
        # call arbitrary static Java methods (e.g. System.getenv — info
        # disclosure through a "safe" endpoint), and the java_import-free
        # config readers leak session state. Blocklists are inherently
        # incomplete; embedders exposing this on a real network should front
        # it with an allowlist of tables + functions.
        "reflect", "java_method", "current_user", "session_user",
        "input_file_name", "input_file_block_start", "input_file_block_length",
    )

    @classmethod
    def _reject_unsafe_sql(cls, query: str) -> None:
        """Fail-closed SELECT-only filter for transport-exposed callers.

        Strips comments, then requires a query-shaped head token, a single
        statement, no mutating verbs, and no path-based table access
        (``format.`/path```). Conservative by design: a legitimate query
        containing e.g. the literal string 'DROP' is rejected — embedders
        that need full SQL pass ``allow_unsafe_sql=True``.
        """
        import re

        stripped = re.sub(r"--[^\n]*", " ", query)
        stripped = re.sub(r"/\*.*?\*/", " ", stripped, flags=re.S)
        body = stripped.strip().rstrip(";").strip()
        if ";" in body:
            raise ServiceError("sql endpoint accepts a single statement")
        head = body.split(None, 1)[0].lower() if body else ""
        if not (head.startswith("(") or head in cls._QUERY_HEADS):
            raise ServiceError(
                f"sql endpoint is SELECT-only; statement head {head!r} rejected"
            )
        lowered = body.lower()
        for verb in cls._FORBIDDEN:
            if re.search(rf"\b{verb}\b", lowered):
                raise ServiceError(
                    f"sql endpoint is SELECT-only; keyword {verb!r} rejected"
                )
        if re.search(r"\b(parquet|orc|csv|json|text|binaryfile|avro)\s*\.\s*`", lowered):
            raise ServiceError("sql endpoint rejects path-based table access")

    def _sql(self, p: dict) -> DataFrame:
        query = self._require(p, "query")
        if not self.allow_unsafe_sql:
            self._reject_unsafe_sql(query)
        return self.engine.sql(query)

    def _table(self, p: dict) -> DataFrame:
        name = self._require(p, "name")
        # Strict SQL-identifier shape: letter/underscore head, then word
        # chars. `.isalnum()` was too weak — it admits digit-leading names
        # ('0'), which spark.table() rejects with a raw ParseException
        # (a 500 through the transport instead of the 400 this is).
        import re

        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ServiceError(f"invalid table name {name!r}")
        return self.engine.table(name)

    # ------------------------------------------------- LLM serving surface
    def _corpus_table(self, name: str) -> DataFrame:
        if not self.engine.spark.catalog.tableExists(name):
            raise ServiceError(
                f"corpus table {name!r} is not registered — construct the "
                "Engine with sf_dir (or call engine.load_tables) before "
                "serving this endpoint"
            )
        return self.engine.table(name)

    # ------------------------------------------- serving-state lifecycle
    def _ensure_bpe_merges(self) -> list[tuple[str, str]]:
        if self._bpe_merges is None:
            with self._lock:
                if self._bpe_merges is None:
                    from pkg2_spark.queries.training import (
                        _BPE_TRAIN_K,
                        bpe_train_merges,
                    )

                    corpus = self._corpus_table("documents")
                    merges, _seg = bpe_train_merges(corpus, _BPE_TRAIN_K)
                    # (ma, mb) consumed as the SEPARATE fields the trainer
                    # returns — never re-parsed from a joined display
                    # string, which mis-splits any symbol containing '+'
                    # (r13 advice).
                    self._bpe_merges = [(m[1], m[2]) for m in merges]
        return self._bpe_merges

    def _ensure_lm_state(self) -> tuple[DataFrame, int]:
        if self._lm_state is None:
            with self._lock:
                if self._lm_state is None:
                    from pkg2_spark.operators.text import tokenize

                    corpus = self._corpus_table("documents")
                    cnt = (
                        tokenize(corpus)
                        .groupBy("token")
                        .agg(F.count(F.lit(1)).alias("c"))
                        .transform(truncate_lineage)
                    )
                    self._lm_state = (cnt, cnt.agg(F.sum("c")).collect()[0][0])
        return self._lm_state

    def warmup(self) -> dict:
        """Train the corpus-derived serving state NOW (deploy-time), so no
        request ever pays a training job: the k-round BPE merge table and
        the unigram-LM token counts. Returns a summary for ops logs."""
        merges = self._ensure_bpe_merges()
        _cnt, ntot = self._ensure_lm_state()
        return {"bpe_merges": len(merges), "lm_total_tokens": int(ntot)}

    def save_artifacts(self, artifact_dir: str) -> None:
        """Persist the trained serving state as small, portable artifacts:
        the ordered merge table as parquet with SEPARATE (ma, mb) columns
        (the unambiguous form — a joined 'ma+mb' string cannot round-trip
        symbols containing '+'), the LM counts as parquet, and the LM
        total in a JSON sidecar. A later service instance constructed
        with ``artifact_dir`` boots from these with zero training jobs —
        it does not even need the corpus table registered."""
        import json as _json
        import os as _os

        merges = self._ensure_bpe_merges()
        cnt, ntot = self._ensure_lm_state()
        spark = self.engine.spark
        local_rows_df(
            spark,
            [(i + 1, ma, mb) for i, (ma, mb) in enumerate(merges)],
            "rnd int, ma string, mb string",
        ).write.mode("overwrite").parquet(
            _os.path.join(artifact_dir, "bpe_merges")
        )
        cnt.coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(artifact_dir, "lm_counts")
        )
        with open(_os.path.join(artifact_dir, "meta.json"), "w") as f:
            _json.dump(
                {"lm_total_tokens": int(ntot), "bpe_merges": len(merges)}, f
            )

    def load_artifacts(self, artifact_dir: str) -> None:
        import json as _json
        import os as _os

        spark = self.engine.spark
        merges = spark.read.parquet(
            _os.path.join(artifact_dir, "bpe_merges")
        ).orderBy("rnd").collect()
        self._bpe_merges = [(r["ma"], r["mb"]) for r in merges]
        with open(_os.path.join(artifact_dir, "meta.json")) as f:
            meta = _json.load(f)
        cnt = spark.read.parquet(_os.path.join(artifact_dir, "lm_counts"))
        self._lm_state = (cnt, int(meta["lm_total_tokens"]))

    def _ann_search(self, p: dict):
        """ANN top-k over the registered embeddings corpus for request
        probes (r12 verdict #6). The engine's recall audit runs on every
        request (fallback mode: a service degrades to the exact answer,
        never 500s on a weak index), and its outcome — served path,
        measured recall, the n_probe escalation ladder — is returned in
        the response envelope so callers can see WHAT they were served."""
        probes = p.get("probes")
        if not isinstance(probes, list) or not (1 <= len(probes) <= 64):
            raise ServiceError(
                "parameter 'probes' must be a list of 1..64 "
                "{probe_id, embedding} objects"
            )
        dim = None
        rows = []
        for i, pr in enumerate(probes):
            if not isinstance(pr, dict) or "probe_id" not in pr or "embedding" not in pr:
                raise ServiceError(
                    f"probes[{i}] must be an object with probe_id and embedding"
                )
            try:
                pid = int(pr["probe_id"])
            except (TypeError, ValueError):
                raise ServiceError(f"probes[{i}].probe_id must be an integer")
            emb = pr["embedding"]
            if not isinstance(emb, list) or not emb:
                raise ServiceError(f"probes[{i}].embedding must be a non-empty list")
            try:
                vec = [float(x) for x in emb]
            except (TypeError, ValueError):
                raise ServiceError(f"probes[{i}].embedding must contain numbers")
            if dim is None:
                dim = len(vec)
            elif len(vec) != dim:
                raise ServiceError(
                    f"probes[{i}].embedding has {len(vec)} dims, expected {dim}"
                )
            rows.append((pid, vec))
        if len({r[0] for r in rows}) != len(rows):
            raise ServiceError("probe_id values must be distinct")
        k = self._int_param(p, "k", 5, 1, 50)
        n_probe = self._int_param(p, "n_probe", self.engine.ann_n_probe, 1, 64)
        emb_table = self._corpus_table("embeddings")
        probe_df = local_rows_df(
            self.engine.spark, rows, "probe_id long, probe_embedding array<double>"
        )
        res = self.engine.ann_search(
            emb_table.select("vec_id", "embedding"),
            probes=probe_df,
            k=k,
            n_probe=n_probe,
            dim=dim,
        ).orderBy("probe_id", F.col("cos").desc(), "vec_id")
        return res, {
            "ann": {
                "path": self.engine.last_ann_path,
                "recall": self.engine.last_ann_recall,
                "min_recall": self.engine.ann_min_recall,
                "escalation": [
                    list(step) for step in self.engine.last_ann_escalation
                ],
                "k": k,
                "n_probe": n_probe,
            }
        }

    @staticmethod
    def _docs_param(p: dict) -> list[tuple[int, str]]:
        """Validated (doc_id, text) rows from a request's ``docs`` list —
        shared by quality_gate and bpe_encode."""
        docs = p.get("docs")
        if not isinstance(docs, list) or not (1 <= len(docs) <= 64):
            raise ServiceError(
                "parameter 'docs' must be a list of 1..64 {doc_id, text} objects"
            )
        rows = []
        for i, d in enumerate(docs):
            if not isinstance(d, dict) or "doc_id" not in d or "text" not in d:
                raise ServiceError(
                    f"docs[{i}] must be an object with doc_id and text"
                )
            try:
                did = int(d["doc_id"])
            except (TypeError, ValueError):
                raise ServiceError(f"docs[{i}].doc_id must be an integer")
            text = d["text"]
            if not isinstance(text, str) or not text:
                raise ServiceError(f"docs[{i}].text must be a non-empty string")
            if len(text) > 100_000:
                raise ServiceError(f"docs[{i}].text exceeds 100000 chars")
            rows.append((did, text))
        if len({r[0] for r in rows}) != len(rows):
            raise ServiceError("doc_id values must be distinct")
        return rows

    def _bpe_encode(self, p: dict) -> DataFrame:
        """Tokenize request docs under the CORPUS-TRAINED BPE merges —
        real tokenizer inference: the k=8 merge table is trained once per
        service instance on the registered documents corpus
        (queries.training.bpe_train_merges, memoized), then each
        request's distinct words are segmented to characters and the
        merge sequence replayed in training order (bpe_apply — the same
        greedy left-to-right rewrite, so corpus words encode exactly as
        q_llm_bpe_encode reports and OOV words fall back toward
        characters, merging only where trained pairs occur). Returns per
        doc the word/token/char counts and the chars-per-token
        compression (e3)."""
        from pkg2_spark.queries.training import bpe_apply

        rows = self._docs_param(p)
        spark = self.engine.spark
        merges = self._ensure_bpe_merges()
        req = local_rows_df(spark, rows, "doc_id long, text string")
        toks = req.select(
            "doc_id",
            F.explode(
                F.expr("filter(split(lower(text), ' '), x -> x != '')")
            ).alias("w"),
        )
        seg = (
            toks.select("w")
            .distinct()
            .select("w", F.lit(1).alias("freq"), F.expr("split(w, '(?!$)')").alias("syms"))
            .withColumn("n", F.size("syms"))
        )
        for ma, mb in merges:
            seg = bpe_apply(seg, ma, mb)
        return (
            toks.join(seg.select("w", F.col("n").alias("n_bpe")), "w")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
                F.sum(F.length("w")).cast("long").alias("n_word_chars"),
            )
            .select(
                "doc_id",
                "n_words",
                "n_bpe_tokens",
                "n_word_chars",
                F.expr("CAST(n_word_chars * 1000 DIV n_bpe_tokens AS BIGINT)")
                .alias("compress_e3"),
            )
            .orderBy("doc_id")
        )

    def _quality_gate(self, p: dict) -> DataFrame:
        """Per-document quality-gate verdicts for request docs, judged by
        the SAME predicates and constants as the corpus funnel
        (queries.llm.q_llm_filter_funnel): token-count band, alpha ratio,
        char-entropy band, and the unigram-LM surprisal band scored
        against the REGISTERED corpus's token counts (memoized per
        service instance; out-of-vocabulary tokens take the max-surprisal
        c=1 convention). A doc passes the gate only if every stage
        passes — the response shows each stage verdict so callers see
        which gate killed a rejected doc."""
        from pkg2_spark.queries.llm import (
            _ENT_HI_MILLI,
            _ENT_LO_MILLI,
            _LM_HEAD_MILLI,
            _LM_TAIL_MILLI,
        )

        rows = self._docs_param(p)
        spark = self.engine.spark
        req = local_rows_df(spark, rows, "doc_id long, text string")
        cnt, ntot = self._ensure_lm_state()

        toks = req.select("doc_id", F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x != '')")
        ).alias("token"))
        base = req.select(
            "doc_id",
            F.expr("size(filter(split(lower(text), ' '), x -> x != ''))")
            .cast("long").alias("n_tokens"),
            (
                F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
                / F.length("text")
            ).alias("alpha_ratio"),
        )
        ch = req.select(
            "doc_id",
            F.explode(
                F.expr("split(replace(lower(text), ' ', ''), '(?!$)')")
            ).alias("c"),
        ).filter(F.col("c") != "")
        ccnt = ch.groupBy("doc_id", "c").agg(
            F.count(F.lit(1)).cast("long").alias("k")
        )
        ctot = ccnt.groupBy("doc_id").agg(F.sum("k").cast("long").alias("n"))
        ent = (
            ccnt.join(ctot, "doc_id")
            .groupBy("doc_id")
            .agg(
                F.expr("(1000 * sum(k * length(bin(n div k)))) div max(n)")
                .alias("entropy_milli"),
            )
        )
        lm = (
            toks.join(F.broadcast(cnt), "token", "left")
            .select(
                "doc_id",
                F.expr(
                    f"length(bin({int(ntot)} div coalesce(c, 1)))"
                ).alias("s"),
            )
            .groupBy("doc_id")
            .agg(F.expr("(1000 * sum(s)) div count(1)").alias("lm_milli"))
        )
        g1 = F.col("n_tokens").between(5, 1000)
        g2 = F.col("alpha_ratio") > 0.5
        g3 = F.col("entropy_milli").between(_ENT_LO_MILLI, _ENT_HI_MILLI)
        g4 = F.col("lm_milli").between(_LM_HEAD_MILLI, _LM_TAIL_MILLI)
        return (
            base.join(ent, "doc_id", "left")
            .join(lm, "doc_id", "left")
            .select(
                "doc_id",
                "n_tokens",
                F.round("alpha_ratio", 4).alias("alpha_ratio"),
                "entropy_milli",
                "lm_milli",
                g1.alias("pass_length"),
                g2.alias("pass_alpha"),
                g3.alias("pass_entropy"),
                g4.alias("pass_lm"),
                (g1 & g2 & F.coalesce(g3, F.lit(False))
                 & F.coalesce(g4, F.lit(False))).alias("kept"),
            )
            .orderBy("doc_id")
        )


# The browsable UI pkg2 shipped over its query service [SURVEY.md §1.1,
# Tier C] — one dependency-free static page over the JSON endpoints: an
# endpoint picker + parameter box and a result grid. Served at GET / (and
# /ui) by make_http_server; everything it does goes through the same
# handle() dispatch the programmatic clients use, so it adds NO new
# attack surface beyond rendering (results are inserted with
# textContent, never innerHTML, so row values can't inject markup).
UI_PAGE = """<!doctype html>
<html><head><meta charset="utf-8"><title>pkg2_spark query service</title>
<style>
 body{font-family:system-ui,sans-serif;margin:2rem;max-width:72rem}
 h1{font-size:1.2rem} form{margin:.8rem 0;display:flex;gap:.5rem;flex-wrap:wrap}
 input,select,button{font:inherit;padding:.3rem .5rem}
 input#param{flex:1;min-width:16rem}
 table{border-collapse:collapse;margin-top:1rem;font-size:.9rem}
 th,td{border:1px solid #ccc;padding:.25rem .6rem;text-align:left}
 th{background:#f2f2f2} #status{color:#666;margin-left:.5rem}
 #error{color:#b00020;white-space:pre-wrap}
</style></head><body>
<h1>pkg2_spark query service</h1>
<form id="f">
 <select id="endpoint"></select>
 <input id="param" placeholder="parameter (see placeholder per endpoint)">
 <button type="submit">Run</button><span id="status"></span>
</form>
<div id="error"></div>
<table id="grid" hidden><thead></thead><tbody></tbody></table>
<script>
"use strict";
// endpoint -> [param name, placeholder]; latest takes no parameter.
const PARAMS = {
  search: ["pattern", "SQL LIKE pattern, e.g. lib%"],
  whatprovides: ["capability", "e.g. so:libssl.so.3"],
  whatdepends: ["package", "package name"],
  resolve: ["package", "package name"],
  resolve_constrained: ["package", "package name"],
  latest: [null, "(no parameter)"],
  table: ["name", "registered table name"],
  sql: ["query", "SELECT-only SQL"],
};
const sel = document.getElementById("endpoint"),
      inp = document.getElementById("param"),
      status = document.getElementById("status"),
      err = document.getElementById("error"),
      grid = document.getElementById("grid");
fetch("endpoints").then(r => r.json()).then(d => {
  for (const e of d.endpoints) {
    const o = document.createElement("option");
    o.value = o.textContent = e;
    sel.appendChild(o);
  }
  hint();
});
function hint() {
  const p = PARAMS[sel.value] || ["param", ""];
  inp.placeholder = p[1];
  inp.disabled = p[0] === null;
}
sel.addEventListener("change", hint);
document.getElementById("f").addEventListener("submit", async ev => {
  ev.preventDefault();
  err.textContent = ""; grid.hidden = true; status.textContent = "running…";
  const p = PARAMS[sel.value] || ["param", ""];
  const q = p[0] === null ? "" :
    "?" + encodeURIComponent(p[0]) + "=" + encodeURIComponent(inp.value);
  try {
    const resp = await fetch(sel.value + q);
    const data = await resp.json();
    if (!resp.ok) { err.textContent = data.error || resp.statusText; status.textContent = ""; return; }
    const thead = grid.querySelector("thead"), tbody = grid.querySelector("tbody");
    thead.textContent = ""; tbody.textContent = "";
    const hr = document.createElement("tr");
    for (const c of data.columns) {
      const th = document.createElement("th"); th.textContent = c; hr.appendChild(th);
    }
    thead.appendChild(hr);
    for (const row of data.rows) {
      const tr = document.createElement("tr");
      for (const c of data.columns) {
        const td = document.createElement("td");
        const v = row[c];
        td.textContent = v === null ? "" : (typeof v === "object" ? JSON.stringify(v) : String(v));
        tr.appendChild(td);
      }
      tbody.appendChild(tr);
    }
    grid.hidden = false;
    status.textContent = data.row_count + " row(s)" + (data.truncated ? " (truncated)" : "");
  } catch (e) { err.textContent = String(e); status.textContent = ""; }
});
</script></body></html>
"""


def make_http_server(service: QueryService, host: str = "127.0.0.1", port: int = 0):
    """Wire :class:`QueryService` to the stdlib HTTP stack — the transport
    layer pkg2's web UI sat on, kept deliberately trivial (the r6 VERDICT
    note: transport is the easy part; handle() is the surface).

    Routes: ``GET /`` (and ``/ui``) serves the browsable UI page
    (UI_PAGE); ``GET /endpoints`` lists endpoints; ``GET /<endpoint>?k=v``
    and ``POST /<endpoint>`` (JSON body) dispatch to ``handle``. Errors
    map to HTTP semantics: ServiceError -> 400 with a JSON error body,
    anything else -> 500 (details logged server-side only — internals
    never leak to the client). Returns an UNSTARTED ThreadingHTTPServer
    bound to (host, port); call ``serve_forever()`` (typically on a
    thread) and ``shutdown()`` to stop. port=0 binds an ephemeral port
    (``server.server_address[1]`` reads it back).

    The service stays SELECT-only unless the embedder opted into
    ``allow_unsafe_sql`` — never expose an unsafe service on a real
    network interface."""
    import json as _json
    import traceback
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qsl, urlparse

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet by default
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = _json.dumps(payload).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _dispatch(self, endpoint: str, params: dict) -> None:
            if endpoint == "endpoints":
                self._reply(200, {"endpoints": service.endpoints()})
                return
            try:
                self._reply(200, service.handle(endpoint, params))
            except ServiceError as exc:
                self._reply(400, {"error": str(exc)})
            except Exception:
                traceback.print_exc()
                self._reply(500, {"error": "internal error"})

        def do_GET(self):  # noqa: N802 (stdlib naming)
            u = urlparse(self.path)
            path = u.path.strip("/")
            if path in ("", "ui"):
                body = UI_PAGE.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            self._dispatch(path, dict(parse_qsl(u.query)))

        def do_POST(self):  # noqa: N802
            u = urlparse(self.path)
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b"{}"
            try:
                params = _json.loads(raw or b"{}")
                if not isinstance(params, dict):
                    raise ValueError("body must be a JSON object")
            except ValueError as exc:
                self._reply(400, {"error": f"bad JSON body: {exc}"})
                return
            self._dispatch(u.path.strip("/"), params)

    return ThreadingHTTPServer((host, port), Handler)


def demo_requests() -> list[tuple[str, dict]]:
    """The request set the service smoke test replays (tests/test_service.py)."""
    return [
        ("search", {"pattern": "lib%"}),
        ("whatprovides", {"capability": "so:libssl.so.3"}),
        ("whatdepends", {"package": "musl"}),
        ("resolve", {"package": "python3.11"}),
        ("latest", {}),
        ("sql", {"query": "SELECT count(*) AS n FROM packages"}),
    ]
