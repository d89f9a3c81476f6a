"""Command-line entry point — the one-shot user surface of the engine
(pkg2's operational analog: point it at an index, ask a question, get a
table back; or start the HTTP service the web UI talks to).

    python -m pkg2_spark search 'lib%' --index pkg2_spark/data/apkindex_sample.txt
    python -m pkg2_spark resolve musl --index ... --format apkindex
    python -m pkg2_spark sql 'SELECT count(*) AS n FROM packages' --index ...
    python -m pkg2_spark serve --index ... --port 8080
    python -m pkg2_spark query q_llm_bm25 --sf-dir /root/testdata/sf0.001
    python -m pkg2_spark queries

Every package endpoint goes through :class:`QueryService.handle` — the CLI
adds NO dispatch or validation logic of its own, so a request behaves
identically over the CLI, the HTTP transport, and the programmatic API
(same validators, same row bounding, same error envelope). Output is a
fixed-width table on a tty-ish default or one JSON object with ``--json``
(machine-stable: the service envelope verbatim).
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any, Sequence

_INGEST_FORMATS = ("apkindex", "debian_packages", "archdesc", "rpm_primary",
                   "index_cache", "collection")

# endpoint -> (positional parameter name, optional flag parameters)
_ENDPOINT_PARAMS: dict[str, tuple[str | None, tuple[str, ...]]] = {
    "search": ("pattern", ("arch",)),
    "whatprovides": ("capability", ()),
    "whatdepends": ("package", ()),
    "resolve": ("package", ("max_depth",)),
    "resolve_constrained": ("package", ("max_depth",)),
    "latest": (None, ("name",)),
    "sql": ("query", ()),
    "table": ("name", ()),
}


def _render_table(columns: list[str], rows: list[dict[str, Any]]) -> str:
    cells = [[("" if r.get(c) is None else str(r.get(c))) for c in columns] for r in rows]
    widths = [max(len(c), *(len(row[i]) for row in cells)) if cells else len(c)
              for i, c in enumerate(columns)]
    def line(vals: Sequence[str]) -> str:
        return "  ".join(v.ljust(w) for v, w in zip(vals, widths)).rstrip()
    out = [line(columns), line(["-" * w for w in widths])]
    out.extend(line(row) for row in cells)
    return "\n".join(out)


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="pkg2_spark", description=__doc__.split("\n\n")[0],
    )
    ap.add_argument("--json", action="store_true", help="emit the raw service envelope")
    sub = ap.add_subparsers(dest="command", required=True)

    def add_index_args(p: argparse.ArgumentParser) -> None:
        p.add_argument("--index", required=True, help="path to a package index file")
        p.add_argument("--format", default="apkindex", choices=_INGEST_FORMATS)
        p.add_argument("--max-rows", type=int, default=50)

    for ep, (pos, flags) in _ENDPOINT_PARAMS.items():
        p = sub.add_parser(ep, help=f"service endpoint {ep!r}")
        if pos:
            p.add_argument(pos)
        for fl in flags:
            p.add_argument(f"--{fl}")
        add_index_args(p)

    p = sub.add_parser("serve", help="start the HTTP service + web UI")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=0)
    add_index_args(p)

    p = sub.add_parser("query", help="run a registered analytics query")
    p.add_argument("name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--max-rows", type=int, default=50)

    sub.add_parser("queries", help="list registered analytics queries")
    return ap


def _ingest(engine, fmt: str, path: str) -> None:
    fns = {
        "apkindex": engine.ingest_apkindex,
        "debian_packages": engine.ingest_debian_packages,
        "archdesc": engine.ingest_archdesc,
        "rpm_primary": engine.ingest_rpm_primary,
        "index_cache": engine.ingest_index_cache,
        "collection": engine.ingest_collection,
    }
    fns[fmt](path)


def main(argv: Sequence[str] | None = None, engine=None, out=None) -> int:
    """Dispatch one CLI invocation. ``engine``/``out`` are injectable so
    tests reuse one SparkSession and capture output without subprocesses."""
    args = _build_parser().parse_args(argv)
    out = out if out is not None else sys.stdout

    if args.command == "queries":
        from pkg2_spark.registry import all_queries

        for name in sorted(all_queries()):
            print(name, file=out)
        return 0

    if args.command == "query":
        from pkg2_spark.registry import all_queries
        from pkg2_spark.session import get_session

        qs = all_queries()
        if args.name not in qs:
            print(f"unknown query {args.name!r}; see `queries`", file=sys.stderr)
            return 2
        spark = engine.spark if engine is not None else get_session()
        df = qs[args.name](spark, args.sf_dir)
        rows = [r.asDict(recursive=True) for r in df.limit(args.max_rows).collect()]
        if args.json:
            print(json.dumps({"query": args.name, "columns": df.columns,
                              "rows": rows, "row_count": len(rows)},
                             default=str), file=out)
        else:
            print(_render_table(df.columns, rows), file=out)
        return 0

    # Package-service commands share the ingest + QueryService path.
    from pkg2_spark.engine import Engine
    from pkg2_spark.service import QueryService, ServiceError, make_http_server

    eng = engine if engine is not None else Engine()
    # Ingest failures (missing path, unparseable index) get the same
    # one-line exit-2 envelope as ServiceError — a CLI user should never
    # see a raw Spark traceback for a bad --index argument.
    try:
        _ingest(eng, args.format, args.index)
    except Exception as exc:  # noqa: BLE001 — boundary: any ingest failure
        msg = str(exc).strip().splitlines()[0] if str(exc).strip() else type(exc).__name__
        print(f"error: ingest failed: {msg}", file=sys.stderr)
        return 2

    if args.command == "serve":
        svc = QueryService(eng, max_rows=args.max_rows)
        server = make_http_server(svc, host=args.host, port=args.port)
        print(f"serving on http://{args.host}:{server.server_address[1]}/ui",
              file=out, flush=True)
        try:
            server.serve_forever()
        except KeyboardInterrupt:  # Ctrl-C is the normal way to stop
            pass
        finally:
            server.server_close()
        return 0

    pos, flags = _ENDPOINT_PARAMS[args.command]
    params: dict[str, Any] = {}
    if pos:
        params[pos] = getattr(args, pos)
    for fl in flags:
        v = getattr(args, fl, None)
        if v is not None:
            params[fl] = v
    svc = QueryService(eng, max_rows=args.max_rows)
    try:
        envelope = svc.handle(args.command, params)
    except ServiceError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    if args.json:
        print(json.dumps(envelope, default=str), file=out)
    else:
        print(_render_table(envelope["columns"], envelope["rows"]), file=out)
        if envelope["truncated"]:
            print(f"... truncated at {args.max_rows} rows", file=out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
